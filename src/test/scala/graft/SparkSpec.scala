package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — the engine's session
  * settings ([[GraftSession]]) on 4 threads, plus a temp warehouse.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
