package graft

import org.scalatest.funsuite.AnyFunSuite

/** Teardown after a stopped session: `CityBike.clearMemo()` and
  * `OpCache.clear()` must empty their state even when the context that
  * persisted the frames is gone. Runs in a child JVM, because stopping
  * the shared test session would break every other suite.
  */
class TeardownSpec extends AnyFunSuite {

  test("clearMemo and OpCache.clear succeed after spark.stop()") {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    // build.sbt's --add-opens list, as this forked JVM received it
    // (either as `--add-opens=pkg` or as `--add-opens pkg`)
    val opens = jvmArgs.zipAll(jvmArgs.drop(1), "", "").collect {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", pkg) => Seq("--add-opens", pkg)
    }.flatten
    assert(opens.nonEmpty, s"no --add-opens among the test JVM's arguments: $jvmArgs")
    val dir = java.nio.file.Files.createTempDirectory("graft-teardown")
    val log = dir.resolve("probe.log").toFile
    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.TeardownProbe",
        dir.resolve("warehouse").toString)
    val proc = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
      .redirectErrorStream(true).redirectOutput(log).start()
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(30).mkString("\n")
    assert(finished, s"probe did not finish in 300 s:\n$tail")
    assert(proc.exitValue() == 0, s"probe exited ${proc.exitValue()}:\n$tail")
  }
}

/** Child-JVM probe for [[TeardownSpec]]: build a warehouse and one
  * OpCache entry of each kind it holds (a cached frame, an input-keyed
  * build, a bloom broadcast), stop the session, then run both
  * teardowns. Exits 0 only if both return normally.
  */
object TeardownProbe {
  def main(args: Array[String]): Unit = {
    val code =
      try {
        val spark = GraftSession.builder(2).appName("graft-teardown-probe")
          .config("spark.sql.warehouse.dir", args(0)).getOrCreate()
        graft.etl.CityBike.build(spark).memberDim.count()
        graft.operators.OpCache.cached(spark.range(10).toDF()).count()
        graft.operators.OpCache.byInput(Seq("teardown.probe"), spark.range(10).toDF())(
          spark.range(5).toDF()).count()
        graft.operators.Dedup.bloomSemiJoin(
          spark.range(100).toDF("id"), spark.range(10).toDF("id"), "id", 10L).count()
        spark.stop()
        graft.etl.CityBike.clearMemo()
        graft.operators.OpCache.clear()
        0
      } catch {
        case t: Throwable => t.printStackTrace(); 1
      }
    sys.exit(code)
  }
}
