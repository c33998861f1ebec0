package graft

import org.apache.spark.sql.SparkSession

/** The engine's session settings, in one place: `local[cpus]` with as
  * many shuffle partitions, UTC, ANSI off, the graft planner
  * extensions, parquet TIMESTAMP(NANOS) read as long (the `events`
  * fixture), and no UI. A bare `SparkSession.builder()` can neither
  * read `events.parquet` nor divide by zero without throwing.
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
