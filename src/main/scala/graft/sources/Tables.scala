package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** IO layer (SURVEY §7.1 item 2): the catalog sinks — the
  * engine-native replacement for the reference's `to_sql` over
  * psycopg2 (SURVEY §2.1 / §2.8). The CSV source is
  * `CityBike.readRides` and the parquet source is `CoreQueries.t`.
  */
object Tables {

  /** Side-effecting publish steps ([[step]]) left before an injected
    * crash. Unbounded by default; a test sets it for one scope
    * (`stepsLeft.withValue(n)`) to let n steps run and throw
    * [[InjectedCrash]] before the next one, as a process dying there
    * would stop.
    */
  private[graft] val stepsLeft = new scala.util.DynamicVariable[Int](Int.MaxValue)

  private[graft] final class InjectedCrash(what: String)
      extends RuntimeException(s"injected crash before $what")

  /** Marks one side-effecting step of a publish path (a data write,
    * DDL, rename or delete): where a test injects a crash, it throws
    * here instead of letting the step run.
    */
  private[graft] def step(what: String): Unit = stepsLeft.value match {
    case Int.MaxValue =>
    case 0 => throw new InjectedCrash(what)
    case n => stepsLeft.value = n - 1
  }

  /** S3: overwrite sink — `to_sql(..., if_exists='replace')`
    * (check_and_create_db_v4.py:295). Spark's overwrite drops and
    * recreates the table — same DDL-loss caveat, here harmless.
    */
  def overwriteTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)

  /** Overwrite `table` with a plan that (possibly) READS `table`:
    * materialize to a staging table first, then publish by RENAME — a
    * direct overwrite would drop the table out from under its own
    * scan, and a rename writes no byte twice. The staging table is the
    * crash-recovery artifact: the publish is drop-then-rename (parquet
    * has no atomic swap), so a crash there loses `table` while
    * `<table>__staging` still holds the complete result —
    * [[recoverStaged]] restores it on the next run.
    */
  def stagedOverwrite(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val staging = table + "__staging"
    step("staging write")
    overwriteTable(df, staging)
    step("drop")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    step("rename")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.catalog.refreshTable(table)
  }

  /** Crash recovery for [[stagedOverwrite]]: if `table` is missing but
    * its staging table survives, the previous run died between the
    * DROP and the RENAME — the staging table IS the intended content;
    * restore it by the same rename. Returns true if a recovery ran.
    */
  def recoverStaged(spark: SparkSession, table: String): Boolean = {
    val staging = table + "__staging"
    val needed = !spark.catalog.tableExists(table) && spark.catalog.tableExists(staging)
    if (needed) {
      step("recovery rename")
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      spark.catalog.refreshTable(table)
    }
    needed
  }

  /** The managed location of `table`: <warehouse>/<table> in the
    * default database, <warehouse>/<db>.db/<table> in a named one, an
    * unqualified name resolved against the session's CURRENT database.
    * Where the catalog knows nothing of the name — a table the
    * catalog forgot, or a directory-only store such as the CDC
    * snapshot — this is where its data lives.
    */
  private[graft] def managedPath(spark: SparkSession, table: String): Path = {
    val rel = table.toLowerCase(java.util.Locale.ROOT).split('.') match {
      case Array(t) =>
        val db = spark.catalog.currentDatabase.toLowerCase(java.util.Locale.ROOT)
        if (db == "default") t else s"$db.db/$t"
      case Array(db, t) => s"$db.db/$t"
      case parts => throw new IllegalArgumentException(
        s"managedPath: cannot resolve location for '$table' (${parts.length} name parts)")
    }
    new Path(spark.conf.get("spark.sql.warehouse.dir"), rel)
  }

  /** Drop a managed table AND its on-disk location, with its
    * [[stagedOverwrite]] staging twin. An ephemeral catalog (fresh
    * derby/in-memory metastore per run) forgets tables while their
    * warehouse directories survive — the next CREATE under the same
    * name then fails with LOCATION_ALREADY_EXISTS even though
    * `DROP TABLE IF EXISTS` reported nothing to drop. State consumers
    * that must be re-runnable across sessions reset through this.
    */
  def dropManaged(spark: SparkSession, table: String): Unit =
    Seq(table, table + "__staging").foreach { t =>
      // When the catalog still knows the table, its recorded location
      // is authoritative (a table created elsewhere, or under another
      // current database than this session's).
      val p =
        if (!spark.catalog.tableExists(t)) managedPath(spark, t)
        else {
          val loc = new Path(spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(t)).location)
          spark.sql(s"DROP TABLE $t")
          loc
        }
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
}
