package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** IO layer (SURVEY §7.1 item 2): the catalog sinks — the
  * engine-native replacement for the reference's `to_sql` over
  * psycopg2 (SURVEY §2.1 / §2.8). The CSV source is
  * `CityBike.readRides` and the parquet source is `CoreQueries.t`.
  */
object Tables {

  // Observers notified after ANY catalog-table sink in this object
  // lands (the overwrite, the staged publish and its crash recovery)
  // — the hook JVM-level caches over catalog state need to stay
  // sound: a memoized "table X does not exist" (e.g. the fold path's
  // compaction-marker negative cache) must be invalidated when THIS
  // JVM writes X through the generic sinks, STRUCTURALLY, not by
  // convention on whichever sink today's marker writers happen to use.
  // Registration is idempotent by construction (object initializers
  // run once); listeners must be cheap and non-throwing.
  private val writeListeners =
    new java.util.concurrent.CopyOnWriteArrayList[(SparkSession, String) => Unit]()

  def registerWriteListener(f: (SparkSession, String) => Unit): Unit =
    writeListeners.add(f)

  private def notifyWrite(spark: SparkSession, table: String): Unit = {
    val it = writeListeners.iterator()
    while (it.hasNext) it.next()(spark, table)
  }

  /** S3: overwrite sink — `to_sql(..., if_exists='replace')`
    * (check_and_create_db_v4.py:295). Spark's overwrite drops and
    * recreates the table — same DDL-loss caveat, here harmless.
    */
  def overwriteTable(df: DataFrame, table: String): Unit = {
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
    notifyWrite(df.sparkSession, table)
  }

  /** Overwrite `table` with a plan that (possibly) READS `table`:
    * materialize to a staging table first, then publish by RENAME — a
    * direct overwrite would drop the table out from under its own
    * scan. The staging table is the crash-recovery artifact: the
    * publish is drop-then-rename (parquet has no atomic swap), so a
    * crash there loses `table` while `<table>__staging` still holds
    * the complete result — [[recoverStaged]] restores it on the next
    * run.
    */
  def stagedOverwrite(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val staging = table + "__staging"
    if (partitionCols.isEmpty) overwriteTable(df, staging)
    else {
      // partition-preserving staging (x196 re-lays a bucketed fold
      // state through it): a flat staging write would silently erase
      // the layout partition pruning depends on
      df.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(partitionCols: _*).saveAsTable(staging)
      notifyWrite(spark, staging)
    }
    // Metadata-only publish: RENAME the staged table onto the target
    // instead of re-writing its data — a staged overwrite otherwise
    // writes every byte TWICE, which at warehouse scale doubles the
    // I/O of every fold.
    // Crash window unchanged: between the DROP and the RENAME the
    // target is missing while `__staging` holds the complete result —
    // exactly the state [[recoverStaged]] heals.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    // the RENAME moves the data directory but a PARTITIONED table's
    // partition metadata still points at the staging paths — recover
    // it from the moved directory layout (metadata-only)
    if (partitionCols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table")
    spark.catalog.refreshTable(table)
    // the overwriteTable above notified for `__staging`; the content
    // LANDS under `table` via the rename — notify for that name too,
    // so listener invariants ("any in-JVM write of X invalidates
    // caches over X") hold structurally for the published name
    notifyWrite(spark, table)
  }

  /** Crash recovery for [[stagedOverwrite]]: if `table` is missing but
    * its staging table survives, the previous run died between the
    * staging write and the final copy — the staging table IS the
    * intended content; restore it. Returns true if a recovery ran.
    */
  def recoverStaged(spark: SparkSession, table: String): Boolean = {
    val staging = table + "__staging"
    val needed = !spark.catalog.tableExists(table) && spark.catalog.tableExists(staging)
    if (needed) {
      // the staged table IS the complete result — publish by rename
      // (metadata-only), same as the stagedOverwrite happy path
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      // a PARTITIONED staging's partition metadata still points at the
      // pre-rename paths — re-derive it from the moved directory
      // layout, exactly as the happy path does
      if (spark.sessionState.catalog
          .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
          .partitionColumnNames.nonEmpty)
        spark.sql(s"MSCK REPAIR TABLE $table")
      spark.catalog.refreshTable(table)
      // a recovery MATERIALIZES `table` — notify like any other sink
      // so the listener invariant covers the crash path too
      notifyWrite(spark, table)
    }
    needed
  }

  /** Drop a managed table AND its on-disk location. An ephemeral
    * catalog (fresh derby/in-memory metastore per run) forgets tables
    * while their warehouse directories survive — the next CREATE under
    * the same name then fails with LOCATION_ALREADY_EXISTS even though
    * `DROP TABLE IF EXISTS` reported nothing to drop. State-table
    * consumers that must be re-runnable across sessions reset through
    * this.
    */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    // When the catalog still knows the table, its recorded location is
    // authoritative — the naming convention below resolves unqualified
    // names against the DEFAULT database, so under `USE somedb` it
    // would delete the directory of the UNRELATED default-db table of
    // the same name while leaving the real one to collide on the next
    // CREATE.
    val known: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(table))
        Some(new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(table)).location))
      else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = known.getOrElse {
      // catalog already forgot the table (the ephemeral-metastore case
      // this method exists for): fall back to the managed layout —
      // <warehouse>/<table> for the default database,
      // <warehouse>/<db>.db/<table> for a named one — resolving an
      // unqualified name against the session's CURRENT database.
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val rel = table.toLowerCase(java.util.Locale.ROOT).split('.') match {
        case Array(t) =>
          val db = spark.catalog.currentDatabase.toLowerCase(java.util.Locale.ROOT)
          if (db == "default") t else s"$db.db/$t"
        case Array(db, t) => s"$db.db/$t"
        case parts => throw new IllegalArgumentException(
          s"dropManaged: cannot resolve location for '$table' (${parts.length} name parts)")
      }
      new org.apache.hadoop.fs.Path(wh, rel)
    }
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}
