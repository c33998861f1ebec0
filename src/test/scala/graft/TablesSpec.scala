package graft

import graft.sources.Tables

/** Catalog sinks (SURVEY S3, the staged publish and its crash
  * recovery) against the session catalog with a temp warehouse dir.
  */
class TablesSpec extends SparkSpec {

  test("append/overwrite sinks have to_sql append/replace semantics") {
    import sqlImplicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Tables.overwriteTable(df, "graft_test_db.t1")
    assert(spark.table("graft_test_db.t1").count() == 2)
    df.write.mode("append").format("parquet").saveAsTable("graft_test_db.t1")
    assert(spark.table("graft_test_db.t1").count() == 4) // append accumulates
    Tables.overwriteTable(df, "graft_test_db.t1")
    assert(spark.table("graft_test_db.t1").count() == 2) // replace resets
  }

  test("stagedOverwrite publishes by rename; the drop-to-rename crash window heals") {
    import sqlImplicits._
    val tbl = "graft_staged_t"
    Seq(tbl, tbl + "__staging").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Tables.overwriteTable((1 to 10).toDF("v"), tbl)
    // overwrite with a plan that READS the table — the self-read case
    // the staging table exists for; the publish must be the rename
    // path (no staging left behind, content exact)
    Tables.stagedOverwrite(spark.table(tbl).withColumn("v", org.apache.spark.sql.functions.col("v") * 2), tbl)
    assert(spark.table(tbl).collect().map(_.getInt(0)).sorted.toSeq == (1 to 10).map(_ * 2))
    assert(!spark.catalog.tableExists(tbl + "__staging"), "staging must be renamed away")
    // crash window: target dropped, staging holds the complete result —
    // recoverStaged must republish it (also by rename) exactly once
    Tables.overwriteTable((1 to 5).toDF("v"), tbl + "__staging")
    spark.sql(s"DROP TABLE $tbl")
    assert(Tables.recoverStaged(spark, tbl), "orphaned staging must be healed")
    assert(spark.table(tbl).collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
    assert(!spark.catalog.tableExists(tbl + "__staging"))
    assert(!Tables.recoverStaged(spark, tbl), "nothing left to heal")
    Seq(tbl, tbl + "__staging").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ANALYZE TABLE populates catalog statistics (row count + column min/max/ndv)") {
    import sqlImplicits._
    val tbl = "graft_stats_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Tables.overwriteTable((1 to 1000).map(i => (i, s"v$i")).toDF("k", "s"), tbl)
    spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(tbl))
    val st = meta.stats.get
    assert(st.rowCount.contains(BigInt(1000)), st.toString)
    val kStats = st.colStats("k")
    assert(kStats.min.contains(1) || kStats.min.map(_.toString).contains("1"), kStats.toString)
    assert(kStats.max.map(_.toString).contains("1000"), kStats.toString)
    assert(kStats.distinctCount.exists(_.toInt > 900), kStats.toString)
  }

  test("every catalog sink notifies write listeners — the invariant is structural, not per-sink convention") {
    import sqlImplicits._
    // JVM-level caches over catalog state (the fold path's
    // compaction-marker negative cache) rely on "any in-JVM catalog
    // write of X notifies for X" holding for EVERY sink in this
    // object, including the crash-recovery rename. Registration is
    // permanent by design; the listener filters on this test's table
    // prefix so it stays inert for the rest of the session.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Tables.registerWriteListener((_, t) => if (t.startsWith("tl_notify_")) seen.add(t))
    def fired(t: String): Boolean = seen.contains(t)
    val df = Seq((1L, "a")).toDF("k", "v")
    def cleanup(): Unit = Seq("ow", "st", "stp", "rec")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS tl_notify_$s"))
    cleanup()
    try {
      Tables.overwriteTable(df, "tl_notify_ow")
      Tables.stagedOverwrite(df, "tl_notify_st")
      // the partition-preserving staging path writes outside overwriteTable
      Tables.stagedOverwrite(df, "tl_notify_stp", Seq("v"))
      // crash-recovery rename materializes the table — must notify too
      Tables.overwriteTable(df, "tl_notify_rec__staging")
      spark.sql("DROP TABLE IF EXISTS tl_notify_rec")
      seen.remove("tl_notify_rec") // ignore any earlier notification
      assert(Tables.recoverStaged(spark, "tl_notify_rec"))
      val expected = Seq("ow", "st", "stp__staging", "stp", "rec")
        .map(s => s"tl_notify_$s")
      val missing = expected.filterNot(fired)
      assert(missing.isEmpty, s"sinks that bypassed the write listener: $missing")
    } finally cleanup()
  }

  test("dropManaged under a non-default current database deletes the right directory") {
    import sqlImplicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_dm_db")
    val clone = spark.newSession()
    clone.catalog.setCurrentDatabase("graft_dm_db")
    spark.sql("DROP TABLE IF EXISTS default.graft_dm_t")
    spark.sql("DROP TABLE IF EXISTS graft_dm_db.graft_dm_t")
    Tables.overwriteTable(Seq((1, "default")).toDF("k", "src"), "default.graft_dm_t")
    // write via the CLONE's current database — unqualified name
    locally {
      val df = { import clone.implicits._; Seq((2, "dbqualified")).toDF("k", "src") }
      Tables.overwriteTable(df, "graft_dm_t")
    }
    // the name-convention location resolved unqualified names against
    // the DEFAULT database: this would have deleted default.graft_dm_t's
    // directory while leaving graft_dm_db's to collide on recreate
    Tables.dropManaged(clone, "graft_dm_t")
    assert(!clone.catalog.tableExists("graft_dm_t"))
    assert(spark.table("default.graft_dm_t").head().getString(1) == "default",
      "dropManaged must not touch the unrelated default-db table's data")
    // the dropped table's directory really is gone: recreate succeeds
    locally {
      val df = { import clone.implicits._; Seq((3, "recreated")).toDF("k", "src") }
      Tables.overwriteTable(df, "graft_dm_t")
    }
    assert(spark.table("graft_dm_db.graft_dm_t").head().getString(1) == "recreated")
    spark.sql("DROP TABLE IF EXISTS default.graft_dm_t")
    spark.sql("DROP TABLE IF EXISTS graft_dm_db.graft_dm_t")
  }
}
