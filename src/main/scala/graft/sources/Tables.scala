package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** IO layer (SURVEY §7.1 item 2): sources, sinks, catalog bootstrap —
  * the engine-native replacements for the reference's pandas/psycopg2
  * plumbing (SURVEY §2.1 / §2.8). The CSV source is
  * `CityBike.readRides` and the parquet source is `CoreQueries.t`.
  */
object Tables {

  /** JSON-lines source with an explicit schema (never inference — a
    * schema-inference pass reads the whole input twice and locks in
    * whatever types the first sample happened to contain). Corrupt
    * lines land in `_corrupt_record` when the schema declares it,
    * PERMISSIVE-null otherwise — same malformed-row contract as the
    * CSV source.
    */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink — the interchange format of training-data
    * pipelines (one document per line, splittable when uncompressed,
    * schema-on-read for downstream consumers).
    */
  def writeJsonLines(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** ORC source/sink — the second columnar interchange format (Hive
    * ecosystems standardize on it); same pushdown/pruning behavior as
    * parquet through the datasource V2 scan, so queries are
    * format-agnostic.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** D1: database-exists probe (check_and_create_db.py:23). */
  def databaseExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.databaseExists(name)

  /** D2: CREATE DATABASE IF NOT EXISTS (check_and_create_db.py:28). */
  def createDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  /** S2: append sink — the engine-native analogue of
    * `to_sql(..., if_exists='append')` (create_db_from_csv.py:14).
    */
  def appendTable(df: DataFrame, table: String): Unit = {
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)
    notifyWrite(df, table)
  }

  // Observers notified after ANY catalog-table sink in this object
  // lands (append, overwrite, typed, bucketed, partitioned, staged/
  // upsert publishes, gated publish) — the hook JVM-level caches over
  // catalog state need to stay sound: a memoized "table X does not
  // exist" (e.g. the fold path's compaction-marker negative cache)
  // must be invalidated when THIS JVM writes X through the generic
  // sinks, STRUCTURALLY, not by convention on whichever sink today's
  // marker writers happen to use. Path sinks (json/orc/jdbc) create
  // no catalog entry and are deliberately outside the contract.
  // Registration is idempotent by construction (object initializers
  // run once); listeners must be cheap and non-throwing.
  private val writeListeners =
    new java.util.concurrent.CopyOnWriteArrayList[(SparkSession, String) => Unit]()

  def registerWriteListener(f: (SparkSession, String) => Unit): Unit =
    writeListeners.add(f)

  private def notifyWrite(df: DataFrame, table: String): Unit =
    notifyWrite(df.sparkSession, table)

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
    notifyWrite(df, table)
  }

  /** S4: typed sink — the SQLAlchemy dtype-map override
    * (check_and_create_db_v4.py:217-234) becomes explicit casts
    * applied before the write.
    */
  def writeTyped(df: DataFrame, table: String, types: Map[String, DataType], mode: SaveMode = SaveMode.Append): Unit = {
    val cast = df.columns.foldLeft(df) { (acc, c) =>
      types.get(c).map(t => acc.withColumn(c, col(c).cast(t))).getOrElse(acc)
    }
    cast.write.mode(mode).format("parquet").saveAsTable(table)
    notifyWrite(df, table)
  }

  /** Bucketed managed table: pre-shuffled on the join/agg key so
    * co-located joins between same-bucketed tables need no Exchange —
    * the 100 TB answer to repeated fact⋈dim joins on one key.
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int, bucketCol: String, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet").bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
    notifyWrite(df, table)
  }

  /** Hive-style partitioned table: partition pruning turns predicates
    * on the partition column into directory pruning at planning time.
    */
  def writePartitioned(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .partitionBy(partitionCols: _*).saveAsTable(table)
    notifyWrite(df, table)
  }

  /** Upsert (merge-by-key) into a managed parquet table: existing rows
    * with a matching key are replaced by the update rows, others are
    * kept — completing the append/replace pair with the third write
    * mode warehouses need. Implemented as anti-join + union + staged
    * overwrite (parquet has no transactional MERGE; at warehouse scale
    * prefer [[graft.streaming.EventStreams.foldSnapshotBatch]]'s
    * bucket-partitioned layout, which rewrites only touched buckets
    * instead of the whole table). The union is staged first —
    * overwriting a table that feeds its own plan would read-after-drop.
    */
  def upsertTable(updates: DataFrame, table: String, key: String): Unit = {
    val spark = updates.sparkSession
    // heal a previous staged publish that died in its DROP→RENAME
    // window FIRST — without this the spark.table read below throws
    // on the missing target even though the complete content sits one
    // rename away on `__staging` (the publishChecked hardening,
    // applied to every staged caller)
    recoverStaged(spark, table)
    val base = spark.table(table)
    val keys = updates.select(col(key).as("__upsert_key")).distinct()
    // null-SAFE key match (<=>): with a plain equality the anti join
    // would treat an existing null-key row as unmatched (null = null
    // is null) and KEEP it while the union appends the update's
    // null-key row — every upsert of a null key would then duplicate
    // instead of replace, violating the replace contract
    val merged = base
      .join(keys, base(key) <=> keys("__upsert_key"), "left_anti")
      .unionByName(updates)
    stagedOverwrite(merged, table)
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
      // partition-preserving staging (the compactTable path for
      // partitioned tables): a flat staging write would silently
      // erase the layout partition pruning depends on
      df.write.mode(SaveMode.Overwrite).format("parquet")
        .partitionBy(partitionCols: _*).saveAsTable(staging)
      notifyWrite(df, staging)
    }
    // Metadata-only publish (the publishChecked pattern): RENAME the
    // staged table onto the target instead of re-writing its data — a
    // staged overwrite otherwise writes every byte TWICE, which at
    // warehouse scale doubles the I/O of every fold/upsert/compaction.
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
    notifyWrite(df, table)
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

  /** Write-audit-publish: stage `df`, validate the STAGED data against
    * `expectations`, and only then move it to `table` — the gated
    * publish a warehouse runs so a bad load can never shadow a good
    * table (the reference's Postgres constraints rejected bad rows at
    * insert; Spark validates the staged batch as a whole instead).
    * Returns the violation report; on any failing expectation the
    * target table is left UNTOUCHED and the staging table is kept for
    * inspection.
    */
  def publishChecked(
      df: DataFrame,
      table: String,
      expectations: Seq[graft.operators.Expectations.Expectation]): DataFrame = {
    require(expectations.nonEmpty, "publishChecked with no expectations — nothing would be audited")
    val spark = df.sparkSession
    // Heal a previous publish that died between its DROP and final
    // RENAME (target missing, validated batch on `__staging`) BEFORE
    // touching anything: without this, the crash window depended on
    // some OTHER caller running recoverStaged, and the `__staging`
    // drop below would destroy the only surviving validated copy.
    recoverStaged(spark, table)
    val staging = table + "__audit"
    overwriteTable(df, staging)
    // A prior publish's dropped staging table can leave a stale
    // relation/file-index cache under the same name — refresh before
    // reading what was just written.
    spark.catalog.refreshTable(staging)
    val staged = spark.table(staging)
    // Materialize the report BEFORE deciding: the lazy plan reads the
    // staging table, which a successful publish renames away — a
    // caller evaluating the returned report later would read a
    // dropped table.
    val report = graft.operators.Expectations.check(staged, expectations).localCheckpoint(true)
    val failed = report.filter(!org.apache.spark.sql.functions.col("pass")).count()
    if (failed == 0) {
      // Metadata-only swap, not a second data write: re-writing the
      // validated batch into the target would double the I/O AND leave
      // a drop-then-rewrite window where a crash destroys the
      // previously-good table. The validated batch is first renamed
      // onto the `__staging` suffix so the drop→rename gap is covered
      // by the SAME crash recovery as [[stagedOverwrite]]: a crash
      // between the DROP and the final RENAME leaves `table` missing
      // with `<table>__staging` holding the validated content —
      // exactly the state [[recoverStaged]] heals. (The `__audit`
      // suffix survives only on a FAILED publish, where the target was
      // never touched, so it needs no recovery path.)
      val ready = table + "__staging"
      spark.sql(s"DROP TABLE IF EXISTS $ready")
      spark.sql(s"ALTER TABLE $staging RENAME TO $ready")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"ALTER TABLE $ready RENAME TO $table")
      notifyWrite(df, table)
    }
    report
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

  /** Small-file compaction for a managed parquet table: rewrite into
    * ⌈bytes / targetBytes⌉ files through the crash-safe
    * [[stagedOverwrite]] path. The append sink accretes one file set
    * per micro-batch/job — at 100 TB the resulting listing and
    * open-file overhead dominates scan setup long before data volume
    * does; periodic compaction is the warehouse's GC. Returns
    * (files_before, files_after).
    */
  def compactTable(spark: SparkSession, table: String, targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, s"compactTable: targetBytes must be positive, got $targetBytes")
    // heal a crashed staged publish first — same reasoning as upsert
    recoverStaged(spark, table)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val partCols = meta.partitionColumnNames
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a partitioned table's files live one directory level down PER
    // partition column — the flat listing that served unpartitioned
    // tables would count 0 files (totalBytes 0) and then FLATTEN the
    // layout on rewrite, and a fixed one-level descent measured 0 for
    // any table with two or more partition columns, turning compaction
    // into a silent no-op there. Recurse instead: listFiles(recursive)
    // walks the full layout regardless of partition depth.
    def parquetFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
      // skip hidden/temporary components (_temporary from a crashed
      // write, .spark-staging-*, _SUCCESS) the way Spark's own file
      // index does — the recursive walk sees them, a reader never
      // would, and counting ghost files would inflate totalBytes and
      // defeat the already-compact skip check
      def visible(p: org.apache.hadoop.fs.Path): Boolean = {
        var cur = p
        while (cur != null && cur.depth() > root.depth()) {
          val n = cur.getName
          if (n.startsWith("_") || n.startsWith(".")) return false
          cur = cur.getParent
        }
        true
      }
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet") && visible(f.getPath)) out += f
      }
      out.result()
    }
    val before = parquetFiles()
    val totalBytes = before.map(_.getLen).sum
    if (partCols.isEmpty) {
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      // already at (or under) the target: skip the full rewrite AND
      // its drop→rename crash window — periodic maintenance calls
      // this unconditionally
      if (before.size <= nOut) return (before.size, before.size)
      stagedOverwrite(spark.table(table).repartition(nOut), table)
    } else {
      // partition-preserving compaction: group each Hive partition
      // into one task → one file per partition, layout intact (the
      // same shape EventStreams.compactSnapshot maintains for the
      // bucketed fold). Skip when already there.
      val nParts = spark.sql(s"SHOW PARTITIONS $table").count().toInt
      if (before.size <= nParts) return (before.size, before.size)
      val data = spark.table(table)
        .repartition(math.max(1, nParts), partCols.map(col): _*)
      stagedOverwrite(data, table, partCols)
    }
    (before.size, parquetFiles().size)
  }

  /** Retention enforcement for a partitioned managed table: drop
    * whole partitions of `partCol` strictly below `cutoff` via
    * metadata-only DDL (`ALTER TABLE … DROP PARTITION`) — no data
    * rewrite, no scan; the 100 TB path for TTL on a date-partitioned
    * fact table. Returns the number of partitions dropped.
    */
  def expirePartitions(spark: SparkSession, table: String, partCol: String, cutoff: String): Int = {
    // single-level layouts only, LOUDLY: a multi-level table's specs
    // read "day=…/hour=…", so the value parsed for `day` carries the
    // "/hour=…" suffix and the generated DROP PARTITION never matches
    // an existing partition — DROP IF EXISTS swallows that, and TTL
    // becomes a silent permanent no-op (unbounded growth, the exact
    // failure class the mixed-comparison raise below exists to stop)
    val pcs = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .partitionColumnNames
    require(pcs == Seq(partCol),
      s"expirePartitions($table): expected a table partitioned by exactly ($partCol), " +
        s"got (${pcs.mkString(", ")}) — multi-level layouts need per-level specs and are " +
        "not supported; expire on the leading partition column of a single-level table")
    // numeric-aware ordering: lexicographic comparison on integer-like
    // partition values (hour=9 vs hour=10) would expire "10".."89"
    // against cutoff "9" — current data irreversibly dropped. Compare
    // as longs when BOTH sides parse; zero-padded ISO dates and other
    // strings keep lexicographic order. A MIXED comparison (exactly one
    // side numeric) RAISES instead of silently falling back to
    // lexicographic: a numeric-partitioned table given a non-numeric
    // cutoff (or a stray non-numeric partition value against a numeric
    // cutoff) would otherwise compare some partitions numerically and
    // others lexicographically in the same call — retention is
    // irreversible, so inconsistent ordering must fail loudly, not
    // drop (or retain) the wrong partitions.
    def isBelow(v: String): Boolean =
      (v.toLongOption, cutoff.toLongOption) match {
        case (Some(a), Some(b)) => a < b
        case (None, None) => v < cutoff
        case (got, _) => throw new IllegalArgumentException(
          s"expirePartitions($table, $partCol): cannot order partition value '$v' against " +
            s"cutoff '$cutoff' — ${if (got.isDefined) "value is numeric but cutoff is not"
            else "cutoff is numeric but value is not"}; use a cutoff of the partition " +
            "column's own format (all-numeric or all-lexicographic)")
      }
    val parts = spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0))
    val expired = parts.flatMap { spec =>
      // spec: "col=value" (single partition column layout); limit-2
      // split so a value containing '=' still parses instead of being
      // silently retained forever
      spec.split("=", 2) match {
        // Hive's null-partition sentinel is ALWAYS retained, never
        // ordered: a null value has no position against any cutoff,
        // and without this exemption one ingested null row would make
        // every numeric-cutoff expire raise forever (TTL permanently
        // broken, unbounded growth)
        case Array(c, v) if c == partCol && v == "__HIVE_DEFAULT_PARTITION__" => None
        case Array(c, v) if c == partCol && isBelow(v) => Some(v)
        case _ => None
      }
    }
    expired.foreach { v =>
      // escape for the single-quoted DDL literal — a value containing
      // a quote must not break (or truncate) the DROP statement
      val lit = v.replace("\\", "\\\\").replace("'", "\\'")
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($partCol='$lit')")
    }
    expired.length
  }

  /** JDBC sink for Postgres/Power-BI parity (S2/S3 over the wire —
    * the reference's actual sink, check_and_create_db_v4.py:151,295).
    * No Postgres server ships in this environment, but the full call
    * path — Spark's JDBC relation, dialect type mapping, append AND
    * replace SaveModes — is round-trip tested against an embedded
    * Derby database (TablesSpec); only the Postgres dialect itself is
    * unexercised here.
    */
  def writeJdbc(df: DataFrame, url: String, table: String, props: java.util.Properties, mode: SaveMode): Unit =
    df.write.mode(mode).jdbc(url, table, props)

  /** Schema-compatibility diff between a producer's new schema and
    * the consumer's expected one — the data-contract check a publish
    * gate runs BEFORE a write breaks downstream readers. Pure
    * metadata (no scan): one row per difference, kind ∈ added /
    * removed / type_changed / nullability_relaxed (contract requires non-null,
    * producer delivers nullable — the breaking direction; tightening is
    * compatible).
    * Output: (col_name, kind, expected, actual) — empty ⇒ compatible.
    */
  def schemaDiff(
      expected: StructType,
      actual: StructType,
      caseSensitive: Boolean = false): Seq[(String, String, String, String)] = {
    // match names the way Spark resolves them: case-INSENSITIVELY by
    // default (spark.sql.caseSensitive=false) — a producer delivering
    // "ID" where the contract says "id" queries fine, so reporting it
    // as removed+added would block a compatible publish. Pass
    // caseSensitive=true to mirror a case-sensitive session.
    def norm(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val e = expected.fields.map(f => norm(f.name) -> f).toMap
    val a = actual.fields.map(f => norm(f.name) -> f).toMap
    val added = actual.fields.collect {
      case f if !e.contains(norm(f.name)) => (f.name, "added", "", f.dataType.simpleString)
    }
    val removed = expected.fields.collect {
      case f if !a.contains(norm(f.name)) => (f.name, "removed", f.dataType.simpleString, "")
    }
    val changed = expected.fields.flatMap { f =>
      a.get(norm(f.name)).toSeq.flatMap { g =>
        val ty =
          if (f.dataType != g.dataType)
            Seq((f.name, "type_changed", f.dataType.simpleString, g.dataType.simpleString))
          else Seq.empty
        val nl =
          if (f.nullable && !g.nullable) Seq.empty // producer tightened: compatible
          else if (!f.nullable && g.nullable)
            Seq((f.name, "nullability_relaxed", "required", "nullable"))
          else Seq.empty
        ty ++ nl
      }
    }
    (added ++ removed ++ changed).sortBy(r => (r._1, r._2)).toSeq
  }

  /** Bootstrap the CityBike warehouse into the session catalog as
    * managed parquet tables (D2+D3+S3) — the engine-native equivalent
    * of check_and_create_db_v4.py's psycopg2 DDL + to_sql dance.
    */
  def bootstrapCityBike(spark: SparkSession, wh: graft.etl.CityBike.Warehouse, db: String = "citybike"): Unit = {
    createDatabase(spark, db)
    overwriteTable(wh.memberDim, s"$db.member_dimension")
    overwriteTable(wh.rideableDim, s"$db.rideable_dimension")
    overwriteTable(wh.stationDim, s"$db.station_dimension")
    overwriteTable(wh.dateDim, s"$db.date_dimension")
    overwriteTable(wh.fact, s"$db.ride_fact")
  }
}
