package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Bounded lifecycle for operator-internal persisted tables.
  *
  * Operators like MinHash-LSH and sign-LSH ANN materialize an
  * intermediate (signatures, prepared corpus) that both sides of a
  * self-join read. Bare `persist()` leaks: every invocation in a long
  * session (repeated passes over one input, loops over growing
  * inputs) registers another cached table, bounded only by the cache
  * manager's plan-dedup. Routing the persist through `swap` keeps at
  * most ONE live table per call-site key: re-invoking the operator on a
  * NEW input unpersists the previous round's table; re-invoking on the
  * SAME input (plan-equal — a repeated pass) keeps the shared
  * cache entry hot.
  *
  * SINGLE-SLOT CONTRACT: `swap`/`swapKeyed` keep exactly ONE live
  * entry per (session, key). A workload that ALTERNATES two inputs on
  * the same key (corpus A, corpus B, corpus A, …) therefore
  * unpersists and recomputes on every call while looking cached —
  * a throughput hazard, never a correctness one: `swap` serves a
  * cached frame only when its analyzed plan `sameResult`s the
  * requested one, and `swapKeyed` only when the caller's input
  * fingerprint matches, so a stale entry can never be handed to a
  * different input. The declared query surface never alternates
  * (each key's consumers share one input per session — MECHANICALLY
  * verified: InvariantsSpec's "OpCache single-slot" test constructs
  * the full declared surface on a fresh session and asserts via
  * `alternations` that no key observed a second distinct input
  * fingerprint); a future consumer that genuinely alternates inputs
  * should use per-input keys (e.g. suffix the key with the
  * fingerprint) rather than widening this cache to multi-slot.
  */
object OpCache {

  /** Join cache-key parameter segments UNAMBIGUOUSLY: NUL cannot occur
    * in a SQL identifier, so — unlike the '.'-joined convention it
    * replaces — ("a.b","c") and ("a","b.c") map to distinct keys. A
    * collision is only ever a throughput hazard (slot alternation;
    * the slot itself is plan-checked), but it would defeat
    * parameter-shaped keys for exactly the dotted column names they
    * exist to distinguish.
    */
  def paramKey(segments: String*): String = segments.mkString("\u0000")

  // Keyed by (session, call site): a plan-equal DataFrame from a
  // STOPPED session must never be handed back to a new one.
  private val live = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String), DataFrame]

  // ——— no-alternation observability (the r11 verdict's finding #3:
  // the single-slot contract's "never alternates" claim was verified
  // by hand each round) ———
  // Every swap/swapKeyed call records the input fingerprint it
  // carried: the analyzed plan's semanticHash for `swap` (the same
  // equivalence `sameResult` decides hits on) and the caller's
  // fingerprint string for `swapKeyed`. A key is a throughput hazard
  // only if it sees MORE THAN ONE distinct fingerprint in a session
  // (every later call thrashes the slot); `alternations` surfaces
  // exactly those keys, and the InvariantsSpec single-slot test
  // asserts the set is empty over the full declared surface on a
  // fresh session. Deliberately NOT cleared by `clear()` (wiping it on
  // the teardown path would let the audit pass vacuously) — but WEAKLY
  // keyed by session: a strong (session, key) map would pin every
  // session that ever routed through the cache (SessionState, analyzer
  // caches and all) for the JVM's lifetime, so a per-job
  // `spark.newSession()` driver would leak one session per job. Dead
  // sessions take their audit rows with them; the audit only ever
  // queries live ones. All access is under OpCache.synchronized, so
  // the non-thread-safe WeakHashMap is fine here.
  private val observed = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.mutable.Map[
      String, scala.collection.mutable.LinkedHashSet[String]]]()

  private def record(
      session: org.apache.spark.sql.SparkSession, key: String, fp: String): Unit = {
    var perSession = observed.get(session)
    if (perSession == null) {
      perSession = scala.collection.mutable.Map.empty
      observed.put(session, perSession)
    }
    perSession.getOrElseUpdate(
      key, scala.collection.mutable.LinkedHashSet.empty) += fp
  }

  /** Keys of `spark`'s cache that observed ≥2 distinct input
    * fingerprints, with the fingerprints in first-seen order.
    */
  def alternations(
      spark: org.apache.spark.sql.SparkSession): Map[String, Seq[String]] = synchronized {
    Option(observed.get(spark)).fold(Map.empty[String, Seq[String]])(_.collect {
      case (k, fps) if fps.size > 1 => k -> fps.toSeq
    }.toMap)
  }

  /** Keys `spark`'s cache has observed at all (audit completeness:
    * the single-slot test also asserts the surface actually ROUTES
    * through the cache, so an accidental de-caching refactor can't
    * make the no-alternation assertion vacuous).
    */
  def observedKeys(spark: org.apache.spark.sql.SparkSession): Set[String] = synchronized {
    Option(observed.get(spark)).fold(Set.empty[String])(_.keySet.toSet)
  }

  def swap(key: String, df: DataFrame): DataFrame = synchronized {
    val k = (df.sparkSession, key)
    record(df.sparkSession, key, df.queryExecution.analyzed.semanticHash().toString)
    live.get(k) match {
      // Same input (plan-equal, so identical output attributes — both
      // plans come from the same operator code): hand back the live
      // cached table instead of re-registering it.
      case Some(old) if old.queryExecution.analyzed.sameResult(df.queryExecution.analyzed) =>
        // An external `spark.catalog.clearCache()` (or an unpersist of
        // a plan-equal frame — uncacheQuery matches by plan, not by
        // object) can strip the persistence out from under a live
        // entry; handing it back unrepaired makes EVERY subsequent hit
        // recompute the full lineage while looking cached. Re-pin it.
        if (old.storageLevel == StorageLevel.NONE)
          old.persist(StorageLevel.MEMORY_AND_DISK)
        old
      case other =>
        other.foreach(_.unpersist(blocking = false))
        live.put(k, df)
        df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  // Keyed variant for TYPED pipelines: a Dataset built through
  // mapPartitions/map embeds fresh closure objects in its plan on
  // every construction, so two logically identical invocations never
  // compare sameResult and `swap` would re-run the pipeline each time.
  // Here the CALLER pins the inputs with a fingerprint string (e.g.
  // the sf directory); while it matches, the cached table is returned
  // without even building the new plan (the by-name `df` is not
  // forced). Sound only when the pipeline is deterministic in the
  // fingerprint — the same contract a shuffle-file reuse assumes.
  private val keyed = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String), (String, DataFrame)]

  def swapKeyed(key: String, fingerprint: String, df: => DataFrame)(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = synchronized {
    val k = (spark, key)
    record(spark, key, fingerprint)
    keyed.get(k) match {
      case Some((fp, old)) if fp == fingerprint =>
        // same external-unpersist repair as swap
        if (old.storageLevel == StorageLevel.NONE)
          old.persist(StorageLevel.MEMORY_AND_DISK)
        old
      case other =>
        other.foreach(_._2.unpersist(blocking = false))
        val fresh = df
        keyed.put(k, (fingerprint, fresh))
        fresh.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  // Input-keyed variant for plans EMBEDDING TYPED AGGREGATORS: a
  // udaf-bearing plan can never compare sameResult to its own
  // re-construction — analysis (ResolveEncodersInScalaAgg) installs
  // freshly RESOLVED encoder copies into the ScalaAggregator on every
  // pass, and encoders are constructor args canonicalization never
  // normalizes (found by the r12 two-pass single-slot audit: the
  // hh.summary sketch re-registered, i.e. fully re-ran, on every warm
  // invocation while looking cached). So key the slot on the UNTYPED
  // INPUT plan instead: exact `sameResult` confirmation against the
  // stored input — no hash trust, no typed expressions in the
  // comparison — and `build` is by-name, so a hit never constructs
  // the typed plan at all.
  private val byInput = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String),
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]

  def swapByInput(key: String, input: DataFrame)(build: => DataFrame): DataFrame =
    synchronized {
      val spark = input.sparkSession
      val plan = input.queryExecution.analyzed
      record(spark, key, plan.semanticHash().toString)
      byInput.get((spark, key)) match {
        case Some((stored, df)) if stored.sameResult(plan) =>
          // same external-unpersist repair as swap
          if (df.storageLevel == StorageLevel.NONE)
            df.persist(StorageLevel.MEMORY_AND_DISK)
          df
        case other =>
          other.foreach(_._2.unpersist(blocking = false))
          val fresh = build
          byInput.put((spark, key), (plan, fresh))
          fresh.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }

  // Memo for idempotent SIDE-EFFECTING builds (persisting ANN index
  // artifact tables): the build is deterministic in its input and its
  // writes are staged overwrites, so re-running it on the same input
  // reproduces byte-identical tables — all a warm re-run buys is a
  // second round of drops and table writes. `onceByInput` skips the
  // build when the same (key, input-plan) pair already ran this
  // session AND `stillValid` holds (callers pass "the published
  // tables still exist", so an external DROP always forces a real
  // rebuild). Cleared by clear() like every slot — the test-pinned
  // rebuild path (OpCache.clear() between lifecycle probes) stays a
  // real rebuild. In-memory per-JVM only: a fresh session/JVM always
  // pays the build.
  private val builtByInput = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]

  def onceByInput(key: String, input: DataFrame)(stillValid: => Boolean)(
      build: => Unit): Unit = synchronized {
    val spark = input.sparkSession
    val plan = input.queryExecution.analyzed
    record(spark, key, plan.semanticHash().toString)
    val k = (spark, key)
    if (!(builtByInput.get(k).exists(_.sameResult(plan)) && stillValid)) {
      builtByInput.remove(k) // a failed build must not stay memoized
      build
      builtByInput.put(k, plan)
    }
  }

  // Operator-local caches that don't route through swap (e.g. the
  // k-means centroid memo, which caches EAGER localCheckpoint'd
  // results) register an eviction hook so clear() empties them too —
  // one call tears down ALL operator state.
  private val clearHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def registerClearHook(hook: () => Unit): Unit = synchronized {
    clearHooks += hook
  }

  /** Drop every live operator table (end-of-session / test teardown).
    * Safe after `spark.stop()`: every map is emptied and every hook runs
    * before any unpersist, and frames of a stopped context are skipped.
    */
  def clear(): Unit = synchronized {
    val frames = live.values.toSeq ++ keyed.values.map(_._2) ++ byInput.values.map(_._2)
    live.clear()
    keyed.clear()
    byInput.clear()
    builtByInput.clear()
    clearHooks.foreach(_.apply())
    frames.foreach(release)
  }

  /** Unpersist `df` unless its context is stopped — the block manager is
    * gone then (unpersist throws a NullPointerException) and so is the
    * cached data.
    */
  private[graft] def release(df: DataFrame): Unit =
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
}
