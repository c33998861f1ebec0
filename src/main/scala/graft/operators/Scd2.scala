package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension merge — the warehouse operation
  * the reference's star-schema rebuild sidesteps by re-creating its
  * dimensions from scratch every load
  * (/root/reference/src/check_and_create_db_v4.py:214-233 drops and
  * refills the dim tables). At 100 TB a dimension is merged, not
  * rebuilt: one batch of staged updates closes changed rows and opens
  * new versions, keyed history stays queryable as of any date.
  *
  * Contract: `current` carries the dimension with `valid_from`,
  * `valid_to` (NULL = open) and `is_current`; `updates` carries one
  * staged row per key (latest state, no history). The merge
  *  - closes the open row of every key whose tracked attributes
  *    changed (`valid_to` = `effective`, `is_current` = false),
  *  - opens a new version for changed and brand-new keys
  *    (`valid_from` = `effective`, open-ended),
  *  - passes unchanged open rows and all closed history through
  *    untouched.
  *
  * Attribute comparison uses null-safe equality (`<=>`): NULL → value
  * and value → NULL both count as changes, NULL → NULL does not.
  *
  * Scale shape: closed history is routed around the join entirely
  * (union, no shuffle); the only wide operation is ONE key join
  * between the open slice and the update batch — broadcast when the
  * batch is small, shuffled hash join otherwise, AQE's choice. No
  * window functions, no global sort.
  */
object Scd2 {

  /** Merge one staged update batch into an SCD2 dimension.
    *
    * @param current   SCD2 dimension: key ++ attrs ++ (valid_from,
    *                  valid_to, is_current)
    * @param updates   staged latest-state rows: key ++ attrs
    * @param keyCols   natural-key column names
    * @param attrCols  tracked attribute column names
    * @param effective the batch's effective date/timestamp (applied to
    *                  closed rows' valid_to and opened rows' valid_from)
    */
  def merge(
      current: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      attrCols: Seq[String],
      effective: Column): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "Scd2.merge: keys and tracked attributes required")
    val metaCols = Seq("valid_from", "valid_to", "is_current")
    val outCols = (keyCols ++ attrCols ++ metaCols).map(col)

    // Presence markers instead of key-null checks: a (pathological)
    // NULL natural key would defeat `key IS NULL` side-detection —
    // `<=>` matches it across the join, so both sides' keys are
    // non-detectably "present". A literal marker is NULL exactly when
    // the full-outer join had no row from that side.
    //
    // NULL-SAFE is_current split: a NULL flag matched NEITHER
    // filter(is_current) NOR filter(!is_current) — the row vanished
    // from the merged output entirely, silent loss compounding every
    // batch. NULL routes to the closed slice (not current ⇒ history).
    //
    // And the one-open-row-per-key invariant is enforced on THIS side
    // too, mirroring the staged-batch guard below: an already-
    // corrupted dimension with duplicate open rows would fan out
    // through the full-outer join and emit one identical new open
    // version PER duplicate — amplification with no signal, while the
    // updates side raised loudly. The window pre-shuffles the open
    // slice on the key the join shuffles on anyway.
    val openDupW = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    val open = current.filter(col("is_current") <=> lit(true))
      .withColumn("__ocnt", count(lit(1)).over(openDupW))
      .withColumn("__c", when(
        col("__ocnt") > 1,
        raise_error(concat(
          lit("Scd2.merge: duplicate OPEN rows in the dimension for key ("),
          concat_ws(", ", keyCols.map(k => col(k).cast("string")): _*),
          lit(") — the dimension is corrupt; repair before merging"))))
        .otherwise(lit(1)))
      .drop("__ocnt")
    val closed = current.filter(!(col("is_current") <=> lit(true)))
    // The one-staged-row-per-key contract is ENFORCED, not assumed: a
    // duplicate key would fan out through the full-outer join and
    // silently open duplicate current versions — dimension corruption
    // with no signal. The guard is the `__u` presence marker itself
    // (raises per offending row at execution); its window pre-shuffles
    // the batch on the join key it was about to shuffle on anyway.
    val dupW = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    val staged = updates.select((keyCols ++ attrCols).map(col): _*)
      .withColumn("__cnt", count(lit(1)).over(dupW))
      .withColumn("__u", when(
        col("__cnt") > 1,
        raise_error(concat(
          lit("Scd2.merge: duplicate update rows for key ("),
          concat_ws(", ", keyCols.map(k => col(k).cast("string")): _*),
          lit(") — the contract is one staged row per key"))))
        .otherwise(lit(1)))
      .drop("__cnt")

    val joinCond = keyCols.map(k => col(s"cur.$k") <=> col(s"upd.$k")).reduce(_ && _)
    val changed = attrCols.map(a => !(col(s"cur.$a") <=> col(s"upd.$a"))).reduce(_ || _)
    val j = open.as("cur").join(staged.as("upd"), joinCond, "full_outer")
    val matched = col("__c").isNotNull && col("__u").isNotNull

    // Unchanged or update-absent open rows: pass through.
    val untouched = j
      .filter((matched && !changed) || col("__u").isNull)
      .select((keyCols ++ attrCols).map(c => col(s"cur.$c")) ++ metaCols.map(col): _*)

    // Changed keys: the open row closes at the effective date. An
    // out-of-order batch (effective BEFORE the open row's valid_from)
    // would write an inverted interval overlapping already-closed
    // history — breaking the disjointness invariant pitJoin relies
    // on ("at most one version covers any instant") and silently
    // double-counting facts. Fail loudly instead; late batches must
    // be merged in order.
    val closedNow = j
      .filter(matched && changed)
      .select(
        (keyCols ++ attrCols).map(c => col(s"cur.$c")) ++ Seq(
          col("valid_from"),
          when(col("valid_from") > effective,
            raise_error(concat(
              lit("Scd2.merge: effective date "), effective.cast("string"),
              lit(" predates the open row's valid_from "),
              col("valid_from").cast("string"),
              lit(" for key ("),
              concat_ws(", ", keyCols.map(k => col(s"cur.$k").cast("string")): _*),
              lit(") — out-of-order batch would create overlapping validity intervals"))))
            .otherwise(effective).as("valid_to"),
          lit(false).as("is_current")): _*)

    // Changed + brand-new keys: a fresh open version from the staged row.
    val opened = j
      .filter((matched && changed) || col("__c").isNull)
      .select(
        (keyCols ++ attrCols).map(c => col(s"upd.$c")) ++ Seq(
          effective.as("valid_from"),
          lit(null).cast(current.schema("valid_to").dataType).as("valid_to"),
          lit(true).as("is_current")): _*)

    closed.select(outCols: _*)
      .unionByName(untouched)
      .unionByName(closedNow)
      .unionByName(opened)
  }

  /** Point-in-time JOIN: each fact row picks up the dimension version
    * that was valid AT ITS OWN event time — the temporally-correct
    * star join (every fact's own instant, not one frozen instant).
    * The SCD2 interval invariant (disjoint, contiguous
    * validity per key — enforced by [[merge]]) guarantees at most one
    * matching version per fact, so the join cannot fan out.
    *
    * Scale shape: a plain KEY equi-join (broadcast while the
    * dimension fits, sort-merge beyond) with the interval predicate
    * as a residual filter — versions per key are few by construction,
    * so this beats any range-join gymnastics at 100 TB. Left join:
    * facts predating the first version keep null attributes rather
    * than vanishing.
    */
  def pitJoin(
      facts: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
      tsCol: String, attrCols: Seq[String]): DataFrame = {
    // Collision guards (the AsOfJoin convention — this sibling had
    // none): attribute or interval columns already on the fact side
    // would silently duplicate in the output; the internal key alias
    // must be free.
    val colliding = (attrCols ++ Seq("valid_from", "valid_to")).filter(facts.columns.contains)
    require(colliding.isEmpty,
      s"pitJoin: fact side already contains column(s) ${colliding.mkString(", ")} — " +
        "rename them before joining, or they would duplicate in the output")
    require(!facts.columns.contains("__pit_key") && !dim.columns.contains("__pit_key"),
      "pitJoin: '__pit_key' is reserved for the internal dimension key alias")
    // The dim key is aliased internally, so the natural star-schema
    // call — factKey == dimKey — resolves instead of throwing
    // AMBIGUOUS_REFERENCE.
    val d = Broadcasting.maybeBroadcast(
      dim.select(col(dimKey).as("__pit_key") +:
        (attrCols ++ Seq("valid_from", "valid_to")).map(col): _*))
    facts
      .join(
        d,
        col(factKey) === col("__pit_key") &&
          col(tsCol) >= col("valid_from").cast("timestamp") &&
          (col("valid_to").isNull || col(tsCol) < col("valid_to").cast("timestamp")),
        "left")
      .drop("__pit_key", "valid_from", "valid_to")
  }
}
