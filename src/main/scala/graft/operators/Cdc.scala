package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture application — the lakehouse MERGE: fold an
  * ordered change log (inserts / updates / delete tombstones) into a
  * base snapshot and emit the next snapshot. The latest-wins member
  * of the CDC family next to [[Scd2]] (which keeps history) and
  * [[SnapshotDiff]] (which derives the log from two snapshots).
  *
  * Scale shape: one keyed window over the LOG ONLY (per-key, ordered
  * by the version columns — the log is deltas, orders of magnitude
  * under the snapshot), then one anti-join and a union. The base
  * snapshot is never sorted and never shuffled beyond the key join —
  * exactly the MERGE plan a 100 TB table wants.
  */
object Cdc {

  /** Apply `log` to `base`. Both share `keyCols` and the payload
    * columns; `log` adds `opCol` (values 'I' / 'U' / 'D') and
    * `ordCols` (the version order — later wins; ties broken by the
    * LAST ordCol being unique is the caller's contract). Per key only
    * the latest log row acts: 'D' removes the key, 'I'/'U' upsert the
    * payload. Keys untouched by the log pass through. Any other op
    * value (including null) ANYWHERE in the log slice — superseded
    * rows included — fails the job loudly — under the old
    * `=!= "D"` filter a null op evaluated to null and silently
    * DELETED the key, turning malformed log rows into data loss.
    */
  def applyLog(
      base: DataFrame,
      log: DataFrame,
      keyCols: Seq[String],
      opCol: String,
      ordCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && ordCols.nonEmpty, "Cdc.applyLog: keys and order required")
    // the op column is log metadata: were it also a base column, the
    // upsert branch's drop would remove the LOG's op while base rows
    // keep theirs — unionByName would then fail far from the misuse,
    // or worse silently write I/U/D markers into a payload column
    require(!base.columns.contains(opCol),
      s"Cdc.applyLog: op column '$opCol' must not exist in the base snapshot — " +
        "it is log metadata, never payload")
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(ordCols.map(col(_).desc): _*)
    // validated BEFORE the latest-wins window, so the WHOLE log slice
    // is checked: a malformed row superseded by a newer valid row for
    // the same key still fails loudly
    val latest = checkedOps(log, opCol)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .drop("__r")
    // NULL-SAFE key match for the anti join: the latest-wins window
    // groups NULL keys into one partition (SQL GROUP BY semantics),
    // but a using-column anti join never matches NULL = NULL — a
    // tombstone for a NULL key was silently ignored and a NULL-key
    // upsert silently DUPLICATED the row. Same pathology Scd2
    // documents with its presence markers; here <=> is enough because
    // the anti join keeps only base's columns.
    val touched = latest.select(keyCols.map(c => col(c).as(s"__t_$c")): _*)
    val antiCond = keyCols.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
    // Order columns that ALSO live in the base snapshot (updated_at —
    // the most common CDC version column) are payload: keep them in
    // the upsert branch so the output schema matches base. Only
    // log-private metadata is dropped.
    val dropCols = opCol +: ordCols.filterNot(base.columns.contains)
    base
      .join(touched, antiCond, "left_anti")
      .unionByName(
        latest
          .filter(col(opCol) =!= "D")
          .drop(dropCols: _*))
  }

  /** `log` with its op column validated in the plan (the Resample
    * grid-guard pattern): assert_true returns null for every valid
    * row, so the isNull filter keeps everything while making the check
    * unprunable — a null/unknown op throws instead of silently acting
    * as a delete. It sits in the pre-shuffle projection, so the check
    * is free (no extra scan).
    */
  private[graft] def checkedOps(log: DataFrame, opCol: String): DataFrame =
    log
      .withColumn(
        "__opchk",
        assert_true(
          col(opCol).isin("I", "U", "D"),
          concat(lit(s"Cdc.applyLog: op '$opCol' must be I/U/D, got "),
            coalesce(col(opCol).cast("string"), lit("null")))))
      .filter(col("__opchk").isNull)
      .drop("__opchk")
}
