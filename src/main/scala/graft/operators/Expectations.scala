package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the constraint layer the
  * reference delegated to PostgreSQL DDL (PRIMARY KEY / FOREIGN KEY /
  * typed columns, /root/reference/src/check_and_create_db_v4.py:85-137)
  * re-expressed as a CHECK that scales: Spark doesn't enforce
  * constraints on write, so a warehouse asserts them as a validation
  * pass and gates the publish on the report.
  *
  * Scale shape: all ROW-LOCAL expectations (not-null, range, set
  * membership, regex) fold into ONE aggregation pass over the table —
  * a single scan regardless of how many expectations are declared
  * (`sum(when(violated, 1))` per expectation, partial-aggregated).
  * Uniqueness is one groupBy on the key; referential integrity is one
  * left-anti join per declared reference (broadcast when the
  * referenced side is small). The report is one tiny row per
  * expectation: (name, kind, n_violations, pass).
  */
object Expectations {

  sealed trait Expectation { def name: String }

  /** Row-local: any of `cols` NULL ⇒ violation. */
  final case class NotNull(name: String, cols: Seq[String]) extends Expectation

  /** Row-local: value outside [lo, hi] ⇒ violation (NULL passes — pair
    * with NotNull to reject nulls).
    */
  final case class InRange(name: String, col: String, lo: Double, hi: Double) extends Expectation

  /** Row-local: value not in `allowed` ⇒ violation (NULL passes). */
  final case class OneOf(name: String, col: String, allowed: Seq[String]) extends Expectation

  /** Row-local: value not matching `regex` ⇒ violation (NULL passes). */
  final case class Matches(name: String, col: String, regex: String) extends Expectation

  /** Key-level: any key tuple appearing more than once ⇒ each extra
    * row is a violation (count = rows − distinct keys).
    */
  final case class Unique(name: String, cols: Seq[String]) extends Expectation

  /** Reference-level: rows whose `fkCols` tuple (fully non-null) has
    * no match in `ref`'s `refCols` ⇒ violations. NULL-bearing keys
    * pass (SQL FK semantics).
    */
  final case class RefIntegrity(
      name: String, fkCols: Seq[String], ref: DataFrame, refCols: Seq[String]) extends Expectation

  private def rowLocalViolation(e: Expectation): Option[Column] = e match {
    case NotNull(_, cols) => Some(cols.map(col(_).isNull).reduce(_ || _))
    case InRange(_, c, lo, hi) => Some(col(c).isNotNull && (col(c) < lo || col(c) > hi))
    case OneOf(_, c, allowed) => Some(col(c).isNotNull && !col(c).isin(allowed: _*))
    case Matches(_, c, re) => Some(col(c).isNotNull && !col(c).rlike(re))
    case _ => None
  }

  private def kind(e: Expectation): String = e match {
    case _: NotNull => "not_null"
    case _: InRange => "in_range"
    case _: OneOf => "one_of"
    case _: Matches => "matches"
    case _: Unique => "unique"
    case _: RefIntegrity => "ref_integrity"
  }

  /** Referential-integrity audit across declared FK edges: for each
    * `(edge_name, child, fkCol, parent, pkCol)`, the child row count,
    * NULL-FK count and orphan count (non-null FK with no parent —
    * one left-anti semi-structure per edge, each a plain key join
    * Catalyst can broadcast when the parent is small). The standard
    * warehouse-health sweep after any load.
    * Output: (edge, n_rows, n_null_fk, n_orphans), one row per edge.
    */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "fkAudit: no edges")
    edges.map { case (name, child, fk, parent, pk) =>
      val base = child.agg(
        count(lit(1)).as("n_rows"),
        // coalesce like check()'s melt: sum over an EMPTY child is
        // NULL, and a gate like filter(n_null_fk > 0 OR ...) would
        // silently evaluate UNKNOWN instead of passing
        coalesce(sum(when(col(fk).isNull, 1L).otherwise(0L)), lit(0L)).as("n_null_fk"))
      val orphans = child
        .filter(col(fk).isNotNull)
        .join(parent.select(col(pk).as("__pk")), col(fk) === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      base.crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_rows"), col("n_null_fk"), col("n_orphans"))
    }.reduce(_ unionByName _)
  }

  /** Approximate functional-dependency audit: for each candidate
    * dependency lhs → rhs, does one lhs value always determine one
    * rhs value — and if not, how far off is the table? Reports, per
    * dependency: distinct lhs keys, keys carrying >1 rhs value, rows
    * living under a violating key, the worst per-key rhs fan-out, and
    * the g3 repair size (minimum rows to DELETE to make the FD hold —
    * each key keeps its modal rhs; Kivinen & Mannila's g3 measure).
    * NULLs on either side are excluded (SQL FD semantics — NULL
    * determines nothing).
    *
    * Scale shape: one (lhs, rhs) count aggregation per dependency
    * (map-side combined), re-aggregated by lhs, reduced to ONE report
    * row — never a self-join, never a distinct over raw rows.
    * Output: (lhs, rhs, n_keys, n_violating_keys, n_rows_in_violation,
    * max_rhs_per_key, g3_rows).
    */
  def fdAudit(df: DataFrame, deps: Seq[(String, String)]): DataFrame = {
    require(deps.nonEmpty, "fdAudit: no dependencies declared")
    deps.map { case (lhs, rhs) =>
      val kb = df
        .filter(col(lhs).isNotNull && col(rhs).isNotNull)
        .groupBy(col(lhs).as("__k"), col(rhs).as("__v"))
        .agg(count(lit(1)).as("__c"))
      val perKey = kb.groupBy(col("__k"))
        .agg(
          sum(col("__c")).as("__n"),
          count(lit(1)).as("__d"),
          max(col("__c")).as("__cmax"))
      // coalesce every sum/max: an ALL-NULL rhs (or lhs) empties
      // perKey, and NULL counts turn a pass/fail gate like
      // `n_violating_keys === 0` into UNKNOWN — the dependency would
      // be neither passed nor failed
      perKey.agg(
        count(lit(1)).as("n_keys"),
        coalesce(sum(when(col("__d") > 1, 1L).otherwise(0L)), lit(0L)).as("n_violating_keys"),
        coalesce(sum(when(col("__d") > 1, col("__n")).otherwise(0L)), lit(0L))
          .as("n_rows_in_violation"),
        coalesce(max(col("__d")).cast("long"), lit(0L)).as("max_rhs_per_key"),
        coalesce(sum(col("__n") - col("__cmax")), lit(0L)).as("g3_rows"))
        .select(
          lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_keys"), col("n_violating_keys"), col("n_rows_in_violation"),
          col("max_rhs_per_key"), col("g3_rows"))
    }.reduce(_ unionByName _)
  }

  /** Validate `df` against `expectations`; one report row each:
    * (expectation, kind, n_violations, pass), in declaration order
    * recoverable by name.
    */
  def check(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    require(expectations.nonEmpty, "no expectations declared")
    val dup = expectations.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dup.isEmpty, s"duplicate expectation names: ${dup.mkString(", ")}")
    expectations.foreach {
      case RefIntegrity(n, fk, _, ref) =>
        require(fk.nonEmpty, s"$n: RefIntegrity with no fkCols")
        require(fk.length == ref.length,
          s"$n: fkCols (${fk.length}) and refCols (${ref.length}) differ — " +
            "a silent zip would weaken the declared composite reference")
      // an empty cols list either crashed with a bare empty.reduceLeft
      // (NotNull) or silently became a whole-table groupBy counting
      // rows−1 as violations (Unique) — name the malformed expectation
      case NotNull(n, cols) => require(cols.nonEmpty, s"$n: NotNull with no columns")
      case Unique(n, cols) => require(cols.nonEmpty, s"$n: Unique with no columns")
      case _ => ()
    }
    val rowLocal = expectations.flatMap(e => rowLocalViolation(e).map(e -> _))
    val onePass: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else Some {
        // Positional aliases, not user names: a name with a dot would
        // re-resolve as nested-field access and fail analysis.
        val aggs = rowLocal.zipWithIndex.map { case ((_, v), i) =>
          sum(when(v, 1L).otherwise(0L)).as(s"__e$i")
        }
        val row = df.agg(aggs.head, aggs.tail: _*)
        // melt the single wide row into (expectation, kind, n) rows
        rowLocal.zipWithIndex.map { case ((e, _), i) =>
          row.select(
            lit(e.name).as("expectation"), lit(kind(e)).as("kind"),
            coalesce(col(s"__e$i"), lit(0L)).as("n_violations"))
        }.reduce(_ unionByName _)
      }

    val keyed = expectations.collect {
      case e @ Unique(name, cols) =>
        df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
          .agg(coalesce(sum(col("__n") - 1), lit(0L)).as("n_violations"))
          .select(lit(name).as("expectation"), lit(kind(e)).as("kind"), col("n_violations"))
      case e @ RefIntegrity(name, fkCols, ref, refCols) =>
        val nonNullFk = df.filter(fkCols.map(col(_).isNotNull).reduce(_ && _))
        val refKeys = Broadcasting.maybeBroadcast(
          ref.select(refCols.zip(fkCols).map { case (r, f) => col(r).as(f) }: _*).distinct())
        nonNullFk.join(refKeys, fkCols, "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("expectation"), lit(kind(e)).as("kind"), col("n_violations"))
    }

    (onePass.toSeq ++ keyed)
      .reduce(_ unionByName _)
      .withColumn("pass", col("n_violations") === 0L)
  }
}
