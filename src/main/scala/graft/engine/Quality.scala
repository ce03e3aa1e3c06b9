package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gate as a composable Check ADT.
  *
  * Mirrors the reference's DataQualityOperator
  * (reference: plugins/data_quality_operator.py:57-71): non-empty dataset,
  * minimum record count, and NULL-or-empty scans over critical columns.
  * The reference treats quality failures as control flow (raise ->
  * Airflow retry); `assertGate` keeps that contract, while `report`
  * exposes the violation counts as a DataFrame for the oracle harness.
  *
  * Both run ONE conditional-aggregate pass over the data, where the
  * reference runs a job per check (an emptiness probe, a row count
  * bounded at n, one bounded violation probe per column): on clean data,
  * the common case, a column has to be read to the end to prove it has
  * no violation, so the per-check probes only add jobs.
  */
object Quality {

  sealed trait Check
  /** dataset must have at least n rows (reference :64-66, default 50). */
  final case class MinCount(n: Long) extends Check
  /** column must be neither NULL nor '' (reference :68-71). */
  final case class NotNullOrEmpty(column: String) extends Check

  /** NULL-or-empty predicate (reference :70). The comparison goes
    * through a string cast: under Spark 4's default ANSI mode,
    * `doubleCol === ""` would coerce '' to double and THROW instead of
    * evaluating the check (the ANSI-off reference silently null'd it).
    */
  def nullOrEmpty(c: Column): Column = c.isNull || c.cast("string") === ""

  /** Rows violating [[nullOrEmpty]] on column `c`; 0 on an empty input. */
  private def violations(c: String): Column = count_if(nullOrEmpty(col(c)))

  /** The gate: one aggregate pass, then throws on the first failing check
    * like the reference — "dataset is empty" first, then the checks in
    * order.
    */
  def assertGate(df: DataFrame, checks: Seq[Check]): Unit = {
    val columns = checks.collect { case NotNullOrEmpty(c) => c }.distinct
    val counts = df.agg(count(lit(1)), columns.map(violations): _*).head()
    val rows = counts.getLong(0)
    val bad = columns.zipWithIndex.map { case (c, i) => c -> counts.getLong(i + 1) }.toMap
    if (rows == 0) throw new IllegalStateException("dataset is empty")
    checks.foreach {
      case MinCount(n) =>
        if (rows < n) throw new IllegalStateException(s"record count below $n")
      case NotNullOrEmpty(c) =>
        if (bad(c) > 0)
          throw new IllegalStateException(s"critical column $c has null/empty values")
    }
  }

  /** Quarantine split: one pass tagging each row, returning (clean rows,
    * violating rows). The reference's gate is all-or-nothing control flow
    * (assertGate keeps that contract); quarantine is the extension for
    * pipelines that should keep flowing while bad rows land in a side
    * table for triage — at 100 TB a gate that fails the whole run on one
    * bad row is rarely what you want.
    */
  def quarantine(df: DataFrame, criticalColumns: Seq[String]): (DataFrame, DataFrame) = {
    require(criticalColumns.nonEmpty, "quarantine needs at least one column")
    // NB: the two filters are separate scans of df — persist upstream if
    // the input is expensive or non-deterministic (a re-fetched source
    // could otherwise classify a row differently in each scan)
    val bad = criticalColumns.map(c => nullOrEmpty(col(c))).reduce(_ || _)
    (df.filter(!bad), df.filter(bad))
  }

  /** All critical-column violation counts in ONE scan (vs the reference's
    * job-per-column), as (column, violations) rows.
    */
  def report(df: DataFrame, criticalColumns: Seq[String]): DataFrame = {
    require(criticalColumns.nonEmpty, "report needs at least one column")
    val aggs = criticalColumns.map(c => violations(c).as(c))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to long form so adding a column never changes the schema
    wide.unpivot(Array.empty, criticalColumns.map(col).toArray,
      "column_name", "violations")
  }
}
