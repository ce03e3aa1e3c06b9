package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry of oracle-checked queries.
  *
  * Each Q pairs a Spark implementation with (optionally) the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  * Determinism contract for hash-stable comparison:
  *   - every query ends in a total-order `orderBy`;
  *   - double SUMS are accumulated in decimal(30,10) (exact, order-
  *     independent), rounded IN DECIMAL (half-away, identical on both
  *     engines), then cast to double;
  *   - divisions / cosines / scores are emitted as RAW doubles: identical
  *     IEEE op trees are bit-identical across engines, whereas a double
  *     round() can flip on ties (Spark rounds the exact decimal expansion
  *     half-up; DuckDB rounds via scaling — they disagree when x*10^k
  *     lands on .5) — so round() is NEVER applied to a double;
  *   - timestamps are emitted as epoch microseconds (BIGINT) or
  *     formatted strings, never raw timestamp columns;
  *   - aggregate counts use count(...) on both sides (DuckDB sum(int)
  *     widens to HUGEINT, which would break schema comparison);
  *   - NO arithmetic on precision-saturated decimals: once a decimal
  *     hits the p=38 cap (any sum of decimal(p>=28,s) does), every
  *     further multiply/compare sits exactly where Spark's
  *     precision-loss rules and a DuckDB version's DOUBLE promotion
  *     can disagree (the q175 lesson: `cum * 2 >= tot` on DECIMAL(38,2)
  *     flipped an exact tie at the driver). Wherever a comparison or
  *     output VALUE depends on the result, do the exact work in
  *     integer units instead — BIGINT cents / centi-units / epoch-µs
  *     (q155/q175 discipline). Wide decimals may be summed, compared
  *     same-type with NO intervening arithmetic (q174's binning),
  *     rounded-in-decimal and emitted — never multiplied or divided
  *     (statically enforced: ComparatorContract.wideDecimalArithmetic
  *     + DecimalDisciplineSpec over every declared query).
  */
object Catalog {
  type QueryFn = (SparkSession, String) => DataFrame

  /** `streaming = true` marks a query whose execution is a real
    * Structured Streaming run (state-store provisioning dominates its
    * wall time); [[Bench]] times these cold-only — a warm pass re-pays
    * the same per-run provisioning cost, so it measures nothing the
    * cold pass didn't.
    *
    * `emptyOk = true` declares a query whose SEMANTICS make an empty
    * result the correct answer on the clean fixtures (an anti-join over
    * a referentially-complete table, a dedup report on a corpus with
    * nothing to report). Every other query returning 0 rows at any
    * verified SF is a DEGENERACY the oracle cannot see — the oracle
    * runs the same SQL over the same data, so a fixture or constant
    * change that collapses a query to 0 rows still hash-matches
    * (SURVEY §7.10: hourly buckets once left the sf0.1 graph EMPTY
    * while every query stayed green) — and `scripts/check.py` now
    * fails it. The flag lives here, next to the query it blesses, so
    * the allowlist can never drift from the catalog.
    */
  final case class Q(name: String, fn: QueryFn, oracle: Option[String],
      streaming: Boolean = false, emptyOk: Boolean = false)

  def all: Seq[Q] =
    queries.ReferenceQueries.all ++
    queries.RelationalQueries.all ++
    queries.EventQueries.all ++
    queries.DedupQueries.all ++
    queries.SimilarityQueries.all ++
    queries.TextQueries.all ++
    queries.CorpusQueries.all ++
    queries.GovernanceQueries.all ++
    queries.GraphQueries.all ++
    queries.MultimodalQueries.all

  /** The queries `names` selects, in the order given (the whole catalog
    * when `names` is empty): the one query-name check the mains run
    * before they start a session. Throws listing every name the catalog
    * does not declare, so a typo never silently selects nothing.
    */
  def select(names: Seq[String]): Seq[Q] = {
    val byName = all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all else names.distinct.map(byName)
  }

  lazy val queryMap: Map[String, QueryFn] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The declared semantically-empty set (see [[Q.emptyOk]]): exported
    * to `empty_ok.json` by [[Verify]] so check.py's zero-row
    * non-degeneracy gate reads the allowlist from the code that
    * blesses it. */
  lazy val emptyOkNames: Set[String] =
    all.filter(_.emptyOk).map(_.name).toSet
}
