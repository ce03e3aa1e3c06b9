package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.{CollectLimitExec, ExpandExec, FileSourceScanExec, FilterExec, GenerateExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec, SparkPlan}

/** Structural row-count boundedness of a physical subplan — "is this
  * side safe to broadcast into a cross/nested-loop join at ANY data
  * scale?", answered from the plan shape plus the data model's reviewed
  * invariants, no row counts.
  *
  * ## Plan rules — bounded when output cardinality is fixed by CODE
  *
  *  - grouping-free aggregate: one row; grouped aggregate: at most the
  *    product of its grouping-key DOMAINS (expression rules below);
  *  - limits and literal `LocalTableScan`s / small literal `Range`s;
  *  - `region`/`nation` scans: the data model's fixed-cardinality
  *    dimensions (5/25 rows at every scale factor, the TPC-H invariant);
  *  - a filter comparing a UNIQUE dense id (`vec_id`, `doc_id`) `<`/`<=`/
  *    `=` a literal: at most literal-many rows (the ANN query-point
  *    attach: `vec_id < 3` is 3 rows at every SF because ids are unique —
  *    a reviewed data-model invariant, resolution follows renames);
  *  - `Generate` whose generator is built from bounded-domain inputs
  *    (explode of a literal array) over a bounded child;
  *  - `InMemoryTableScan` descends into the CACHED plan (with positional
  *    attr bridging — the relation re-numbers exprIds), so boundedness
  *    survives `Tables.eager`;
  *  - any other node is bounded iff all children are (a join of two
  *    bounded sides stays bounded — the product of two code constants).
  *
  * ## Expression rules — a domain is bounded when it can only take a
  * code-constant (or config-constant) number of values
  *
  *  - literals; `SPARK_PARTITION_ID()` (≤ the cluster's partition count —
  *    config, not data; this is `Cumulative.rankedCumSum`'s offset-table
  *    bound); domain-collapsing functions bounded regardless of input:
  *    `pmod`/`%` by a literal, calendar-part extractions, predicates
  *    ({true, false, null});
  *  - any deterministic function of bounded inputs — |f(X)| <= |X|, so
  *    boundedness propagates through casts, arithmetic, CASE, hashes
  *    without per-function rules (non-deterministic exprs never bound);
  *  - an attribute, by resolving every defining expression through the
  *    subtree's alias map: `Project`/aggregate aliases, `Expand`
  *    per-position projections, `Generate` outputs (domain ⊆ the
  *    generator's input values), and cached-relation positional bridges;
  *  - a LEAF attribute named in the reviewed ENUM set — `event_type`,
  *    `source`, `label`, `lang` and the TPC-H flag columns — fixture
  *    columns whose cardinality is a data-model constant (event-type
  *    enum, corpus source enum, cluster-label enum, TPC-H flags), the
  *    column-level analogue of the region/nation rule.
  *
  * Used by [[GlobalWindowPolicySpec]]'s cross-join policy; kept
  * test-side because it encodes REVIEW judgement (what counts as
  * bounded), not engine behavior.
  */
object PlanBounds {

  /** Fixed-cardinality dimension tables of the data model. */
  private val fixedDims = Set("region.parquet", "nation.parquet")

  /** Fixture columns with data-model-constant domains. `lang` joined in
    * round 20: the documents generator draws it from a fixed 5-language
    * enum (verified at sf0.01/sf0.1), the text-pipeline analogue of
    * `source`. The TPC-H flag columns are enums by the TPC-H spec:
    * `l_returnflag`, `l_linestatus`, `o_orderstatus` and
    * `o_orderpriority` hold 3, 2, 3 and 5 values at sf0.001, sf0.01 and
    * sf0.1 alike.
    */
  private val enumCols = Set("event_type", "source", "label", "lang",
    "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority")

  /** Unique dense-id columns: `id < k` selects at most k rows. */
  private val uniqueKeyCols = Set("vec_id", "doc_id")

  private type Aliases = Map[ExprId, Seq[Expression]]

  def bounded(p: SparkPlan): Boolean = boundedRows(p, aliasMap(p))

  /** Round-20 (VERDICT r19 #5): are ALL of `exprs` bounded-DOMAIN in
    * the alias scope of `scope`'s subtree? Used by
    * [[GlobalWindowPolicySpec]]'s collapsed-window gate: a `WindowExec`
    * whose partition keys are all code-constant-domain (an enum column,
    * pmod-by-literal, a calendar part) over an UNBOUNDED child collapses
    * the table into a constant number of window partitions — at 100 TB
    * each partition is a single-task sort of TB-scale data, the same
    * scale-killer as an empty partitionSpec, invisible to the
    * `partitionSpec.isEmpty` check. A bounded partition KEY must never
    * bless a window; only a bounded CHILD (or a scaling key) may.
    *
    * `SPARK_PARTITION_ID()` is deliberately NOT constant here
    * (`pidBounded = false`), unlike in the broadcast-boundedness rules:
    * for a broadcast side, "≤ the configured partition count" is a
    * usable bound (the offset table stays small), but as a WINDOW key
    * it is the one bounded-domain key that SCALES — one window
    * partition per data partition, each task-local
    * (`Cumulative.rankedCumSum`'s round-10 decomposition). Treating it
    * as constant would flag the very pattern that replaced the
    * single-partition windows.
    */
  def allConstantDomains(exprs: Seq[Expression], scope: SparkPlan): Boolean = {
    val aliases = aliasMap(scope)
    exprs.nonEmpty &&
      exprs.forall(boundedDomain(_, aliases, Set.empty, pidBounded = false))
  }

  private def boundedRows(p: SparkPlan, aliases: Aliases): Boolean =
    p match {
      case a: AdaptiveSparkPlanExec => boundedRows(a.initialPlan, aliases)
      case agg: BaseAggregateExec =>
        agg.groupingExpressions
          .forall(boundedDomain(_, aliases, Set.empty)) ||
          agg.children.forall(boundedRows(_, aliases))
      case _: GlobalLimitExec | _: CollectLimitExec | _: LocalLimitExec =>
        true
      case _: LocalTableScanExec => true
      case r: RangeExec => r.range.numElements <= 1000000
      case f: FileSourceScanExec =>
        // exact final-path-component match (r17 ADVICE): endsWith on the
        // full path string blessed any table whose NAME merely ends with
        // a dim name (big_region.parquet, fakeregion.parquet)
        f.relation.location.rootPaths.nonEmpty &&
          f.relation.location.rootPaths.forall(rp => fixedDims(rp.getName))
      case fl: FilterExec =>
        boundedRows(fl.child, aliases) || uniqueKeyRange(fl.condition, aliases)
      case g: GenerateExec =>
        boundedRows(g.child, aliases) &&
          boundedDomain(g.generator, aliases, Set.empty)
      case imts: InMemoryTableScanExec =>
        boundedRows(imts.relation.cachedPlan, aliases)
      case re: ReusedExchangeExec => boundedRows(re.child, aliases)
      case other =>
        other.children.nonEmpty &&
          other.children.forall(boundedRows(_, aliases))
    }

  /** exprId -> every defining expression seen in the subtree, including
    * inside cached relations (bridged positionally — InMemoryRelation
    * re-numbers its output exprIds).
    */
  private def aliasMap(p: SparkPlan): Aliases = {
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.initialPlan)
      case re: ReusedExchangeExec => re +: walk(re.child)
      case imts: InMemoryTableScanExec =>
        imts +: walk(imts.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(p).flatMap {
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        pr.projectList.collect {
          case a: Alias => a.exprId -> Seq[Expression](a.child) }
      case ag: BaseAggregateExec =>
        ag.resultExpressions.collect {
          case a: Alias => a.exprId -> Seq[Expression](a.child) }
      case ex: ExpandExec =>
        ex.output.zipWithIndex.map { case (attr, j) =>
          attr.exprId -> ex.projections.map(_(j)) }
      case g: GenerateExec =>
        g.generator match {
          // stack(n, a1..am, b1..bm, ...): output column j's domain is
          // the j-th slot of each row group — for the label column of an
          // unpivot that is exactly the literal tags
          case Stack(Literal(n: Int, _) +: args)
              if n > 0 && args.size % n == 0 =>
            val m = args.size / n
            g.generatorOutput.zipWithIndex.map { case (a, j) =>
              a.exprId -> (0 until n).map(i => args(i * m + j)) }
          // otherwise an exploded value's domain is contained in the
          // generator's input values: bounded inputs => bounded outputs
          case gen =>
            g.generatorOutput.map(a => a.exprId -> Seq[Expression](gen))
        }
      case imts: InMemoryTableScanExec =>
        // identity bridges (the relation kept the cached plan's exprIds)
        // would only trip the resolution cycle guard — skip them
        imts.relation.output.zip(imts.relation.cachedPlan.output).collect {
          case (rel, cached) if rel.exprId != cached.exprId =>
            rel.exprId -> Seq[Expression](cached) }
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        // round-20: DOMAIN-PRESERVING window functions only. lead/lag/
        // first/last/nth pick VALUES of their input (plus the offset
        // default), so the output domain is ⊆ input ∪ default — the
        // q122 shape (`dst = lead(event_type)` has the event-type enum
        // domain). min/max over any frame likewise. Everything else
        // (row_number, rank, sum, count, ...) ACCUMULATES — sum over a
        // bounded-domain input is NOT bounded-domain, so mapping those
        // through the generic f(bounded)=bounded rule would be unsound;
        // they stay unmapped leaves (= unbounded).
        w.windowExpression.flatMap {
          case a @ Alias(we: WindowExpression, _) =>
            val fn = we.windowFunction match {
              case ae: aggregate.AggregateExpression => ae.aggregateFunction
              case other => other
            }
            val dom: Option[Seq[Expression]] = fn match {
              case o: OffsetWindowFunction => Some(Seq(o.input, o.default))
              case f: aggregate.First => Some(Seq(f.child))
              case l: aggregate.Last => Some(Seq(l.child))
              case n: NthValue => Some(Seq(n.input))
              case m: aggregate.Min => Some(Seq(m.child))
              case m: aggregate.Max => Some(Seq(m.child))
              case _ => None
            }
            dom.map(a.exprId -> _)
          case _ => None
        }
      case _ => Seq.empty
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  private def boundedDomain(e: Expression, aliases: Aliases,
      seen: Set[ExprId], pidBounded: Boolean = true): Boolean = e match {
    case _: Literal => true
    // <= configured partition count: a usable bound for a broadcast
    // side, but a SCALING quantity (not a code constant) for the
    // collapsed-window gate — see allConstantDomains
    case _: SparkPartitionID => pidBounded
    // domain-collapsing regardless of the left input
    case Pmod(_, Literal(_, _), _) => true
    case Remainder(_, Literal(_, _), _) => true
    // calendar-part extractions: fixed small ranges
    case _: DayOfWeek | _: WeekDay | _: Month | _: Quarter | _: Hour |
        _: Minute | _: Second | _: DayOfMonth | _: DayOfYear |
        _: WeekOfYear => true
    // predicates: {true, false, null}
    case _: Predicate => true
    case a: Alias => boundedDomain(a.child, aliases, seen, pidBounded)
    case ar: AttributeReference =>
      if (seen(ar.exprId)) false
      else aliases.get(ar.exprId) match {
        case Some(defs) =>
          defs.nonEmpty &&
            defs.forall(
              boundedDomain(_, aliases, seen + ar.exprId, pidBounded))
        case None => enumCols(ar.name) // reviewed fixture enum, else leaf
      }
    case other =>
      other.deterministic && other.children.nonEmpty &&
        other.children.forall(boundedDomain(_, aliases, seen, pidBounded))
  }

  /** Does the condition pin a unique dense id under a literal?
    * (`vec_id < 3`, `doc_id <= k`, `vec_id = k` — at most literal-many
    * rows whatever the child's size.) The comparison must be a TOP-LEVEL
    * CONJUNCT: a match anywhere in the tree (under Or / Not / a CASE
    * branch) bounds nothing — `doc_id < 3 OR long_text` keeps most of
    * the table, and blessing it would silently stop the gate from
    * guarding. Name resolution follows rename chains so `a_id` aliased
    * from `doc_id` still qualifies.
    */
  private def uniqueKeyRange(cond: Expression, aliases: Aliases): Boolean = {
    def unique(e: Expression): Boolean = leafName(e, aliases, Set.empty)
      .exists(uniqueKeyCols)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).exists {
      case LessThan(a, _: Literal) => unique(a)
      case LessThanOrEqual(a, _: Literal) => unique(a)
      case EqualTo(a, _: Literal) => unique(a)
      case GreaterThan(_: Literal, a) => unique(a)
      case GreaterThanOrEqual(_: Literal, a) => unique(a)
      case EqualTo(_: Literal, a) => unique(a)
      case _ => false
    }
  }

  private def leafName(e: Expression, aliases: Aliases,
      seen: Set[ExprId]): Option[String] = e match {
    case ar: AttributeReference if !seen(ar.exprId) =>
      aliases.get(ar.exprId) match {
        case Some(Seq(single)) => leafName(single, aliases, seen + ar.exprId)
        case Some(_) => None // ambiguous definition: refuse
        case None => Some(ar.name)
      }
    case a: Alias => leafName(a.child, aliases, seen)
    // only ORDER-PRESERVING INJECTIVE casts may be looked through here
    // (r17 ADVICE): `id < k` bounds the row count because ids are unique
    // and the comparison is in id order. A numeric up-cast (int->long,
    // int->double) keeps both properties; CAST(id AS STRING) < '3' is
    // injective but LEXICOGRAPHIC — it selects unboundedly many rows —
    // so following it would bless an unbounded filter.
    case c: Cast
        if c.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          Cast.canUpCast(c.child.dataType, c.dataType) =>
      leafName(c.child, aliases, seen)
    case _ => None
  }
}
