package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Catalog.Q
import graft.engine.{Cumulative, Tables}

/** Star/snowflake joins, semi/anti joins, set ops, relation shaping
  * (pivot/unpivot), and the join/layout audit queries of the
  * relational suite. Mechanical split of the former 3,806-line
  * `RelationalQueries.scala` along its family seams (round-16; the
  * r14 EventQueries precedent): every member kept its name and body,
  * mixed back into [[RelationalQueries]], whose Scaladoc carries the
  * suite-wide 100 TB design notes.
  */
private[queries] trait RelationalJoinQueries {
  /** Broadcast-hash dimension join: customer -> nation -> region. */
  val q06JoinDims: Q = Q(
    "q06_join_dims",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      val region = Tables.load(s, dir, "region")
      cust
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          // the decimal sum is cent-rounded BEFORE the double cast: a
          // low-scale decimal -> double is bit-identical across engines
          // (high-scale is not — DuckDB converts int128 then divides by
          // 10^scale, two roundings), and the single IEEE division after
          // it is too. No double round() anywhere (tie hazard).
          (round(sum(col("c_acctbal").cast("decimal(30,10)")), 2)
            .cast("double") / count(lit(1))).as("avg_bal"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name, count(*) AS n_cust,
            CAST(round(sum(CAST(c_acctbal AS DECIMAL(30,10))), 2) AS DOUBLE)
              / count(*) AS avg_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Star join: fact-fact shuffle join (lineitem x orders) + broadcast
    * dims; revenue per nation.
    */
  val q07StarRevenue: Q = Q(
    "q07_star_revenue",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val nation = Tables.load(s, dir, "nation")
      // nation is a FIXED-size dim: broadcast is always right. customer
      // SCALES with the fact data (~15 GB at TPC-H sf100), so it is NOT
      // hinted — AQE broadcasts it while it fits and falls back to a
      // shuffle join beyond that; at cluster scale both fact tables would
      // be bucketed on the join keys (r1 VERDICT design debt, resolved).
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          // per-row product in double (bit-identical both engines), then an
          // EXACT decimal sum — order-independent, so Spark's partial-agg
          // combine order can't flip a rounding boundary vs the oracle.
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(30,10)")), 2).cast("double").as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name,
            CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
              AS DECIMAL(30,10))), 2) AS DOUBLE) AS revenue,
            count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name"""))

  /** Left-semi join (EXISTS): customers having at least one 'F' order. */
  val q08SemiJoin: Q = Q(
    "q08_semi_join",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      val fOrders = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      cust.join(fOrders, Seq("c_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n_cust FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  val q09AntiJoin: Q = Q(
    "q09_anti_join",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      val withOrders = orders.select(col("o_custkey").as("c_custkey"))
      cust.join(withOrders, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, count(*) AS n_cust FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // legitimately empty at the SMALL VERIFIED SFs (sf0.001/sf0.01):
    // there the generated customers all have orders, so the anti-join's
    // correct answer is no rows. NOT a fixture invariant — at sf0.1 one
    // customer (c_nationkey=4) has no orders and the query returns 1
    // row (r19 ADVICE), which the gate happily accepts: emptyOk only
    // widens what 0 rows may mean, it never requires emptiness.
    // Declared here (not in a script-side list) so check.py's zero-row
    // degeneracy gate knows an empty result is the oracle truth
    emptyOk = true)

  /** Exact multi-column distinct counts (single + tuple). */
  val q12DistinctExact: Q = Q(
    "q12_distinct_exact",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.agg(
        count_distinct(col("l_partkey")).as("d_part"),
        count_distinct(col("l_suppkey")).as("d_supp"),
        count_distinct(col("l_partkey"), col("l_suppkey")).as("d_part_supp"))
    },
    // NB: Spark count_distinct(a, b) drops rows where ANY column is NULL;
    // DuckDB count(DISTINCT (a, b)) would count NULL-bearing tuples — the
    // WHERE-guarded subquery pins the Spark semantics explicitly instead
    // of relying on the fixture keys being non-null.
    Some("""SELECT count(DISTINCT l_partkey) AS d_part,
            count(DISTINCT l_suppkey) AS d_supp,
            (SELECT count(DISTINCT (l_partkey, l_suppkey)) FROM lineitem
             WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL)
              AS d_part_supp
            FROM lineitem"""))

  /** Pivot (wide aggregation): order counts per priority × status.
    * The pivot values are passed explicitly — with an inferred value list
    * Spark must run an extra distinct job over 100 TB just to name the
    * output columns; a declared list keeps it a single pass.
    */
  val q15Pivot: Q = Q(
    "q15_pivot",
    (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      orders.groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L) // absent combos: NULL under pivot, 0 under FILTER
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
            count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
            count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Set operations: INTERSECT and EXCEPT over customer key sets. */
  val q16SetOps: Q = Q(
    "q16_setops",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      val fCust = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val oCust = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"))
      val allCust = cust.select(col("c_custkey").as("k"))
      val anyCust = orders.select(col("o_custkey").as("k"))
      val both = fCust.intersect(oCust).select(lit("both_f_and_o").as("op"), col("k"))
      val none = allCust.except(anyCust).select(lit("no_orders").as("op"), col("k"))
      both.unionByName(none).orderBy("op", "k")
    },
    Some("""SELECT * FROM (
              SELECT 'both_f_and_o' AS op, k FROM (
                SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
              UNION ALL
              SELECT 'no_orders' AS op, k FROM (
                SELECT c_custkey AS k FROM customer
                EXCEPT
                SELECT o_custkey FROM orders))
            ORDER BY op, k"""))

  /** Snapshot CDC diff — the change-detection complement to the medallion
    * snapshot machinery (S3/q05 pick the latest snapshot; q84 merges a
    * change stream; THIS derives the change set between two table
    * versions): a full-outer join on the key classifies every row as
    * inserted / deleted / updated / unchanged, aggregated per nation.
    * The two versions are derived deterministically from `customer`
    * (v1 drops keys % 10 = 0; v2 drops keys % 7 = 0 and bumps acctbal
    * on keys % 3 = 0) so the oracle reconstructs both sides exactly.
    *
    * ## 100 TB notes
    * One co-partitioned shuffle per side on the key — and on a real
    * lake both snapshot versions are bucketed/partitioned identically
    * by construction (same writer), so the exchange disappears and the
    * diff is a zipped per-bucket merge. Payload comparison stays cheap
    * by hashing wide payloads into one comparison column first; here
    * the payload is a single double, compared directly. This is the
    * audit that validates any incremental pipeline: replaying the CDC
    * stream onto v1 must reproduce v2.
    */
  val q87SnapshotDiff: Q = Q(
    "q87_snapshot_diff",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val v1 = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
      val v2 = cust.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
        .select(col("c_custkey"), col("c_nationkey"),
          when(pmod(col("c_custkey"), lit(3)) === 0,
            col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      val j = v1.as("a").join(v2.as("b"),
        col("a.c_custkey") === col("b.c_custkey"), "full_outer")
      val status = when(col("a.c_custkey").isNull, "inserted")
        .when(col("b.c_custkey").isNull, "deleted")
        .when(col("a.c_acctbal") =!= col("b.c_acctbal"), "updated")
        .otherwise("unchanged")
      j.select(
          coalesce(col("a.c_nationkey"), col("b.c_nationkey")).as("nation"),
          status.as("status"))
        .groupBy(col("nation"), col("status"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("nation", "status")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer),
            v1 AS (SELECT * FROM c WHERE c_custkey % 10 != 0),
            v2 AS (SELECT c_custkey, c_nationkey,
                     CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
                          ELSE c_acctbal END AS c_acctbal
                   FROM c WHERE c_custkey % 7 != 0),
            d AS (SELECT coalesce(a.c_nationkey, b.c_nationkey) AS nation,
                    CASE WHEN a.c_custkey IS NULL THEN 'inserted'
                         WHEN b.c_custkey IS NULL THEN 'deleted'
                         WHEN a.c_acctbal != b.c_acctbal THEN 'updated'
                         ELSE 'unchanged' END AS status
                  FROM v1 a FULL OUTER JOIN v2 b
                    ON a.c_custkey = b.c_custkey)
            SELECT nation, status, count(*) AS n_rows
            FROM d GROUP BY nation, status ORDER BY nation, status"""))

  /** One PageRank iteration over the trade graph (customer-nation →
    * supplier-nation, edge weight = lineitem count), from a uniform
    * start vector, damping 0.85 — the link-analysis complement to the
    * connected-components queries (q43/q69).
    *
    * Determinism at scale: each edge's contribution `w/out_w` is
    * computed as the EXACT fixed-point integer `(w * 10^15) div out_w`
    * (both positive, so engine floor/truncate differences cannot bite;
    * each term <= 10^15, so the 25-term per-node sum is far from Long
    * range). The sum is order-independent bigint arithmetic; the final
    * rank is one fixed double op tree `0.006 + 0.034 * (q / 1e15)`
    * (= 0.15/N + 0.85 * r0 * sum, N = 25, r0 = 1/25), bit-identical
    * across engines. At 100 TB the edge aggregation is the q07 star
    * join's shuffle; the per-node contribution join shuffles the
    * 625-row edge table, not the facts.
    */
  val q89PagerankStep: Q = Q(
    "q89_pagerank_step",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val supp = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val edges = li
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("u"), col("s_nationkey").as("v"))
        .agg(count(lit(1)).as("w"))
      val outW = edges.groupBy("u").agg(sum("w").as("out_w"))
      val contrib = edges.join(outW, "u")
        .select(col("v"),
          expr("(CAST(w AS DECIMAL(38,0)) * 1000000000000000) " +
            "div CAST(out_w AS DECIMAL(38,0))").as("q"))
        .groupBy("v").agg(sum("q").as("in_q"))
      nation
        .join(contrib, col("n_nationkey") === col("v"), "left")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("in_q"), lit(0L)).as("in_q"))
        .withColumn("pr",
          lit(0.006) + lit(0.034) * (col("in_q").cast("double") / lit(1.0e15)))
        .orderBy("n_nationkey")
    },
    Some("""WITH e AS (SELECT c_nationkey AS u, s_nationkey AS v,
                         count(*) AS w
                       FROM lineitem
                       JOIN orders ON l_orderkey = o_orderkey
                       JOIN customer ON o_custkey = c_custkey
                       JOIN supplier ON l_suppkey = s_suppkey
                       GROUP BY 1, 2),
            o AS (SELECT u, CAST(sum(w) AS BIGINT) AS out_w
                  FROM e GROUP BY u),
            c AS (SELECT v, CAST(sum(CAST(
                      (CAST(w AS HUGEINT) * 1000000000000000)
                        // CAST(out_w AS HUGEINT) AS BIGINT)) AS BIGINT)
                    AS in_q
                  FROM e JOIN o USING (u) GROUP BY v)
            SELECT n_nationkey, n_name, coalesce(in_q, 0) AS in_q,
              0.006 + 0.034 * (CAST(coalesce(in_q, 0) AS DOUBLE) / 1e15)
                AS pr
            FROM nation LEFT JOIN c ON n_nationkey = v
            ORDER BY n_nationkey"""))

  /** Broadcast interval-dimension join: classify orders into price
    * tiers defined as [lo, hi) intervals — including an OVERLAPPING
    * "vip" tier, which is exactly why this is a join and not a CASE
    * bin: a row can land in several tiers, so no single-valued bucket
    * expression can express it.
    *
    * 100 TB: the tier table is a fixed-size dim -> `broadcast()`; the
    * plan is a BroadcastNestedLoopJoin whose inner side is 4 rows, so
    * the cost is 4 comparisons per fact row, map-side, no shuffle of
    * the fact table (the only exchange is the final tier aggregation).
    * Disjoint tiers would instead compile to the q113-style bin
    * expression; the operator exists for the general interval-dim case.
    */
  val q112TierJoin: Q = Q(
    "q112_tier_join",
    (s, dir) => {
      import s.implicits._
      val orders = Tables.load(s, dir, "orders")
      val tiers = Seq(
        ("budget", 0.0, 100000.0),
        ("mid", 100000.0, 250000.0),
        ("premium", 250000.0, 600000.0),
        ("vip", 400000.0, 600000.0)).toDF("tier", "lo", "hi")
      orders
        .join(broadcast(tiers),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double").as("total_price"))
        .orderBy("tier")
    },
    Some("""SELECT tier, count(*) AS n_orders,
            CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
              AS DOUBLE) AS total_price
            FROM orders
            JOIN (VALUES ('budget', 0.0, 100000.0),
                         ('mid', 100000.0, 250000.0),
                         ('premium', 250000.0, 600000.0),
                         ('vip', 400000.0, 600000.0)) t(tier, lo, hi)
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY tier ORDER BY tier"""))

  /** FULL OUTER join — the one join type the suite lacked (inner q06,
    * left q90's gap-fill frame, semi q08, anti q09, cross q103's 1-row
    * broadcast, as-of/range/interval in EventQueries): per-day order
    * counts reconciled against per-day shipment counts. Ship dates run
    * past the last order date and order days can ship nothing, so BOTH
    * unmatched regions are genuinely exercised — the null pattern in the
    * output is the proof of outerness, deliberately not coalesced away.
    *
    * ## 100 TB notes
    * Both sides pre-aggregate to |days| rows BEFORE the join (partial
    * aggs ride the scans; the join input is already tiny), so the full
    * outer join — which cannot broadcast (both sides must keep unmatched
    * rows) — shuffles only day-grain tables. The reconciliation-report
    * shape: aggregate first, outer-join the summaries, never
    * full-outer-join raw facts.
    */
  val q116FullOuter: Q = Q(
    "q116_full_outer",
    (s, dir) => {
      val dayUs = (c: org.apache.spark.sql.Column) =>
        unix_micros(date_trunc("day", c).cast("timestamp_ltz"))
      val o = Tables.load(s, dir, "orders")
        .groupBy(dayUs(col("o_orderdate")).as("day_us"))
        .agg(count(lit(1)).as("n_orders"))
      val l = Tables.load(s, dir, "lineitem")
        .groupBy(dayUs(col("l_shipdate")).as("day_us"))
        .agg(count(lit(1)).as("n_ships"))
      o.join(l, Seq("day_us"), "full_outer")
        .orderBy("day_us")
    },
    Some("""WITH o AS (SELECT epoch_us(date_trunc('day', o_orderdate))
                         AS day_us, count(*) AS n_orders
                       FROM orders GROUP BY 1),
            l AS (SELECT epoch_us(date_trunc('day', l_shipdate))
                    AS day_us, count(*) AS n_ships
                  FROM lineitem GROUP BY 1)
            SELECT day_us, n_orders, n_ships
            FROM o FULL JOIN l USING (day_us)
            ORDER BY day_us"""))

  /** UNPIVOT (melt) — the inverse of q15's pivot, and the missing
    * wide-to-long reshape: per-returnflag measure columns melted into
    * (flag, measure, value) rows via the native `unpivot` operator (no
    * union-of-projections re-scan on the Spark side; Catalyst expands it
    * to one Expand node over the aggregated input). The oracle is the
    * portable UNION ALL form over the same aggregate.
    *
    * ## 100 TB notes
    * Unpivot AFTER aggregation: the Expand multiplies rows by the
    * measure count, so melting the |flags|-row summary emits 3x|flags|
    * rows, while melting raw lineitem first would 3x the corpus before
    * the shuffle. Same aggregate-first rule as q116.
    */
  val q117Unpivot: Q = Q(
    "q117_unpivot",
    (s, dir) => {
      val sumD = (c: String) =>
        round(sum(col(c).cast("decimal(30,10)")), 2).cast("double")
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sumD("l_quantity").as("sum_qty"),
          sumD("l_extendedprice").as("sum_price"),
          sumD("l_discount").as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    },
    Some("""WITH a AS (SELECT l_returnflag,
              CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2)
                AS DOUBLE) AS sum_qty,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)
                AS DOUBLE) AS sum_price,
              CAST(round(sum(CAST(l_discount AS DECIMAL(30,10))), 2)
                AS DOUBLE) AS sum_disc
            FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, measure, value FROM (
              SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value
                FROM a
              UNION ALL
              SELECT l_returnflag, 'sum_price', sum_price FROM a
              UNION ALL
              SELECT l_returnflag, 'sum_disc', sum_disc FROM a)
            ORDER BY l_returnflag, measure"""))

  /** Bloom-filter membership as dataflow — the set-membership sketch
    * beside q120's frequency sketch: the filter is the DISTINCT set of
    * bit positions lit by k Carter–Wegman hashes over the key set (a
    * |bits|-bounded table regardless of input size), and a probe is a
    * member iff all k of its positions are lit — a broadcast join plus a
    * count-match. Probes are the customer keys shifted into a
    * half-overlapping range, so present keys, absent keys, and (2^17 bits
    * at ~10 bits/key) a realistic ~1-5% false-positive rate occurs at the
    * larger SFs. The
    * aggregate proves the contract both engines recompute identically:
    * zero false NEGATIVES ever, false positives counted exactly.
    *
    * ## 100 TB notes
    * The build side is a distinct over k x |keys| exploded rows that
    * map-side-collapses to <= |bits| rows — broadcast however big the key
    * set was; the probe side never shuffles (broadcast join + local
    * agg). This is the relational skeleton of Spark's own
    * `bloom_filter_agg`/`might_contain` runtime pruning
    * (`RuntimePruningSpec` exercises the native pair).
    */
  val q130BloomMembership: Q = Q(
    "q130_bloom_membership",
    (s, dir) => {
      val hashes = 5L
      val bits = 131072L
      val prime = 2147483647L
      def pos(k: Column, i: Column): Column =
        (k * (i * 1048573L + 7L) + (i * 2097143L + 31L)) % prime % bits
      val keys = Tables.load(s, dir, "customer").select(col("c_custkey"))
      val lit5 = sequence(lit(0L), lit(hashes - 1))
      val bitset = keys
        .select(explode(lit5).as("i"), col("c_custkey"))
        .select(pos(col("c_custkey"), col("i")).as("b"))
        .distinct()
      val mx = keys.agg(max(col("c_custkey")).as("mx")) // 1 row
      val probes = keys.crossJoin(broadcast(mx))
        .select((col("c_custkey") + expr("mx div 2")).as("probe"))
      val truth = probes
        .join(keys.select(col("c_custkey").as("probe")), Seq("probe"),
          "left_semi").select(col("probe"), lit(true).as("present"))
      val hit = probes
        .select(col("probe"), explode(lit5).as("i"))
        .join(broadcast(bitset), pos(col("probe"), col("i")) === col("b"),
          "left")
        .groupBy(col("probe"))
        .agg((count(col("b")) === hashes).as("bloom_hit"))
      hit.join(truth, Seq("probe"), "left")
        .select(col("probe"), coalesce(col("present"), lit(false))
          .as("present"), col("bloom_hit"))
        .groupBy(col("present"))
        .agg(count(lit(1)).as("n_probes"),
          count(when(col("bloom_hit"), 1)).as("n_hits"),
          count(when(col("present") && !col("bloom_hit"), 1))
            .as("n_false_negatives"),
          count(when(!col("present") && col("bloom_hit"), 1))
            .as("n_false_positives"))
        .orderBy("present")
    },
    Some("""WITH keys AS (SELECT c_custkey FROM customer),
            hh AS (SELECT unnest(generate_series(0, 4)) AS i),
            bitset AS (SELECT DISTINCT
                (c_custkey * (i * 1048573 + 7) + (i * 2097143 + 31))
                  % 2147483647 % 131072 AS b
              FROM keys CROSS JOIN hh),
            probes AS (SELECT c_custkey +
                (SELECT max(c_custkey) FROM keys) // 2 AS probe
              FROM keys),
            truth AS (SELECT probe,
                probe IN (SELECT c_custkey FROM keys) AS present
              FROM probes),
            hit AS (SELECT probe, count(b) = 5 AS bloom_hit
              FROM (SELECT p.probe, p.i, bs.b
                    FROM (SELECT probe, i FROM probes CROSS JOIN hh) p
                    LEFT JOIN bitset bs
                      ON (p.probe * (p.i * 1048573 + 7)
                          + (p.i * 2097143 + 31)) % 2147483647 % 131072 = bs.b)
              GROUP BY probe)
            SELECT present, count(*) AS n_probes,
              count(CASE WHEN bloom_hit THEN 1 END) AS n_hits,
              count(CASE WHEN present AND NOT bloom_hit THEN 1 END)
                AS n_false_negatives,
              count(CASE WHEN NOT present AND bloom_hit THEN 1 END)
                AS n_false_positives
            FROM hit JOIN truth USING (probe)
            GROUP BY present ORDER BY present"""))

  /** Snowflake-chain join: region → nation → customer → orders revenue,
    * the DEPTH dimension of q07's star (which fans three dims around one
    * fact). Each dimension hop is a broadcast hash join, so the
    * orders-sized stream flows through three build-side lookups without
    * ever shuffling — the canonical normalized-schema rollup plan at
    * 100 TB (and the case where join REORDERING matters: Catalyst is
    * free to collapse dim–dim joins first because they are all
    * broadcast).
    */
  val q135SnowflakeChain: Q = Q(
    "q135_snowflake_chain",
    (s, dir) => {
      val region = Tables.load(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(30,10)")), 2)
            .cast("double").as("revenue"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_orders,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
                AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Z-order (Morton) clustering layout audit — the data-skipping
    * story behind lakehouse `OPTIMIZE ZORDER BY (a, b)`: interleave the
    * bits of two scan dimensions, bucket rows by the top 6 z-bits
    * (64 would-be files), and report each bucket's row count and
    * per-dimension min/max. Because z-order is locality-preserving in
    * BOTH dimensions at once, every bucket's (min,max) envelope covers
    * ~1/8 of each dimension's range — so a point or range predicate on
    * EITHER column prunes ~7/8 of the files from their min/max stats
    * alone, which no single-column sort can do for both columns. The
    * bit-spread is the standard Morton magic-number sequence, written
    * with decimal mask literals as the same exact integer op tree on
    * both engines.
    *
    * Scale shape: pure projection (5 shifts/masks per dimension) + one
    * 64-group aggregate — map-side combined, one shuffle of 64 rows. At
    * 100 TB the same z-value IS the repartitionByRange key for the
    * actual rewrite; this query is its stats audit.
    */
  val q167ZorderLayout: Q = Q(
    "q167_zorder_layout",
    (s, dir) => {
      def spread(c: Column): Column = {
        // 16-bit value -> 32 bits with zeros interleaved (Morton)
        val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L))
        val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(252645135L))
        val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(858993459L))
        s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(1431655765L))
      }
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      // normalize each dimension to the full 16-bit range with EXACT
      // integer division against this run's max (div, not a double
      // divide+floor, whose rounding could disagree with DuckDB's //)
      val maxes = li.agg(max(col("l_partkey")).as("maxp"),
        max(col("l_suppkey")).as("maxs"))
      val px = expr("CAST(l_partkey AS BIGINT) * 65536 div (maxp + 1)")
      val sx = expr("CAST(l_suppkey AS BIGINT) * 65536 div (maxs + 1)")
      val z = spread(px).bitwiseOR(shiftleft(spread(sx), 1))
      li.crossJoin(broadcast(maxes))
        .select(col("l_partkey"), col("l_suppkey"),
          shiftright(z, 26).as("z_bucket"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_part"),
          max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"),
          max(col("l_suppkey")).as("max_supp"))
        .orderBy(col("z_bucket"))
    },
    Some("""WITH mx AS (SELECT max(l_partkey) AS maxp,
                max(l_suppkey) AS maxs FROM lineitem),
            sp AS (SELECT l_partkey, l_suppkey,
                (CAST(l_partkey AS BIGINT) * 65536) // (maxp + 1) AS px,
                (CAST(l_suppkey AS BIGINT) * 65536) // (maxs + 1) AS sx
              FROM lineitem, mx),
            s1 AS (SELECT l_partkey, l_suppkey,
                (px | (px << 8)) & 16711935 AS px,
                (sx | (sx << 8)) & 16711935 AS sx FROM sp),
            s2 AS (SELECT l_partkey, l_suppkey,
                (px | (px << 4)) & 252645135 AS px,
                (sx | (sx << 4)) & 252645135 AS sx FROM s1),
            s3 AS (SELECT l_partkey, l_suppkey,
                (px | (px << 2)) & 858993459 AS px,
                (sx | (sx << 2)) & 858993459 AS sx FROM s2),
            s4 AS (SELECT l_partkey, l_suppkey,
                (px | (px << 1)) & 1431655765 AS px,
                (sx | (sx << 1)) & 1431655765 AS sx FROM s3),
            zv AS (SELECT l_partkey, l_suppkey,
                (px | (sx << 1)) >> 26 AS z_bucket FROM s4)
            SELECT z_bucket, count(*) AS n_rows,
              min(l_partkey) AS min_part, max(l_partkey) AS max_part,
              min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
            FROM zv GROUP BY z_bucket ORDER BY z_bucket"""))

  /** Referential-integrity audit — orphan counts and exact-ppm orphan
    * rates across every foreign-key edge of the star schema in ONE
    * result: lineitem -> {orders, part, supplier}, orders -> customer,
    * {customer, supplier} -> nation, nation -> region. q09 proves the
    * anti-join operator on one edge; this is the DQ *report* a pipeline
    * gate consumes (the reference's quality layer checks emptiness and
    * row floors — plugins/data_quality_operator.py:60-66 — this is the
    * schema-wide cross-table generalization that layer lacks). Each
    * edge is `child LEFT ANTI JOIN parent` counted
    * against the child's total; edges are unioned with a stable edge
    * name so the report is one ordered relation.
    *
    * ## 100 TB notes
    * Dimension parents (nation, region, part, supplier, customer) reach
    * the anti-join by broadcast — no shuffle of the fact side; the one
    * fact-fact edge (lineitem -> orders) shuffles on orderkey exactly as
    * q09 does (bucketed co-location removes it on a real cluster). Each
    * edge's count is a 1-row map-side-combined aggregate; the union of
    * eight 1-row frames is free.
    */
  val q183OrphanAudit: Q = Q(
    "q183_orphan_audit",
    (s, dir) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val p = parent.select(col(pk))
        val par = if (bcast) broadcast(p) else p
        val orphans = child.select(col(ck))
          .join(par, col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(broadcast(orphans))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
            expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
      }
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val part = Tables.load(s, dir, "part")
      val supp = Tables.load(s, dir, "supplier")
      val cust = Tables.load(s, dir, "customer")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
      Seq(
        edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey",
          bcast = true),
        edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey",
          bcast = false),
        edge("lineitem->part", li, "l_partkey", part, "p_partkey",
          bcast = true),
        edge("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey",
          bcast = true),
        edge("nation->region", nat, "n_regionkey", reg, "r_regionkey",
          bcast = true),
        edge("orders->customer", ord, "o_custkey", cust, "c_custkey",
          bcast = true),
        edge("supplier->nation", supp, "s_nationkey", nat, "n_nationkey",
          bcast = true))
        .reduce(_.unionByName(_))
        .orderBy(col("edge"))
    },
    Some("""WITH e AS (
              SELECT 'customer->nation' AS edge,
                (SELECT count(*) FROM customer) AS n_child,
                (SELECT count(*) FROM customer c WHERE NOT EXISTS
                  (SELECT 1 FROM nation n
                   WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
              UNION ALL
              SELECT 'lineitem->orders',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM orders o
                   WHERE o.o_orderkey = l.l_orderkey))
              UNION ALL
              SELECT 'lineitem->part',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
              UNION ALL
              SELECT 'lineitem->supplier',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM supplier s
                   WHERE s.s_suppkey = l.l_suppkey))
              UNION ALL
              SELECT 'nation->region',
                (SELECT count(*) FROM nation),
                (SELECT count(*) FROM nation n WHERE NOT EXISTS
                  (SELECT 1 FROM region r
                   WHERE r.r_regionkey = n.n_regionkey))
              UNION ALL
              SELECT 'orders->customer',
                (SELECT count(*) FROM orders),
                (SELECT count(*) FROM orders o WHERE NOT EXISTS
                  (SELECT 1 FROM customer c
                   WHERE c.c_custkey = o.o_custkey))
              UNION ALL
              SELECT 'supplier->nation',
                (SELECT count(*) FROM supplier),
                (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                  (SELECT 1 FROM nation n
                   WHERE n.n_nationkey = s.s_nationkey)))
            SELECT edge, n_child, n_orphans,
              n_orphans * 1000000 // n_child AS orphan_ppm
            FROM e ORDER BY edge"""))

  /** Zone-map file-skipping audit — WHY data layout matters at 100 TB,
    * quantified: the same orders rows are assigned to files two ways
    * (arrival order `o_orderkey div 8192`, and weekly date partitions
    * `epoch_us div 7-days` — the layout a date-partitioned lake writes),
    * per-file min/max zone maps are computed for `o_orderdate`, and a
    * fixed 30-day predicate window (anchored at global-min + 300 days,
    * so it scales with the fixture) counts which files a scan could
    * SKIP outright (zone disjoint from the predicate range). Arrival
    * order leaves dates uncorrelated with files — near-zero skipping;
    * the date layout skips nearly everything. This is the measurement
    * behind q167's z-order layout and every `repartitionByRange` call
    * in the sinks: zone maps only prune when layout correlates with
    * the filter column.
    *
    * Scale shape: two map-side-combined aggregates keyed by file id
    * (file count ~ rows/8192 — bounded), a 1-row bounds broadcast, and
    * a 2-row union. Exact integer µs arithmetic throughout; rates in
    * exact ppm.
    */
  val q187ZonemapSkip: Q = Q(
    "q187_zonemap_skip",
    (s, dir) => {
      val weekUs = 7L * 86400L * 1000000L
      val dayUs = 86400L * 1000000L
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp_ltz")).as("d_us"))
      val bounds = o.agg(min(col("d_us")).as("gmin"))
        .select(col("gmin"),
          (col("gmin") + 300L * dayUs).as("lo"),
          (col("gmin") + 330L * dayUs).as("hi"))
      val rows = o.crossJoin(broadcast(bounds))
      def layout(name: String, fileId: Column): DataFrame =
        rows.groupBy(fileId.as("f"))
          .agg(min(col("d_us")).as("zmin"), max(col("d_us")).as("zmax"),
            count(lit(1)).as("n_rows"), min(col("lo")).as("lo"),
            min(col("hi")).as("hi"))
          .withColumn("skip", col("zmax") < col("lo") || col("zmin") > col("hi"))
          .agg(count(lit(1)).as("n_files"),
            count(when(col("skip"), 1)).as("n_skipped"),
            coalesce(sum(when(col("skip"), col("n_rows"))), lit(0L))
              .as("rows_skipped"))
          .select(lit(name).as("layout"), col("n_files"), col("n_skipped"),
            expr("n_skipped * 1000000 div n_files").as("skip_ppm"),
            col("rows_skipped"))
      layout("arrival", expr("o_orderkey div 8192"))
        .unionByName(layout("bydate", expr(s"d_us div $weekUs")))
        .orderBy(col("layout"))
    },
    Some("""WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS d_us
              FROM orders),
            b AS (SELECT min(d_us) + 300 * 86400000000 AS lo,
                min(d_us) + 330 * 86400000000 AS hi FROM o),
            za AS (SELECT o_orderkey // 8192 AS f, min(d_us) AS zmin,
                max(d_us) AS zmax, count(*) AS n_rows
              FROM o GROUP BY 1),
            zd AS (SELECT d_us // 604800000000 AS f, min(d_us) AS zmin,
                max(d_us) AS zmax, count(*) AS n_rows
              FROM o GROUP BY 1),
            ra AS (SELECT 'arrival' AS layout, count(*) AS n_files,
                count(*) FILTER (zmax < lo OR zmin > hi) AS n_skipped,
                coalesce(sum(n_rows) FILTER (zmax < lo OR zmin > hi), 0)
                  AS rows_skipped
              FROM za, b),
            rd AS (SELECT 'bydate' AS layout, count(*) AS n_files,
                count(*) FILTER (zmax < lo OR zmin > hi) AS n_skipped,
                coalesce(sum(n_rows) FILTER (zmax < lo OR zmin > hi), 0)
                  AS rows_skipped
              FROM zd, b)
            SELECT layout, n_files, n_skipped,
              n_skipped * 1000000 // n_files AS skip_ppm,
              CAST(rows_skipped AS BIGINT) AS rows_skipped
            FROM (SELECT * FROM ra UNION ALL SELECT * FROM rd)
            ORDER BY layout"""))

  /** Bloom-pruned join audit — the runtime-filter pattern that saves
    * shuffle bytes at 100 TB, measured end to end: the build side
    * (BUILDING-segment customers) publishes a 8192-bit / 3-hash Bloom
    * set (q130's deterministic integer hash family — no RNG, identical
    * on any engine), the probe side (every orders row) is tested
    * against it BEFORE the real join would shuffle, and the audit
    * reports exactly what the filter earned: probe rows, true matches
    * (the semi-join ground truth), Bloom-passing rows, false-positive
    * rows (pass - true; one-sided — Bloom never drops a true match,
    * and the spec asserts FN = 0 structurally via pass >= true), the
    * FP rate among true negatives, and the fraction of probe rows
    * pruned — all exact-integer ppm.
    *
    * ## 100 TB notes
    * This is precisely Spark's `spark.sql.optimizer.runtime.bloomFilter`
    * mechanics made explicit and auditable: the bitset is
    * dimension-sized and broadcast (the distinct-bit table is <= 8192
    * rows regardless of build cardinality); the probe side is touched
    * map-side only — one explode x3 bounded expansion against a
    * broadcast, no shuffle of unpruned fact rows anywhere in the
    * filter evaluation.
    */
  val q196BloomJoinAudit: Q = Q(
    "q196_bloom_join_audit",
    (s, dir) => {
      val hashes = 3L
      val bits = 8192L
      val prime = 2147483647L
      def pos(k: Column, i: Column): Column =
        (k * (i * 1048573L + 7L) + (i * 2097143L + 31L)) % prime % bits
      val is = sequence(lit(0L), lit(hashes - 1))
      val build = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val bitset = build.select(explode(is).as("i"), col("c_custkey"))
        .select(pos(col("c_custkey"), col("i")).as("b"))
        .distinct()
      val probe = Tables.load(s, dir, "orders").select(col("o_custkey"))
      val keys = probe.distinct()
      val pass = keys.select(col("o_custkey"), explode(is).as("i"))
        .join(broadcast(bitset), pos(col("o_custkey"), col("i")) === col("b"),
          "left")
        .groupBy(col("o_custkey"))
        .agg((count(col("b")) === hashes).as("pass"))
      val truth = keys
        .join(build.select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_semi")
        .select(col("o_custkey"), lit(true).as("hit"))
      val flagged = probe
        .join(broadcast(pass), Seq("o_custkey"))
        .join(broadcast(truth), Seq("o_custkey"), "left")
        .select(col("pass"), coalesce(col("hit"), lit(false)).as("hit"))
      val nb = build.agg(count(lit(1)).as("n_build"))
      flagged.agg(count(lit(1)).as("n_probe"),
          count(when(col("hit"), 1)).as("n_true"),
          count(when(col("pass"), 1)).as("n_pass"))
        .crossJoin(broadcast(nb))
        .select(col("n_build"), col("n_probe"), col("n_true"),
          col("n_pass"), (col("n_pass") - col("n_true")).as("n_fp"),
          expr("(n_pass - n_true) * 1000000 div (n_probe - n_true)")
            .as("fp_ppm"),
          expr("(n_probe - n_pass) * 1000000 div n_probe")
            .as("pruned_ppm"))
    },
    Some("""WITH build AS (SELECT c_custkey FROM customer
                           WHERE c_mktsegment = 'BUILDING'),
            hh AS (SELECT unnest(generate_series(0, 2)) AS i),
            bitset AS (SELECT DISTINCT
                (c_custkey * (i * 1048573 + 7) + (i * 2097143 + 31))
                  % 2147483647 % 8192 AS b
              FROM build CROSS JOIN hh),
            keys AS (SELECT DISTINCT o_custkey FROM orders),
            pass AS (SELECT o_custkey, count(b) = 3 AS pass
              FROM (SELECT k.o_custkey, bs.b
                    FROM keys k CROSS JOIN hh
                    LEFT JOIN bitset bs ON
                      (k.o_custkey * (hh.i * 1048573 + 7)
                        + (hh.i * 2097143 + 31)) % 2147483647 % 8192 = bs.b)
              GROUP BY o_custkey),
            truth AS (SELECT o_custkey, true AS hit FROM keys
                      WHERE o_custkey IN (SELECT c_custkey FROM build)),
            flagged AS (SELECT p.pass, coalesce(t.hit, false) AS hit
              FROM orders o
              JOIN pass p ON p.o_custkey = o.o_custkey
              LEFT JOIN truth t ON t.o_custkey = o.o_custkey),
            agg AS (SELECT count(*) AS n_probe,
                count(CASE WHEN hit THEN 1 END) AS n_true,
                count(CASE WHEN pass THEN 1 END) AS n_pass
              FROM flagged),
            nb AS (SELECT count(*) AS n_build FROM build)
            SELECT n_build, n_probe, n_true, n_pass,
              n_pass - n_true AS n_fp,
              (n_pass - n_true) * 1000000 // (n_probe - n_true) AS fp_ppm,
              (n_probe - n_pass) * 1000000 // n_probe AS pruned_ppm
            FROM agg, nb"""))

  /** Join-cardinality estimator audit — the textbook CBO formula
    * |A JOIN B| ~= |A|*|B| / max(ndv_A, ndv_B) (uniform-containment
    * assumption, System R) evaluated against the ACTUAL join count for
    * the three fact joins of the star. Per edge: the four exact input
    * statistics, the estimate (exact integer floor division of exact
    * integers — the formula itself), the true count, and the signed
    * error in exact ppm of actual. This is the audit a planner's
    * statistics pipeline runs to decide whether column NDVs are stale:
    * TPC-H-shaped data is nearly uniform, so errors are small; skewed
    * production keys blow the formula up — visibly, in one row.
    *
    * ## 100 TB notes
    * Inputs are map-side-combined count/approx-free NDV aggregates
    * (exact distinct — at 100 TB you'd substitute the HLL the q141
    * family provides; the AUDIT shape is unchanged); the actual join
    * count per edge is the same shuffle the real query would pay, which
    * is the point — run it once, trust the estimator until drift.
    */
  val q202JoinCardAudit: Q = Q(
    "q202_join_card_audit",
    (s, dir) => {
      def edge(name: String, a: DataFrame, ak: String, b: DataFrame,
          bk: String): DataFrame = {
        val sa = a.agg(count(lit(1)).as("na"),
          count_distinct(col(ak)).as("nda"))
        val sb = b.agg(count(lit(1)).as("nb"),
          count_distinct(col(bk)).as("ndb"))
        val actual = a.select(col(ak))
          .join(b.select(col(bk)), col(ak) === col(bk))
          .agg(count(lit(1)).as("actual"))
        sa.crossJoin(broadcast(sb)).crossJoin(broadcast(actual))
          .select(lit(name).as("edge"), col("na"), col("nb"),
            greatest(col("nda"), col("ndb")).as("ndv_max"),
            expr("(na * nb) div greatest(nda, ndb)").as("est"),
            col("actual"),
            expr("((na * nb) div greatest(nda, ndb) - actual) * 1000000 " +
              "div actual").as("err_ppm"))
      }
      val li = Tables.load(s, dir, "lineitem")
      Seq(
        edge("lineitem-orders", li, "l_orderkey",
          Tables.load(s, dir, "orders"), "o_orderkey"),
        edge("lineitem-part", li, "l_partkey",
          Tables.load(s, dir, "part"), "p_partkey"),
        edge("orders-customer", Tables.load(s, dir, "orders"), "o_custkey",
          Tables.load(s, dir, "customer"), "c_custkey"))
        .reduce(_.unionByName(_))
        .orderBy(col("edge"))
    },
    Some("""WITH e AS (
              SELECT 'lineitem-orders' AS edge,
                (SELECT count(*) FROM lineitem) AS na,
                (SELECT count(*) FROM orders) AS nb,
                greatest((SELECT count(DISTINCT l_orderkey) FROM lineitem),
                  (SELECT count(DISTINCT o_orderkey) FROM orders))
                  AS ndv_max,
                (SELECT count(*) FROM lineitem
                 JOIN orders ON l_orderkey = o_orderkey) AS actual
              UNION ALL
              SELECT 'lineitem-part',
                (SELECT count(*) FROM lineitem),
                (SELECT count(*) FROM part),
                greatest((SELECT count(DISTINCT l_partkey) FROM lineitem),
                  (SELECT count(DISTINCT p_partkey) FROM part)),
                (SELECT count(*) FROM lineitem
                 JOIN part ON l_partkey = p_partkey)
              UNION ALL
              SELECT 'orders-customer',
                (SELECT count(*) FROM orders),
                (SELECT count(*) FROM customer),
                greatest((SELECT count(DISTINCT o_custkey) FROM orders),
                  (SELECT count(DISTINCT c_custkey) FROM customer)),
                (SELECT count(*) FROM orders
                 JOIN customer ON o_custkey = c_custkey))
            SELECT edge, na, nb, ndv_max,
              (na * nb) // ndv_max AS est, actual,
              ((na * nb) // ndv_max - actual) * 1000000 // actual
                AS err_ppm
            FROM e ORDER BY edge"""))

  /** Drill-across — revenue per region computed from TWO fact tables
    * through the conformed customer->nation->region dimension chain:
    * path A rolls up order HEADERS (o_totalprice), path B rolls up
    * LINES (extendedprice x (1-disc) x (1+tax)); a real BI deployment
    * answers "revenue by region" from whichever mart is handy, so the
    * drill-across delta (exact signed ppm) is the number that says
    * whether those answers agree — the multi-fact conformance check
    * q227 does per-order, lifted to the reporting grain. Both paths
    * accumulate in decimal and round to cents IN DECIMAL; the ppm is
    * integer cross-multiplication on the cent values.
    *
    * ## 100 TB notes
    * Each path is a fact scan with broadcast dimension attaches
    * (nation/region fixed-size, customer AQE-decided); the final
    * region-grain join is 5 rows x 5 rows. Two scans total — the
    * irreducible drill-across cost.
    */
  val q235DrillAcross: Q = Q(
    "q235_drill_across",
    (s, dir) => {
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val region = Tables.load(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val custRegion = cust
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val pathA = orders
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"))
        .agg((round(sum(col("o_totalprice").cast("decimal(30,10)")), 2)
          * 100).cast("long").as("hdr_cents"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("net"))
      val pathB = li
        .join(orders.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"))
        .agg((round(sum(col("net").cast("decimal(30,10)")), 2) * 100)
          .cast("long").as("line_cents"))
      pathA.join(pathB, Seq("r_name"))
        .select(col("r_name"), col("hdr_cents"), col("line_cents"),
          expr("(line_cents - hdr_cents) * 1000000 div hdr_cents")
            .as("delta_ppm"))
        .orderBy(col("r_name"))
    },
    Some("""WITH cr AS (SELECT c_custkey, r_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey),
            pa AS (SELECT r_name,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)
                  * 100 AS BIGINT) AS hdr_cents
              FROM orders JOIN cr ON o_custkey = c_custkey
              GROUP BY r_name),
            pb AS (SELECT r_name,
                CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
                    * (1.0 + l_tax) AS DECIMAL(30,10))), 2) * 100
                  AS BIGINT) AS line_cents
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                            JOIN cr ON o_custkey = c_custkey
              GROUP BY r_name)
            SELECT pa.r_name, hdr_cents, line_cents,
              (line_cents - hdr_cents) * 1000000 // hdr_cents AS delta_ppm
            FROM pa JOIN pb ON pa.r_name = pb.r_name
            ORDER BY pa.r_name"""))

  /** Join fan-out profile — the EMPIRICAL group-size distribution of
    * the three star FK edges (orders per customer, lines per order,
    * lines per part): q202 audits what the optimizer's uniform
    * formula PREDICTS; this is what the data actually does, and the
    * p99/max tail is the number that decides salting (q115) and
    * skew-split (AQE) thresholds. Quantiles are exact discrete order
    * statistics walked over the (edge, group-size) histogram — the
    * same q40 machinery — so every column is an exact integer.
    *
    * ## 100 TB notes
    * Each edge is one map-side-combined count on its key; sizes then
    * collapse to an (edge, size) histogram BEFORE the quantile walk
    * ([[graft.engine.Cumulative.histogram]]), so the window runs over
    * distinct sizes, never over groups.
    */
  val q236FanoutProfile: Q = Q(
    "q236_fanout_profile",
    (s, dir) => {
      def sizes(df: DataFrame, key: String, edge: String): DataFrame =
        df.groupBy(col(key)).agg(count(lit(1)).as("sz"))
          .select(lit(edge).as("edge"), col("sz"))
      val orders = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val all3 = sizes(orders, "o_custkey", "orders_per_customer")
        .unionByName(sizes(li, "l_orderkey", "lines_per_order"))
        .unionByName(sizes(li, "l_partkey", "lines_per_part"))
      Cumulative.histogram(all3, Seq(col("edge")), col("sz"), count(lit(1)))
        .groupBy(col("edge"))
        .agg(max(col("n")).as("n_groups"),
          Cumulative.rankPick(col("sz"), 0.5).as("p50"),
          Cumulative.rankPick(col("sz"), 0.99).as("p99"),
          max(col("sz")).as("max_size"))
        .orderBy(col("edge"))
    },
    Some("""WITH s1 AS (SELECT 'orders_per_customer' AS edge,
                count(*) AS sz FROM orders GROUP BY o_custkey),
            s2 AS (SELECT 'lines_per_order' AS edge, count(*) AS sz
                   FROM lineitem GROUP BY l_orderkey),
            s3 AS (SELECT 'lines_per_part' AS edge, count(*) AS sz
                   FROM lineitem GROUP BY l_partkey),
            a AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
                  UNION ALL SELECT * FROM s3),
            h AS (SELECT edge, sz, count(*) AS c FROM a GROUP BY edge, sz),
            cu AS (SELECT *,
                sum(c) OVER (PARTITION BY edge ORDER BY sz
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER (PARTITION BY edge) AS n
              FROM h)
            SELECT edge, CAST(max(n) AS BIGINT) AS n_groups,
              min(CASE WHEN cum >= ceil(n * 0.5) THEN sz END) AS p50,
              min(CASE WHEN cum >= ceil(n * 0.99) THEN sz END) AS p99,
              max(sz) AS max_size
            FROM cu GROUP BY edge ORDER BY edge"""))

  /** Column-encoding selection audit — the per-column statistics a
    * 100 TB parquet writer tunes its encodings with: exact NDV, NDV as
    * ppm of rows, and the heaviest single value's share, folded into
    * the standard decision rule (low-cardinality → dictionary; a
    * dominant value on top → dictionary + run-length). Six columns
    * across lineitem/orders are unpivoted (`stack`) into one
    * (column, value) stream so a single aggregation pass covers them
    * all; `l_partkey` is the deliberate PLAIN control (NDV ~ rows).
    * The thresholds (NDV ≤ 4096 — a dictionary page that stays
    * CPU-cache-resident; top share ≥ 20 %) are the audit's declared
    * policy, not engine magic.
    *
    * ## 100 TB notes
    * The unpivot multiplies rows ×#columns BEFORE aggregation, but
    * map-side partial aggregation collapses each partition to its
    * distinct (column, value) pairs — the shuffle carries vocabulary,
    * not data. At petabyte scale the same numbers come free from
    * parquet footer statistics; this query is the from-first-
    * principles version that validates those footers. Timestamps
    * become epoch-DAY strings before grouping (exact integer µs
    * arithmetic, the Catalog contract — no raw timestamps anywhere).
    */
  val q271EncodingAudit: Q = Q(
    "q271_encoding_audit",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val liU = li.select(expr(
        """stack(4,
             'l_returnflag', l_returnflag,
             'l_linestatus', l_linestatus,
             'l_shipday', CAST(unix_micros(CAST(l_shipdate AS
                 TIMESTAMP_LTZ)) div 86400000000 AS STRING),
             'l_partkey', CAST(l_partkey AS STRING))
           AS (col_name, val)"""))
      val ordU = ord.select(expr(
        """stack(2,
             'o_orderpriority', o_orderpriority,
             'o_orderstatus', o_orderstatus)
           AS (col_name, val)"""))
      val grouped = liU.unionAll(ordU)
        .groupBy(col("col_name"), col("val"))
        .agg(count(lit(1)).as("c"))
      grouped.groupBy(col("col_name"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("ndv"),
          max(col("c")).as("top"))
        .select(col("col_name"), col("n"), col("ndv"),
          expr("ndv * 1000000 div n").as("ndv_ppm"),
          expr("top * 1000000 div n").as("top_share_ppm"),
          expr("""CASE
              WHEN ndv <= 4096 AND top * 1000000 div n >= 200000
                THEN 'DICT_RLE'
              WHEN ndv <= 4096 THEN 'DICT'
              ELSE 'PLAIN' END""").as("encoding"))
        .orderBy("col_name")
    },
    Some("""WITH u AS (
              SELECT 'l_returnflag' AS col_name, l_returnflag AS val
              FROM lineitem
              UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
              UNION ALL SELECT 'l_shipday',
                CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP))
                  // 86400000000 AS VARCHAR) FROM lineitem
              UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR)
              FROM lineitem
              UNION ALL SELECT 'o_orderpriority', o_orderpriority
              FROM orders
              UNION ALL SELECT 'o_orderstatus', o_orderstatus
              FROM orders),
            g AS (SELECT col_name, val, count(*) AS c
                  FROM u GROUP BY 1, 2),
            a AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n,
                    count(*) AS ndv, CAST(max(c) AS BIGINT) AS top
                  FROM g GROUP BY 1)
            SELECT col_name, n, ndv,
              ndv * 1000000 // n AS ndv_ppm,
              top * 1000000 // n AS top_share_ppm,
              CASE
                WHEN ndv <= 4096 AND top * 1000000 // n >= 200000
                  THEN 'DICT_RLE'
                WHEN ndv <= 4096 THEN 'DICT'
                ELSE 'PLAIN' END AS encoding
            FROM a ORDER BY col_name"""))

  /** Bucketed co-located join, end-to-end through the driver's oracle —
    * promotes `engine/Bucketing.scala` from plan-shape-only evidence
    * (`BucketingSpec` pins the exchange-free physical plan) to the
    * hash-checked driver gate, the round-12 pattern every other
    * mechanism already follows (q283 time travel, q292 paged source,
    * q293 change feed). Orders and customer are WRITTEN as external
    * catalog tables bucketed 8 ways on custkey via
    * [[graft.engine.Bucketing]],
    * read back, merge-joined on the bucket key (the `merge` hint keeps
    * the join on the sort-merge path the bucketed layout serves, not a
    * broadcast that would bypass it at this SF), and aggregated per
    * market segment with exact cents. A bucketing bug that drops or
    * duplicates a bucket file, routes rows to the wrong bucket, or
    * breaks the read-back distribution changes the counts/cents and
    * breaks the DuckDB hash computed from the original parquet.
    *
    * ## 100 TB notes
    * Bucketing persists the join's hash distribution INTO the layout:
    * both scans read co-located buckets, so the fact-fact join runs
    * with NO exchange — the dominant cost of a repeated 100 TB join
    * paid once at write time (PLANS.md: SortMergeJoin with only the
    * post-join group-by/order-by shuffles). The within-bucket sort
    * additionally lets the SMJ skip its per-partition sorts under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (off by
    * default since Spark 3.0; the sort-elision plan shape is pinned in
    * `BucketingSpec`, which sets it) — at worst the default plan pays
    * a spill-free per-partition sort of already-co-located rows. At
    * cluster scale the bucket count is sized to executor memory (e.g.
    * 4096 buckets, ~25 GB each), not the 8 used here; the group-by
    * after the join shuffles only the already-reduced segment rows.
    */
  val q295BucketedJoin: Q = Q(
    "q295_bucketed_join",
    (s, dir) => {
      import graft.engine.Bucketing
      // the bucketed writes are the layout under test, built once per
      // (JVM, fixture) as external tables under the memo's dir; every
      // later invocation exercises exactly the bucketed READ +
      // co-located join this query certifies. The table names come from
      // the dir, so two fixture dirs in one session never share one.
      def table(root: String, side: String) =
        "graft_" + new java.io.File(root).getName
          .replaceAll("[^A-Za-z0-9]", "_") + "_" + side
      val root = Tables.landedDir("q295_bucketed", dir,
          Seq("orders", "customer")) { r =>
        Bucketing.writeBucketed(
          Tables.load(s, dir, "orders")
            .withColumn("price_cents",
              round(col("o_totalprice") * 100).cast("long"))
            .select("o_custkey", "price_cents"),
          table(r, "orders"), "o_custkey", buckets = 8, s"$r/orders")
        Bucketing.writeBucketed(
          Tables.load(s, dir, "customer")
            .select("c_custkey", "c_mktsegment"),
          table(r, "customer"), "c_custkey", buckets = 8, s"$r/customer")
      }
      val o = Bucketing.readBucketed(s, table(root, "orders"))
      val c = Bucketing.readBucketed(s, table(root, "customer"))
      o.hint("merge")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_price_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY c_mktsegment"""))
}
