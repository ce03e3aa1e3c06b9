package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.{Cumulative, Tables}
import graft.engine.Cumulative.rankPick

/** Statistics-adjacent relational queries: aggregate stats, moments,
  * quantiles/histograms, robust/outlier measures, rates and business
  * ratios. Mechanical split of the former 3,806-line
  * `RelationalQueries.scala` along its family seams (round-16; the
  * r14 EventQueries precedent): every member kept its name and body,
  * mixed back into [[RelationalQueries]], whose Scaladoc carries the
  * suite-wide 100 TB design notes.
  */
private[queries] trait RelationalStatsQueries {
  /** Multi-aggregate stats incl. exact distinct count per group. */
  val q10AggStats: Q = Q(
    "q10_agg_stats",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("cnt"),
          // exact decimal sums (partial-agg order can't change them),
          // ROUNDED IN DECIMAL (exact half-away, identical across engines)
          // before the double cast; averages are emitted as one unrounded
          // IEEE division — double round() is never applied (tie hazard).
          round(sum(col("l_quantity").cast("decimal(30,10)")), 2)
            .cast("double").as("sum_qty"),
          (round(sum(col("l_extendedprice").cast("decimal(30,10)")), 2)
            .cast("double") / count(lit(1))).as("avg_price"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          count_distinct(col("l_suppkey")).as("n_supp"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS cnt,
            CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))), 2) AS DOUBLE)
              AS sum_qty,
            CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
              / count(*) AS avg_price,
            min(l_extendedprice) AS min_price,
            max(l_extendedprice) AS max_price,
            count(DISTINCT l_suppkey) AS n_supp
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact grouped quantiles, DISCRETE variant: the value at rank
    * ceil(p*n) within each group. Discrete (an actual element, no
    * interpolation arithmetic) is chosen deliberately: the picked double
    * is bit-identical across engines, whereas continuous-quantile
    * interpolation formulas can differ in op order.
    *
    * Computed as a two-phase distributed selection, NOT a per-group
    * row_number sort: with only a handful of group keys, a window sorted
    * by raw rows would funnel ~n/3 rows into each of 3 partitions — a
    * 33 TB in-partition sort at the target scale. Instead: (1) histogram
    * shuffle on (group, value) — well-distributed however few groups;
    * (2) cumulative counts over the DISTINCT-value table, whose size is
    * bounded by the value domain, not the row count; the rank-r value is
    * the first distinct value whose cumulative count reaches r. Same
    * result, plan survives any group skew.
    */
  val q40QuantilesDisc: Q = Q(
    "q40_quantiles_disc",
    (s, dir) => {
      val price = col("l_extendedprice")
      Cumulative.histogram(Tables.load(s, dir, "lineitem"),
          Seq(col("l_returnflag")), price, count(lit(1)))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          rankPick(price, 0.25).as("p25"), rankPick(price, 0.5).as("p50"),
          rankPick(price, 0.75).as("p75"), rankPick(price, 0.9).as("p90"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, max(n) AS n,
              max(CASE WHEN rn = ceil(n * 0.25) THEN l_extendedprice END) AS p25,
              max(CASE WHEN rn = ceil(n * 0.5)  THEN l_extendedprice END) AS p50,
              max(CASE WHEN rn = ceil(n * 0.75) THEN l_extendedprice END) AS p75,
              max(CASE WHEN rn = ceil(n * 0.9)  THEN l_extendedprice END) AS p90
            FROM (SELECT l_returnflag, l_extendedprice,
                    row_number() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice) AS rn,
                    count(*) OVER (PARTITION BY l_returnflag) AS n
                  FROM lineitem)
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact weighted median per group — the price point at which half
    * the QUANTITY (not half the rows) has been sold: the smallest price
    * whose cumulative quantity reaches half the group total, decided by
    * the integer comparison 2*cum >= tot (no division, no float). The
    * robust "typical price" a mean can't give under heavy-tailed order
    * sizes, and the weighted counterpart of q40's discrete quantiles —
    * same histogram-cumulative shape: group to (flag, price) first, so
    * the window walks DISTINCT prices per group, not raw rows.
    *
    * The WHOLE query runs in integer CENTI-UNITS
    * (`floor(l_quantity*100)` as BIGINT, the q155 discipline): a sum
    * of decimal(30,2) saturates to the precision cap (38,2), and
    * arithmetic on precision-38 decimals (`cum * 2`) is exactly where
    * Spark's precision-loss rules and a DuckDB version's DOUBLE
    * promotion can disagree, flipping exact ties at the median
    * crossing — and even a REPORTED decimal column is a cross-engine
    * surface, because double→decimal cast rounding differs between
    * Spark (shortest-representation HALF_UP via BigDecimal.valueOf)
    * and DuckDB builds that scale the raw binary double. So there is
    * no decimal anywhere: the group quantity total is emitted as the
    * exact BIGINT centi sum `tot_qty_centi`, and `wmedian` is a
    * raw-double passthrough (selection, not arithmetic). BIGINT
    * (HUGEINT-widened on DuckDB) is exact on both engines; nothing
    * left in the query can disagree across engines or versions.
    *
    * ## 100 TB notes
    * One shuffle to the (flag, price) histogram with map-side partials
    * (the heavy reduction), then [[graft.engine.Cumulative.histogram]]'s
    * per-flag windows over distinct prices only. Centi-unit
    * quantities accumulate in int64 — exact, order-independent — so the
    * crossing point is partitioning-invariant.
    * (int64 centi-quantity holds ~9.2e16 = 9.2e14 quantity units;
    * fine past sf100k.)
    */
  val q175WeightedMedian: Q = Q(
    "q175_weighted_median",
    (s, dir) => {
      Cumulative.histogram(Tables.load(s, dir, "lineitem"),
          Seq(col("l_returnflag")), col("l_extendedprice"),
          sum(floor(col("l_quantity") * 100).cast("long")))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("cum") * 2 >= col("n"), col("l_extendedprice")))
            .as("wmedian"),
          max(col("n")).as("tot_qty_centi"))
        .orderBy("l_returnflag")
    },
    Some("""WITH hist AS (SELECT l_returnflag, l_extendedprice,
                sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS wc
              FROM lineitem GROUP BY 1, 2),
            cum AS (SELECT l_returnflag, l_extendedprice,
                sum(wc) OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(wc) OVER (PARTITION BY l_returnflag) AS tot
              FROM hist)
            SELECT l_returnflag,
              min(CASE WHEN cum * 2 >= tot THEN l_extendedprice END)
                AS wmedian,
              CAST(max(tot) AS BIGINT) AS tot_qty_centi
            FROM cum GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Distributed second moments, deterministically: population variance /
    * stddev of price and covariance(quantity, price) per group — never
    * the stddev()/covar() builtins, whose double accumulation order is
    * partitioning-dependent. The moment formula n*Sxy - Sx*Sy suffers
    * catastrophic cancellation, so ulp-level input differences explode:
    * the fix is EXACT arithmetic until the final op. Prices are integer
    * cents and quantities integers in this domain, so every sum and the
    * whole numerator are exact integers (decimal(38,0) on Spark, HUGEINT
    * on DuckDB); the single scale-0 cast to double is correctly rounded
    * on both engines, and the closing division is one identical IEEE op
    * tree. One partial-agg shuffle; scales like any grouped sum (the
    * int64 cents sums would widen to decimal at ~sf10, stated inline).
    */
  val q41Moments: Q = Q(
    "q41_moments",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // exact integer units: cents for price, whole units for quantity
      val centsY = round(col("l_extendedprice") * 100).cast("long")
      val intX = round(col("l_quantity")).cast("long")
      // sums in decimal(38,0): exact, order-independent; int64 would
      // overflow sum(cents^2) beyond ~sf1
      def isum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
      val agged = li
        .select(col("l_returnflag"), centsY.as("yc"), intX.as("xi"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          isum(col("yc")).as("sy"), isum(col("yc") * col("yc")).as("syy"),
          isum(col("xi")).as("sx"), isum(col("xi") * col("yc")).as("sxy"))
      val nDec = col("n").cast("decimal(38,0)")
      val numVar = (nDec * col("syy") - col("sy") * col("sy")).cast("double")
      val numCov = (nDec * col("sxy") - col("sx") * col("sy")).cast("double")
      val nD = col("n").cast("double")
      val varY = numVar / (nD * nD * 10000.0) // cents^2 -> currency^2
      agged.select(col("l_returnflag"), col("n"),
          varY.as("var_price"),
          sqrt(varY).as("stddev_price"),
          (numCov / (nD * nD * 100.0)).as("covar_qty_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, n,
              CAST(n*syy - sy*sy AS DOUBLE) / (nd * nd * 10000.0) AS var_price,
              sqrt(CAST(n*syy - sy*sy AS DOUBLE) / (nd * nd * 10000.0))
                AS stddev_price,
              CAST(n*sxy - sx*sy AS DOUBLE) / (nd * nd * 100.0)
                AS covar_qty_price
            FROM (SELECT l_returnflag, count(*) AS n, count(*)::DOUBLE AS nd,
                    sum(yc) AS sy, sum(yc*yc) AS syy,
                    sum(xi) AS sx, sum(xi*yc) AS sxy
                  FROM (SELECT l_returnflag,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS yc,
                          CAST(round(l_quantity) AS BIGINT) AS xi
                        FROM lineitem) GROUP BY l_returnflag)
            ORDER BY l_returnflag"""))

  /** Deterministic string aggregation: nations per region as a sorted,
    * comma-joined list. collect_list's arrival order is partitioning-
    * dependent, so the array is SORTED before joining — the only way a
    * concatenation aggregate is reproducible on a cluster. State is
    * bounded by group member count (fine for dimension rollups; don't
    * string-agg a fact table).
    */
  val q55StringAgg: Q = Q(
    "q55_string_agg",
    (s, dir) => {
      val nation = Tables.load(s, dir, "nation")
      val region = Tables.load(s, dir, "region")
      nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_nations,
              string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Regex extraction inside a projection: the leading digit of
    * o_orderpriority ('1-URGENT' -> 1) feeding a conditional aggregate —
    * regexp_extract parity holds across engines for such anchored
    * digit-class patterns (no engine-specific regex features).
    */
  val q56RegexExtract: Q = Q(
    "q56_regex_extract",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.select(col("o_orderstatus"),
          // try_cast: regexp_extract yields '' on non-match, and a strict
          // ANSI cast would crash the query instead of producing NULL
          regexp_extract(col("o_orderpriority"), "^(\\d+)", 1)
            .try_cast("int").as("prio"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          count(when(col("prio") <= 2, 1)).as("n_high_prio"),
          min(col("prio")).as("min_prio"), max(col("prio")).as("max_prio"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
              count(*) FILTER (prio <= 2) AS n_high_prio,
              min(prio) AS min_prio, max(prio) AS max_prio
            FROM (SELECT o_orderstatus,
                    TRY_CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INT)
                      AS prio
                  FROM orders)
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Equi-width histogram (10 buckets) over l_extendedprice — the
    * profiling complement to q40's equi-depth quantiles.
    *
    * Two passes: (1) global min/max (one partial-agg reduce), broadcast
    * as a 1-row relation; (2) a map-only bin expression + the bucket
    * aggregation. The bin index is ONE double op tree —
    * floor((v - lo) / ((hi - lo) / 10)) clamped to 9 so v = max lands
    * in the last bucket — identical IEEE ops on both engines, so even a
    * value exactly on a bucket edge bins identically. A single-valued
    * column (hi = lo) is pinned to bucket 0 by an explicit CASE on both
    * engines, never left to NaN binning. At 100 TB both
    * passes are full scans but shuffle only the 10-row result;
    * at cluster scale pass (1) would come free from parquet
    * column statistics.
    */
  val q113Histogram: Q = Q(
    "q113_histogram",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val stats = li.agg(min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      li.select(col("l_extendedprice").as("v"))
        .crossJoin(broadcast(stats))
        // hi = lo (single-valued column) would make the width 0/0 = NaN,
        // where Spark's non-ANSI floor->cast yields bucket 0 but DuckDB's
        // CAST(floor(NaN) AS BIGINT) errors — pin the degenerate case to
        // bucket 0 explicitly, with the identical CASE on the oracle side
        .select(col("v"),
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("v") - col("lo")) /
              ((col("hi") - col("lo")) / lit(10.0))), lit(9L))).as("bucket"),
          col("lo"), col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("v").cast("decimal(30,10)")), 2).cast("double")
            .as("sum_v"),
          (first(col("lo")) + col("bucket").cast("double") *
            ((first(col("hi")) - first(col("lo"))) / lit(10.0)))
            .as("bucket_lo"))
        .select(col("bucket"), col("bucket_lo"), col("n_rows"), col("sum_v"))
        .orderBy("bucket")
    },
    Some("""WITH s AS (SELECT min(l_extendedprice) AS lo,
                              max(l_extendedprice) AS hi FROM lineitem),
            b AS (SELECT CASE WHEN hi = lo THEN 0
                      ELSE least(CAST(floor((l_extendedprice - lo) /
                        ((hi - lo) / 10.0)) AS BIGINT), 9) END AS bucket,
                    l_extendedprice AS v, lo, hi
                  FROM lineitem CROSS JOIN s)
            SELECT bucket,
              any_value(lo) + CAST(bucket AS DOUBLE) *
                ((any_value(hi) - any_value(lo)) / 10.0) AS bucket_lo,
              count(*) AS n_rows,
              CAST(round(sum(CAST(v AS DECIMAL(30,10))), 2) AS DOUBLE)
                AS sum_v
            FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Pairwise Pearson correlation matrix over the four lineitem value
    * columns, from ONE pass of moment sums (the q41 posture extended to
    * cross-moments).
    *
    * Determinism: every sum (x, x^2, x*y) is accumulated EXACTLY in
    * decimal(30,10) over bit-identical per-row double products, rounded
    * to 2 in decimal, and only then cast to double — both engines then
    * evaluate the identical correlation op tree (IEEE mul/sub/div and
    * correctly-rounded sqrt), so the result is bit-identical without
    * any tolerance. The 15 aggregates ride one partial-agg reduce to a
    * single row; the 6 output rows explode out of that row — at
    * 100 TB this is one scan, no shuffle beyond the reduce, vs six
    * separate corr() passes.
    *
    * l_extendedprice is pre-scaled by 0.001 on BOTH engines: Pearson
    * correlation is exactly scale-invariant, and the scaling keeps every
    * rounded moment sum's cent-unscaled integer below 2^53 — beyond
    * that, Spark's single-rounding BigDecimal->double cast and DuckDB's
    * two-rounding int128->double-then-divide cast can disagree by 1 ulp
    * (the q06 low-scale-only cast-parity rule, hit here because sums of
    * SQUARES reach 2.2e15 at sf0.1 already).
    */
  val q114CorrMatrix: Q = Q(
    "q114_corr_matrix",
    (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // widen: 15 decimal sums per row are compute-bound, and the
      // single-row-group fixture scan would run them on ONE thread
      // (order-independent exact sums, so the shuffle cannot change
      // the result; no-op at scale — see Tables.widen)
      val li = Tables.widen(s, Tables.load(s, dir, "lineitem")
        .select(col("l_quantity"),
          (col("l_extendedprice") * lit(0.001)).as("l_extendedprice"),
          col("l_discount"), col("l_tax")))
      def dsum(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round(sum(e.cast("decimal(30,10)")), 2).cast("double")
      val sums = li.agg(
        count(lit(1)).cast("double").as("n"),
        cols.map(c => dsum(col(c)).as(s"s_$c")) ++
          cols.map(c => dsum(col(c) * col(c)).as(s"ss_$c")) ++
          cols.combinations(2).map { case Seq(x, y) =>
            dsum(col(x) * col(y)).as(s"sp_${x}_$y")
          }.toSeq: _*)
      // the six rows explode out of the one moment row, so the moment
      // row has one consumer and the scan + aggregate run once
      val pairs = cols.combinations(2).map { case Seq(x, y) =>
        struct(lit(x).as("xcol"), lit(y).as("ycol"),
          ((col("n") * col(s"sp_${x}_$y") - col(s"s_$x") * col(s"s_$y")) /
            (sqrt(col("n") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")) *
              sqrt(col("n") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y"))))
            .as("corr"))
      }.toSeq
      sums.select(explode(array(pairs: _*)).as("p"))
        .select("p.*").orderBy("xcol", "ycol")
    },
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def dsum(e: String) =
        s"CAST(round(sum(CAST($e AS DECIMAL(30,10))), 2) AS DOUBLE)"
      val aggs = (Seq("CAST(count(*) AS DOUBLE) AS n") ++
        cols.map(c => s"${dsum(c)} AS s_$c") ++
        cols.map(c => s"${dsum(s"$c * $c")} AS ss_$c") ++
        cols.combinations(2).map { case Seq(x, y) =>
          s"${dsum(s"$x * $y")} AS sp_${x}_$y"
        }).mkString(", ")
      val rows = cols.combinations(2).map { case Seq(x, y) =>
        s"""SELECT '$x' AS xcol, '$y' AS ycol,
              (n * sp_${x}_$y - s_$x * s_$y) /
                (sqrt(n * ss_$x - s_$x * s_$x) *
                 sqrt(n * ss_$y - s_$y * s_$y)) AS corr
            FROM m"""
      }.mkString(" UNION ALL ")
      s"""WITH li AS (SELECT l_quantity,
                        l_extendedprice * CAST(0.001 AS DOUBLE)
                          AS l_extendedprice,
                        l_discount, l_tax FROM lineitem),
          m AS (SELECT $aggs FROM li) $rows ORDER BY xcol, ycol"""
    })

  /** q124/q157's orders with planted spikes (`x` = total price x100
    * where `o_orderkey % 997 = 0`, ~0.1% of rows; the q61 idiom): the
    * fixture's uniform metrics would leave a 3 x MAD detector dead code.
    */
  private def spikedOrders(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderstatus").as("flag"),
        when(pmod(col("o_orderkey"), lit(997)) === 0,
          col("o_totalprice") * 100).otherwise(col("o_totalprice"))
          .as("x"))

  /** Robust outlier detection via MAD (median absolute deviation): per
    * group, the discrete median of the metric, then the discrete median
    * of absolute deviations from it, then a count of rows beyond
    * 3 x MAD. Two rank-pick passes (the q40 histogram/cum-rank idiom —
    * no interpolating percentile, whose midpoint arithmetic differs
    * between engines) and one counting pass; the 5-row median table is
    * broadcast back to the fact both times, so the only fact-sized
    * shuffles are the two per-(group, value) histograms. Every compared
    * value is an ACTUAL element of the data (exact cents-valued
    * doubles), so engine parity is structural, not numeric luck.
    */
  val q124MadOutliers: Q = Q(
    "q124_mad_outliers",
    (s, dir) => {
      val li = spikedOrders(s, dir)
      val med = Cumulative.histogram(li, Seq(col("flag")), col("x"),
          count(lit(1)))
        .groupBy(col("flag")).agg(rankPick(col("x"), 0.5).as("med"))
      val dev = li.join(broadcast(med), "flag")
        .select(col("flag"), abs(col("x") - col("med")).as("d"))
      val mad = Cumulative.histogram(dev, Seq(col("flag")), col("d"),
          count(lit(1)))
        .groupBy(col("flag")).agg(rankPick(col("d"), 0.5).as("mad"))
      li.join(broadcast(med), "flag").join(broadcast(mad), "flag")
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med"), max(col("mad")).as("mad"),
          count(when(abs(col("x") - col("med")) > col("mad") * 3, 1))
            .as("n_outliers"))
        .orderBy("flag")
    },
    Some("""WITH li AS (SELECT o_orderstatus AS flag,
                          CASE WHEN o_orderkey % 997 = 0
                               THEN o_totalprice * 100
                               ELSE o_totalprice END AS x
                        FROM orders),
            m AS (SELECT flag,
                    min(CASE WHEN cum >= ceil(n * 0.5) THEN x END) AS med
                  FROM (SELECT flag, x,
                          sum(cnt) OVER (PARTITION BY flag ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS cum,
                          sum(cnt) OVER (PARTITION BY flag) AS n
                        FROM (SELECT flag, x, count(*) AS cnt FROM li
                              GROUP BY 1, 2))
                  GROUP BY flag),
            d AS (SELECT li.flag, abs(x - med) AS d
                  FROM li JOIN m USING (flag)),
            md AS (SELECT flag,
                     min(CASE WHEN cum >= ceil(n * 0.5) THEN d END) AS mad
                   FROM (SELECT flag, d,
                           sum(cnt) OVER (PARTITION BY flag ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS cum,
                           sum(cnt) OVER (PARTITION BY flag) AS n
                         FROM (SELECT flag, d, count(*) AS cnt FROM d
                               GROUP BY 1, 2))
                   GROUP BY flag)
            SELECT flag, count(*) AS n, max(med) AS med, max(mad) AS mad,
              count(CASE WHEN abs(x - med) > mad * 3 THEN 1 END)
                AS n_outliers
            FROM li JOIN m USING (flag) JOIN md USING (flag)
            GROUP BY flag ORDER BY flag"""))

  /** Equi-DEPTH histogram (quantile binning) — the partner of q113's
    * equi-width bins: per returnflag, 8 buckets of (as close as ties
    * allow) equal row counts, assigned at VALUE granularity from the
    * q40 histogram/cumulative-rank idiom, so all rows of one value land
    * in one bucket (tie-coherent, hence engine-deterministic). Emits per
    * bucket the row count and value bounds. Same scale shape as q40:
    * per-flag histogram shuffle, then the
    * [[graft.engine.Cumulative.histogram]] walk over it.
    */
  val q136EquidepthHistogram: Q = Q(
    "q136_equidepth_histogram",
    (s, dir) => {
      val buckets = 8L
      Cumulative.histogram(Tables.load(s, dir, "lineitem"),
          Seq(col("l_returnflag")), col("l_extendedprice"), count(lit(1)))
        // value-level depth bucket from the cum rank of the value's LAST
        // row: floor((cum-1) * B / n), clamped by construction to B-1
        .withColumn("bucket",
          expr(s"(cum - 1) * $buckets div n"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("n_values"),
          sum(col("w")).as("n_rows"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy("l_returnflag", "bucket")
    },
    Some("""WITH h AS (SELECT l_returnflag, l_extendedprice,
                         count(*) AS cnt
                       FROM lineitem GROUP BY 1, 2),
            c AS (SELECT *,
                    sum(cnt) OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice
                      ROWS UNBOUNDED PRECEDING) AS cum,
                    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
                  FROM h)
            SELECT l_returnflag, CAST((cum - 1) * 8 // n AS BIGINT)
                AS bucket,
              count(*) AS n_values, CAST(sum(cnt) AS BIGINT) AS n_rows,
              min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
            FROM c GROUP BY 1, 2 ORDER BY l_returnflag, bucket"""))

  /** Percentile winsorization — the robust-preprocessing partner of
    * q124's MAD detector: per status, order values are CLAMPED into
    * [p05, p95] (discrete rank-picked percentiles, actual elements —
    * the q40 idiom, no interpolation) over the q124 planted-spike
    * fixture, so the clamp genuinely fires. Emits per group the clamp
    * counts and the decimal-exact sums before/after — the exact "how
    * much did winsorization move the total" audit a feature pipeline
    * records. Two passes over the (group, value) histogram plus one
    * broadcast join back; all comparisons against actual data elements.
    */
  val q157Winsorize: Q = Q(
    "q157_winsorize",
    (s, dir) => {
      val li = spikedOrders(s, dir)
      val bounds = Cumulative.histogram(li, Seq(col("flag")), col("x"),
          count(lit(1)))
        .groupBy(col("flag"))
        .agg(rankPick(col("x"), 0.05).as("p05"),
          rankPick(col("x"), 0.95).as("p95"))
      li.join(broadcast(bounds), "flag")
        .select(col("flag"), col("x"),
          least(greatest(col("x"), col("p05")), col("p95")).as("w"),
          col("p05"), col("p95"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          count(when(col("x") < col("p05"), 1)).as("n_clamped_low"),
          count(when(col("x") > col("p95"), 1)).as("n_clamped_high"),
          max(col("p05")).as("p05"), max(col("p95")).as("p95"),
          round(sum(col("x").cast("decimal(30,10)")), 2).cast("double")
            .as("raw_sum"),
          round(sum(col("w").cast("decimal(30,10)")), 2).cast("double")
            .as("winsorized_sum"))
        .orderBy("flag")
    },
    Some("""WITH li AS (SELECT o_orderstatus AS flag,
                          CASE WHEN o_orderkey % 997 = 0
                               THEN o_totalprice * 100
                               ELSE o_totalprice END AS x
                        FROM orders),
            c AS (SELECT flag, x,
                    sum(cnt) OVER (PARTITION BY flag ORDER BY x
                      ROWS UNBOUNDED PRECEDING) AS cum,
                    sum(cnt) OVER (PARTITION BY flag) AS n
                  FROM (SELECT flag, x, count(*) AS cnt FROM li
                        GROUP BY 1, 2)),
            b AS (SELECT flag,
                    min(CASE WHEN cum >= ceil(n * 0.05) THEN x END) AS p05,
                    min(CASE WHEN cum >= ceil(n * 0.95) THEN x END) AS p95
                  FROM c GROUP BY flag)
            SELECT flag, count(*) AS n,
              count(CASE WHEN x < p05 THEN 1 END) AS n_clamped_low,
              count(CASE WHEN x > p95 THEN 1 END) AS n_clamped_high,
              max(p05) AS p05, max(p95) AS p95,
              CAST(round(sum(CAST(x AS DECIMAL(30,10))), 2) AS DOUBLE)
                AS raw_sum,
              CAST(round(sum(CAST(least(greatest(x, p05), p95)
                AS DECIMAL(30,10))), 2) AS DOUBLE) AS winsorized_sum
            FROM li JOIN b USING (flag)
            GROUP BY flag ORDER BY flag"""))

  /** Wilson score intervals for per-group proportions — the
    * small-sample-safe confidence interval every rate dashboard should
    * use instead of the normal approximation (which goes negative near
    * 0): fulfillment rate per order priority with 95 % bounds. The op
    * tree is counts → one rate division → the Wilson closed form, whose
    * only non-arithmetic op is the correctly-rounded IEEE sqrt (the
    * q148 rule) — a FIXED chain both engines execute identically. One
    * map-side-combined aggregate; five rows.
    */
  val q160WilsonInterval: Q = Q(
    "q160_wilson_interval",
    (s, dir) => {
      val z = 1.959963984540054 // Phi^-1(0.975)
      val cells = Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          count(when(col("o_orderstatus") === "F", 1)).as("k"))
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      // z² as an ENGINE-side product of the shared literal — a
      // pre-multiplied decimal literal might not round-trip to the
      // identical double on both engines
      val z2 = lit(z) * lit(z)
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD
        + z2 / (lit(4.0) * nD * nD))) / denom
      cells.select(col("priority"), col("n"), col("k"),
          p.as("rate"), (center - half).as("wilson_lo"),
          (center + half).as("wilson_hi"))
        .orderBy("priority")
    },
    Some(s"""WITH c AS (SELECT o_orderpriority AS priority,
                          count(*) AS n,
                          count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                            AS k
                        FROM orders GROUP BY 1),
             w AS (SELECT priority, n, k,
                     CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                     CAST(n AS DOUBLE) AS nd,
                     1.959963984540054 * 1.959963984540054 AS z2
                   FROM c)
             SELECT priority, n, k, p AS rate,
               (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
               - (1.959963984540054 * sqrt(p * (1.0 - p) / nd
                   + z2 / (4.0 * nd * nd))) / (1.0 + z2 / nd) AS wilson_lo,
               (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
               + (1.959963984540054 * sqrt(p * (1.0 - p) / nd
                   + z2 / (4.0 * nd * nd))) / (1.0 + z2 / nd) AS wilson_hi
             FROM w ORDER BY priority"""))

  /** Per-brand Pareto frontier (skyline) — minimize retail price while
    * maximizing size: a part is ON the frontier iff no other part of
    * the same brand has price <= AND size >= with one strict. The
    * 2-D skyline reduces to ONE window pass: order each brand by
    * (price asc, size desc, partkey asc) and keep rows whose size
    * strictly exceeds the running max over PRECEDING rows — everything
    * before the current row has price <=, so a preceding max-size >=
    * current size is exactly a dominator. Exact (price, size)
    * duplicates collapse to the lowest partkey (neither dominates the
    * other; the deterministic tiebreak keeps one representative — the
    * same convention in both engines' identical window specs).
    *
    * Scale shape: the window partitions by brand, so no global sort and
    * no single-partition frame — per-group state is one running max.
    * One shuffle on brand; map-side nothing to combine (row-level
    * verdicts).
    */
  val q168Skyline: Q = Q(
    "q168_skyline",
    (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("price").asc, col("p_size").desc, col("p_partkey").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_size"),
          // decimal(15,2) cents -> exact bigint so the frontier verdict
          // never rides on float comparison
          (col("p_retailprice") * 100).cast("long").as("price"))
        .withColumn("max_size_before", max(col("p_size")).over(w))
        .filter(col("max_size_before").isNull ||
          col("p_size") > col("max_size_before"))
        .select(col("p_brand"), col("p_partkey"), col("price"),
          col("p_size"))
        .orderBy("p_brand", "price", "p_partkey")
    },
    Some("""WITH base AS (SELECT p_brand, p_partkey, p_size,
                CAST(p_retailprice * 100 AS BIGINT) AS price
              FROM part),
            flagged AS (SELECT p_brand, p_partkey, price, p_size,
                max(p_size) OVER (PARTITION BY p_brand
                  ORDER BY price ASC, p_size DESC, p_partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS max_size_before
              FROM base)
            SELECT p_brand, p_partkey, price, p_size FROM flagged
            WHERE max_size_before IS NULL OR p_size > max_size_before
            ORDER BY p_brand, price, p_partkey"""))

  /** Benford first-significant-digit audit over `l_extendedprice` — the
    * classic fraud / synthetic-data smoke test: naturally-occurring
    * multi-scale amounts follow P(d) = log10(1 + 1/d), so a digit
    * histogram far from that curve flags fabricated or truncated data.
    * The first significant digit is extracted STRUCTURALLY (strip every
    * non-1-9 character from the decimal's canonical text form, take the
    * head) — never floor(log10(x)), whose float rounding misclassifies
    * exact powers of ten. Observed shares are exact integer ppm (floor
    * cross-multiplication); the Benford expectation ships as a 9-entry
    * integer-ppm table (301030 .. 45757 — it sums to exactly 1,000,000),
    * so the whole audit is BIGINT-exact end to end: no libm ln() whose
    * last-ulp behavior could differ between engines.
    *
    * Scale shape: one map-side-combined 9-group aggregate over a
    * single-column projection; the 1-row total joins back by broadcast.
    */
  val q182Benford: Q = Q(
    "q182_benford",
    (s, dir) => {
      val expPpm = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
        9 -> 45757L)
      val digit = substring(regexp_replace(
        col("l_extendedprice").cast("string"), "[^1-9]", ""), 1, 1)
        .cast("long")
      val g = Tables.load(s, dir, "lineitem")
        .select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = g.agg(sum(col("n_obs")).as("n_total"))
      val exp = expPpm.foldLeft(when(lit(false), 0L)) {
        case (acc, (d, p)) => acc.when(col("digit") === d, p)
      }
      g.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          expr("n_obs * 1000000 div n_total").as("obs_ppm"),
          exp.as("exp_ppm"),
          (expr("n_obs * 1000000 div n_total") - exp).as("delta_ppm"))
        .orderBy(col("digit"))
    },
    Some("""WITH d AS (SELECT CAST(substring(regexp_replace(
                  CAST(l_extendedprice AS VARCHAR), '[^1-9]', '', 'g'),
                  1, 1) AS BIGINT) AS digit
              FROM lineitem),
            g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
            t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM g)
            SELECT digit, n_obs,
              n_obs * 1000000 // n_total AS obs_ppm,
              CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
                WHEN 9 THEN 45757 END AS exp_ppm,
              n_obs * 1000000 // n_total - CASE digit
                WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                END AS delta_ppm
            FROM g, t ORDER BY digit"""))

  /** Mergeable fixed-grid quantile sketch with a PROVABLE error bound —
    * the quantile member of the sketch family (CMS q120 / Bloom q130 /
    * HLL q141): 256 equal-width integer-cent buckets between the global
    * min/max of `l_extendedprice` form a histogram whose per-partition
    * pieces merge by addition (the mergeability that matters on 1000
    * executors); the p50/p90/p99 estimate is the lower edge of the
    * first bucket whose cumulative count crosses the order-statistic
    * rank. Because the true order statistic lies INSIDE that bucket,
    * |estimate - exact| < bucket width by construction — the query
    * emits estimate, the exact quantile (q40's distinct-value
    * histogram-cumulative order statistic), the error, the bound, and
    * the per-row proof `within_bound`. All arithmetic is integer cents.
    *
    * Scale shape: one bounds pass + one 256-group histogram pass (both
    * map-side combined; the grid is fixed-width state like CMS), the
    * cumulative walks run over 256 / |distinct| rows; the exact side is
    * the expensive one at 100 TB — which is exactly the sketch's selling
    * point, and here it doubles as the oracle of the bound.
    */
  val q189QuantileSketch: Q = Q(
    "q189_quantile_sketch",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select((col("l_extendedprice") * 100).cast("long").as("v"))
      val bounds = li.agg(min(col("v")).as("gmin"), max(col("v")).as("gmax"),
          count(lit(1)).as("n"))
        .select(col("gmin"), col("n"),
          (expr("(gmax - gmin) div 256") + 1).as("wdt"))
      val withB = li.crossJoin(broadcast(bounds))
      val hist = withB
        .groupBy(expr("(v - gmin) div wdt").as("b"))
        .agg(count(lit(1)).as("c"), min(col("gmin")).as("gmin"),
          min(col("wdt")).as("wdt"), min(col("n")).as("n"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val exactHist = li.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("cumv", sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(bounds.select(col("n").as("nv"))))
      val pcts = Seq(50, 90, 99)
      val estCols = pcts.map(p => min(when(col("cum") * 100 >= col("n") * p,
        col("gmin") + col("b") * col("wdt"))).as(s"est$p")) :+
        min(col("wdt")).as("bound")
      val est = hist.agg(estCols.head, estCols.tail: _*)
      val exactCols = pcts.map(p =>
        min(when(col("cumv") * 100 >= col("nv") * p, col("v")))
          .as(s"exact$p"))
      val exact = exactHist.agg(exactCols.head, exactCols.tail: _*)
      val joined = est.crossJoin(broadcast(exact))
      pcts.map { p =>
        joined.select(lit(p).as("pct"), col(s"est$p").as("est_cents"),
          col(s"exact$p").as("exact_cents"),
          abs(col(s"est$p") - col(s"exact$p")).as("abs_err"),
          col("bound"),
          (abs(col(s"est$p") - col(s"exact$p")) < col("bound"))
            .as("within_bound"))
      }.reduce(_.unionByName(_)).orderBy(col("pct"))
    },
    Some("""WITH li AS (SELECT CAST(l_extendedprice * 100 AS BIGINT) AS v
              FROM lineitem),
            b AS (SELECT min(v) AS gmin, count(*) AS n,
                (max(v) - min(v)) // 256 + 1 AS wdt FROM li),
            h AS (SELECT (v - gmin) // wdt AS bk, count(*) AS c
              FROM li, b GROUP BY 1),
            hc AS (SELECT bk, sum(c) OVER (ORDER BY bk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
            est AS (SELECT
                min(CASE WHEN cum * 100 >= n * 50
                    THEN gmin + bk * wdt END) AS est50,
                min(CASE WHEN cum * 100 >= n * 90
                    THEN gmin + bk * wdt END) AS est90,
                min(CASE WHEN cum * 100 >= n * 99
                    THEN gmin + bk * wdt END) AS est99,
                min(wdt) AS bound
              FROM hc, b),
            vh AS (SELECT v, count(*) AS c FROM li GROUP BY v),
            vc AS (SELECT v, sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
              FROM vh),
            ex AS (SELECT
                min(CASE WHEN cumv * 100 >= n * 50 THEN v END) AS exact50,
                min(CASE WHEN cumv * 100 >= n * 90 THEN v END) AS exact90,
                min(CASE WHEN cumv * 100 >= n * 99 THEN v END) AS exact99
              FROM vc, b)
            SELECT pct, est_cents, exact_cents,
              abs(est_cents - exact_cents) AS abs_err, bound,
              abs(est_cents - exact_cents) < bound AS within_bound
            FROM (
              SELECT 50 AS pct, est50 AS est_cents, exact50 AS exact_cents,
                bound FROM est, ex
              UNION ALL
              SELECT 90, est90, exact90, bound FROM est, ex
              UNION ALL
              SELECT 99, est99, exact99, bound FROM est, ex)
            ORDER BY pct"""))

  /** ABC inventory classification — the 80/95 cumulative-revenue-share
    * partition of the part catalog (A: the head that earns the first
    * 80 %, B: to 95 %, C: the long tail), the warehousing classic that
    * q155's single Pareto point generalizes: q155 answers "how many
    * users cover 80 %?", this CLASSIFIES every part and rolls the
    * classes up. Revenue is exact integer cents (floor(x*100), q155's
    * discipline); the class boundary test is pure integer
    * cross-multiplication on the running total (cum*100 <= tot*80), so
    * no float ever decides a class; share is one double division per
    * class row.
    *
    * ## 100 TB notes
    * Per-part revenue is one map-side-combined shuffle on partkey; the
    * ranked cumulative walk runs over the |parts|-sized aggregate via
    * [[graft.engine.Cumulative.rankedCumSum]] (range-partitioned
    * two-phase prefix sum — no single-partition window; ties broken by
    * partkey, well-defined on both engines); the global total is a
    * 1-row broadcast attach; the class rollup is 3 rows. Same shape as
    * q155, a proven scale plan.
    */
  val q214AbcClasses: Q = Q(
    "q214_abc_classes",
    (s, dir) => {
      val perPart = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val cumulative = graft.engine.Cumulative.rankedCumSum(perPart,
        Seq(col("cents").desc, col("l_partkey").asc), col("cents"))
      val total = perPart.agg(sum(col("cents")).as("tot")) // 1 row
      val ranked = cumulative.crossJoin(broadcast(total))
      ranked
        .withColumn("abc_class",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
          max(col("tot")).as("tot"))
        .select(col("abc_class"), col("n_parts"), col("cents"),
          (col("cents").cast("double") / col("tot").cast("double"))
            .as("share"))
        .orderBy(col("abc_class"))
    },
    Some("""WITH pp AS (SELECT l_partkey,
                CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM lineitem GROUP BY l_partkey),
            r AS (SELECT l_partkey, cents,
                sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(cents) OVER () AS tot
              FROM pp),
            c AS (SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                              WHEN cum * 100 <= tot * 95 THEN 'B'
                              ELSE 'C' END AS abc_class,
                         cents, tot
                  FROM r)
            SELECT abc_class, count(*) AS n_parts,
              CAST(sum(cents) AS BIGINT) AS cents,
              CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE) AS share
            FROM c GROUP BY abc_class ORDER BY abc_class"""))

  /** One-way ANOVA — is the weekday effect on DAILY revenue real?
    * q211 reports the per-weekday seasonal indices; this tests whether
    * the between-weekday variation exceeds what within-weekday noise
    * explains — the F-statistic gate before anyone acts on a seasonal
    * table, completing the inference family (q148 z, q128/q188 chi2,
    * q192 KS) with the k-group mean comparison.
    *
    * Determinism: daily revenues are exact integer cents; all moments
    * (per-group sums/counts via conditional aggregation, global sum of
    * squares in decimal(38,0) — q161's discipline) are exact; the
    * between-group term sum_g Sg^2/ng is assembled as an EXPLICIT
    * 7-term left-fold of doubles (t0+t1+...+t6 in one expression tree)
    * rather than any windowed accumulation, because windowed double
    * sums don't pin associativity order across engines (DuckDB's
    * segment-tree window combine vs Spark's sequential add). Absent
    * weekdays contribute exactly 0.0 and drop out of k.
    *
    * ## 100 TB notes
    * Two map-side-combined aggregations (daily rollup, then ONE global
    * row with 16 conditional moments) — no joins, no windows, nothing
    * data-scale past the daily rollup's date-keyed shuffle.
    */
  val q216AnovaDow: Q = Q(
    "q216_anova_dow",
    (s, dir) => {
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
        .select((dayofweek(col("d")) - 1).cast("long").as("dow"),
          col("cents"))
      def D(c: Column) = c.cast("decimal(38,0)")
      val groupAggs = (0 to 6).flatMap { i =>
        Seq(sum(when(col("dow") === i, col("cents")).otherwise(0L))
            .as(s"s$i"),
          sum(when(col("dow") === i, 1L).otherwise(0L)).as(s"g$i"))
      }
      val aggs = Seq(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(D(col("cents")) * D(col("cents"))).as("sq")) ++ groupAggs
      val m = daily.agg(aggs.head, aggs.tail: _*)
      val terms = (0 to 6).map { i =>
        when(col(s"g$i") > 0,
          (col(s"s$i").cast("double") * col(s"s$i").cast("double")) /
            col(s"g$i").cast("double")).otherwise(lit(0.0))
      }
      val t = terms.reduceLeft(_ + _) // fixed left-fold: ((t0+t1)+...)+t6
      val k = (0 to 6).map(i =>
        when(col(s"g$i") > 0, 1L).otherwise(0L)).reduceLeft(_ + _)
      m.withColumn("t", t).withColumn("k", k)
        .select(col("n").as("n_days"), col("k"),
          (col("t") - (col("s").cast("double") * col("s").cast("double")) /
            col("n").cast("double")).as("ssb"),
          (col("sq").cast("double") - col("t")).as("ssw"))
        .withColumn("f_stat",
          (col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw") / (col("n_days") - col("k")).cast("double")))
        .select(col("n_days"), col("k"), col("ssb"), col("ssw"),
          col("f_stat"))
    },
    Some {
      val filterSums = (0 to 6).map { i =>
        s"""CAST(sum(cents) FILTER (dow = $i) AS BIGINT) AS s$i,
            CAST(count(*) FILTER (dow = $i) AS BIGINT) AS g$i"""
      }.mkString(",\n                ")
      val terms = (0 to 6).map { i =>
        s"""CASE WHEN g$i > 0
                 THEN (CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE))
                      / CAST(g$i AS DOUBLE) ELSE 0.0 END"""
      }.reduceLeft((a, b) => s"($a + $b)")
      val k = (0 to 6).map(i => s"CASE WHEN g$i > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders GROUP BY 1),
            dd AS (SELECT CAST(dayofweek(d) AS BIGINT) AS dow, cents
                   FROM daily),
            m AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
                sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sq,
                $filterSums
              FROM dd),
            e AS (SELECT n, CAST($k AS BIGINT) AS k,
                $terms AS t, s, sq FROM m),
            r AS (SELECT n AS n_days, k,
                t - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / CAST(n AS DOUBLE) AS ssb,
                CAST(sq AS DOUBLE) - t AS ssw
              FROM e)
            SELECT n_days, k, ssb, ssw,
              (ssb / CAST(k - 1 AS DOUBLE))
                / (ssw / CAST(n_days - k AS DOUBLE)) AS f_stat
            FROM r"""
    })

  /** Supplier-concentration HHI per nation — the Herfindahl-Hirschman
    * index procurement and antitrust teams compute to flag fragile
    * single-supplier markets: per nation, the sum of squared revenue
    * shares of its suppliers. HHI needs no float shares at all:
    * sum(c_i^2) / (sum c_i)^2 with revenue in exact integer cents,
    * squares accumulated in decimal(38,0) (q161's discipline), ONE
    * double division at the end — 1/n_suppliers = perfectly
    * fragmented, 1.0 = monopoly.
    *
    * ## 100 TB notes
    * Supplier revenue is one map-side-combined shuffle on l_suppkey;
    * the supplier->nation attach is AQE-broadcast (supplier is a
    * dimension); nation name joins off a fixed 25-row broadcast. The
    * per-nation moment rollup is map-side combined on a 25-value key.
    */
  val q217SupplierHhi: Q = Q(
    "q217_supplier_hhi",
    (s, dir) => {
      def D(c: Column) = c.cast("decimal(38,0)")
      val suppRev = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val supp = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      suppRev.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("cents")).as("total_cents"),
          sum(D(col("cents")) * D(col("cents"))).as("sumsq"))
        .select(col("n_name"), col("n_suppliers"), col("total_cents"),
          (col("sumsq").cast("double") /
            (col("total_cents").cast("double") *
              col("total_cents").cast("double"))).as("hhi"))
        .orderBy(col("n_name"))
    },
    Some("""WITH sr AS (SELECT l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM lineitem GROUP BY l_suppkey)
            SELECT n_name, count(*) AS n_suppliers,
              CAST(sum(cents) AS BIGINT) AS total_cents,
              CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT))
                   AS DOUBLE)
                / (CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
                AS hhi
            FROM sr JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name"""))

  /** Type-7 interpolated quantiles — the LINEAR-interpolation quantile
    * definition (R's default, NumPy's 'linear') per order priority:
    * q40 returns exact ORDER STATISTICS (a value that exists in the
    * data) and q189 a bounded sketch; type-7 is the third semantics —
    * h = (n-1)p lands between ranks and the estimate blends the two
    * neighbors — and the one most tooling reports, so an engine that
    * can't reproduce it can't cross-check reports. Values are exact
    * integer cents; h, the blend fraction, and the interpolation are
    * ONE fixed double op tree; rank picks are integer comparisons
    * (floor(h)+1 against a row_number), ties collapse harmlessly
    * because equal ranks carry equal values.
    *
    * ## 100 TB notes
    * One shuffle partitions by priority; the rank window and the three
    * conditional picks ride it. At real scale the per-group sort is
    * the cost — the same cost any exact quantile pays — and the
    * histogram-compression trick (q40's distinct-value walk) applies
    * unchanged if values repeat heavily.
    */
  val q223QuantileInterp: Q = Q(
    "q223_quantile_interp",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val byP = Window.partitionBy(col("o_orderpriority"))
      val ranked = o
        .withColumn("rn", row_number().over(byP.orderBy(col("cents").asc)))
        .withColumn("n", count(lit(1)).over(byP))
      def pick(p: Double): Column = {
        val h = (col("n") - 1).cast("double") * lit(p)
        val lo = floor(h).cast("long") + 1
        val xlo = min(when(col("rn") === lo, col("cents")))
        val xhi = coalesce(min(when(col("rn") === lo + 1, col("cents"))),
          min(when(col("rn") === lo, col("cents"))))
        val hAgg = (max(col("n")) - 1).cast("double") * lit(p)
        xlo.cast("double") +
          (hAgg - floor(hAgg)) * (xhi.cast("double") - xlo.cast("double"))
      }
      ranked.groupBy(col("o_orderpriority"))
        .agg(max(col("n")).as("n"), pick(0.5).as("p50"),
          pick(0.9).as("p90"), pick(0.99).as("p99"))
        .orderBy(col("o_orderpriority"))
    },
    Some {
      def pick(p: Double): String =
        s"""(max(CASE WHEN rn = floor((n - 1) * $p)::BIGINT + 1
                 THEN cents END)::DOUBLE
             + ((max(n) - 1)::DOUBLE * $p
                - floor((max(n) - 1)::DOUBLE * $p))
               * (coalesce(
                    max(CASE WHEN rn = floor((n - 1) * $p)::BIGINT + 2
                        THEN cents END),
                    max(CASE WHEN rn = floor((n - 1) * $p)::BIGINT + 1
                        THEN cents END))::DOUBLE
                  - max(CASE WHEN rn = floor((n - 1) * $p)::BIGINT + 1
                        THEN cents END)::DOUBLE))"""
      s"""WITH o AS (SELECT o_orderpriority,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            r AS (SELECT o_orderpriority, cents,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY cents ASC) AS rn,
                count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM o)
            SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
              ${pick(0.5)} AS p50, ${pick(0.9)} AS p90,
              ${pick(0.99)} AS p99
            FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    })

  /** Gini mean difference and Gini coefficient of order value per
    * priority — revenue inequality measured properly: the mean
    * absolute difference between two random orders, and its normalized
    * form (0 = all orders equal, ->1 = one order carries everything).
    * The naive definition is an all-pairs |xi - xj| average — O(n^2)
    * and a scale-killer; the rank identity sum((2i - n - 1) * x_(i))
    * computes it EXACTLY from one sort: each sorted value is counted
    * +1 against everything below it and -1 against everything above.
    * Tie order between equal values cannot change the sum (equal
    * coefficients apply to equal values). Weighted rank-sum in
    * decimal(38,0) (q161's discipline), two fixed double op trees.
    * q127's "gini" is Simpson diversity over categories — different
    * statistic; this is the wealth/concentration Gini.
    *
    * ## 100 TB notes
    * One shuffle on priority, one rank window on it, one
    * map-side-combined moment rollup. The O(n^2) pair join never
    * exists — that is the point.
    */
  val q224GiniMeanDiff: Q = Q(
    "q224_gini_mean_diff",
    (s, dir) => {
      def D(c: Column) = c.cast("decimal(38,0)")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val byP = Window.partitionBy(col("o_orderpriority"))
      val ranked = o
        .withColumn("rn", row_number().over(byP.orderBy(col("cents").asc)))
        .withColumn("n", count(lit(1)).over(byP))
      ranked.groupBy(col("o_orderpriority"))
        .agg(max(col("n")).as("n"), sum(col("cents")).as("total_cents"),
          sum(D((col("rn") * 2 - col("n") - 1)) * D(col("cents")))
            .as("num"))
        .select(col("o_orderpriority"), col("n"), col("total_cents"),
          (col("num").cast("double") * 2.0 /
            (col("n") * (col("n") - 1)).cast("double")).as("gmd_cents"),
          (col("num").cast("double") /
            (col("n").cast("double") * col("total_cents").cast("double")))
            .as("gini"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH o AS (SELECT o_orderpriority,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            r AS (SELECT o_orderpriority, cents,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY cents ASC) AS rn,
                count(*) OVER (PARTITION BY o_orderpriority) AS n
              FROM o)
            SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
              CAST(sum(cents) AS BIGINT) AS total_cents,
              CAST(sum(CAST(rn * 2 - n - 1 AS HUGEINT)
                       * CAST(cents AS HUGEINT)) AS DOUBLE) * 2.0
                / CAST(max(n) * (max(n) - 1) AS DOUBLE) AS gmd_cents,
              CAST(sum(CAST(rn * 2 - n - 1 AS HUGEINT)
                       * CAST(cents AS HUGEINT)) AS DOUBLE)
                / (CAST(max(n) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
                AS gini
            FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Return-rate SPC by brand — the supplier-quality control chart: per
    * part brand, the return rate with its z-score against the GLOBAL
    * rate under the null that brands share one rate (the p-chart test;
    * |z| > 3 is the classic out-of-control signal that triggers a
    * supplier review). Counts and ppm are exact integers; p-hat, p0,
    * and z are one fixed double op tree; the global totals window over
    * the |brands|-sized aggregate.
    *
    * ## 100 TB notes
    * lineitem joins part on partkey (dimension-sized build side — AQE
    * broadcasts it); one map-side-combined rollup on brand; the global
    * window runs over the tiny brand aggregate. Scan-bound.
    */
  val q225ReturnRate: Q = Q(
    "q225_return_rate",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_returnflag"))
      val part = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val perBrand = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"))
      val wAll = Window.partitionBy(lit(1))
      perBrand
        .withColumn("gn", sum(col("n_lines")).over(wAll))
        .withColumn("gr", sum(col("n_returned")).over(wAll))
        .select(col("p_brand"), col("n_lines"), col("n_returned"),
          expr("n_returned * 1000000 div n_lines").as("return_ppm"),
          ((col("n_returned").cast("double") / col("n_lines").cast("double")
            - col("gr").cast("double") / col("gn").cast("double")) /
            sqrt((col("gr").cast("double") / col("gn").cast("double") *
              (lit(1.0) - col("gr").cast("double") / col("gn").cast("double")))
              / col("n_lines").cast("double"))).as("z"))
        .orderBy(col("p_brand"))
    },
    Some("""WITH pb AS (SELECT p_brand, count(*) AS n_lines,
                CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returned
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand)
            SELECT p_brand, n_lines, n_returned,
              n_returned * 1000000 // n_lines AS return_ppm,
              ((CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
                - CAST(sum(n_returned) OVER () AS DOUBLE)
                  / CAST(sum(n_lines) OVER () AS DOUBLE))
               / sqrt((CAST(sum(n_returned) OVER () AS DOUBLE)
                         / CAST(sum(n_lines) OVER () AS DOUBLE)
                       * (1.0 - CAST(sum(n_returned) OVER () AS DOUBLE)
                           / CAST(sum(n_lines) OVER () AS DOUBLE)))
                      / CAST(n_lines AS DOUBLE))) AS z
            FROM pb ORDER BY p_brand"""))

  /** Shipping-lag SLA audit — order-to-ship latency per priority in
    * whole days, with the discrete p50/p95 (q40's exact order-statistic
    * walk over the lag histogram) and the share of lines breaching a
    * 90-day SLA in exact ppm. The fulfillment dashboard: urgent
    * priorities are SUPPOSED to show smaller quantiles — this makes the
    * claim checkable. Every column is an exact integer; no floats
    * anywhere.
    *
    * ## 100 TB notes
    * The lineitem-orders join shuffles on orderkey (bucketable); lags
    * collapse to a (priority, lag_days) histogram FIRST (map-side
    * combined, bounded by priorities x distinct lags), and the
    * quantile walk ([[graft.engine.Cumulative.histogram]]) runs over
    * that histogram, never over raw lines.
    */
  val q226ShipSla: Q = Q(
    "q226_ship_sla",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          (unix_micros(col("l_shipdate").cast("timestamp_ltz"))
            / lit(86400000000L)).cast("long").as("ship_day"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          (unix_micros(col("o_orderdate").cast("timestamp_ltz"))
            / lit(86400000000L)).cast("long").as("order_day"))
      val lags = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          (col("ship_day") - col("order_day")).as("lag_days"))
      val lag = col("lag_days")
      Cumulative.histogram(lags, Seq(col("o_orderpriority")), lag,
          count(lit(1)))
        .groupBy(col("o_orderpriority"))
        .agg(max(col("n")).as("n_lines"),
          min(lag).as("min_days"),
          rankPick(lag, 0.5).as("p50_days"),
          rankPick(lag, 0.95).as("p95_days"),
          max(lag).as("max_days"),
          sum(when(lag > 90, col("w")).otherwise(0L)).as("n_breach"))
        .withColumn("breach_ppm", expr("n_breach * 1000000 div n_lines"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH lg AS (SELECT o_orderpriority,
                epoch_us(l_shipdate) // 86400000000
                  - epoch_us(o_orderdate) // 86400000000 AS lag_days
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            h AS (SELECT o_orderpriority, lag_days, count(*) AS c
                  FROM lg GROUP BY 1, 2),
            cu AS (SELECT *,
                sum(c) OVER (PARTITION BY o_orderpriority ORDER BY lag_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER (PARTITION BY o_orderpriority) AS n
              FROM h)
            SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_lines,
              min(lag_days) AS min_days,
              min(CASE WHEN cum >= ceil(n * 0.5) THEN lag_days END)
                AS p50_days,
              min(CASE WHEN cum >= ceil(n * 0.95) THEN lag_days END)
                AS p95_days,
              max(lag_days) AS max_days,
              CAST(sum(CASE WHEN lag_days > 90 THEN c ELSE 0 END) AS BIGINT)
                AS n_breach,
              CAST(sum(CASE WHEN lag_days > 90 THEN c ELSE 0 END) AS BIGINT)
                * 1000000 // CAST(max(n) AS BIGINT) AS breach_ppm
            FROM cu GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Leave-one-out target-encoding audit — target encoding (replace a
    * category with its mean target) is the highest-leakage feature
    * transform in tabular ML: encoding row i with a mean that INCLUDES
    * row i leaks the label. The LOO fix encodes i as
    * (S_c - x_i)/(n_c - 1), and this audit reports, per market
    * segment, the encoding's full behavior envelope: the naive mean,
    * the LOO extremes (min = (S - max_x)/(n-1), max = (S - min_x)/
    * (n-1) — numerators are exact integer cents), and the worst-case
    * leakage gap |naive - loo| either extreme realizes. A gap that
    * rivals between-segment spread means the encoder is memorizing
    * rows, not segments. Customers with no orders count with spend 0
    * (left join), not dropped — dropping them would shift every mean.
    *
    * ## 100 TB notes
    * One shuffle aggregates spend per customer; the segment rollup is
    * map-side combined on a 5-value key; extremes come from min/max in
    * the same aggregate — no per-row encoded output ever materializes.
    */
  val q230TargetEncoding: Q = Q(
    "q230_target_encoding",
    (s, dir) => {
      val spend = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val x = cust.join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"),
          coalesce(col("cents"), lit(0L)).as("x"))
      x.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
        .select(col("c_mktsegment"), col("n"), col("sum_cents"),
          (col("sum_cents").cast("double") / col("n").cast("double"))
            .as("naive_mean"),
          ((col("sum_cents") - col("max_x")).cast("double") /
            (col("n") - 1).cast("double")).as("min_loo"),
          ((col("sum_cents") - col("min_x")).cast("double") /
            (col("n") - 1).cast("double")).as("max_loo"))
        .withColumn("max_leak_gap",
          greatest(abs(col("naive_mean") - col("min_loo")),
            abs(col("naive_mean") - col("max_loo"))))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH sp AS (SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM orders GROUP BY o_custkey),
            x AS (SELECT c_mktsegment, coalesce(cents, 0) AS x
                  FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
            g AS (SELECT c_mktsegment, count(*) AS n,
                CAST(sum(x) AS BIGINT) AS sum_cents,
                min(x) AS min_x, max(x) AS max_x
              FROM x GROUP BY c_mktsegment),
            e AS (SELECT c_mktsegment, n, sum_cents,
                CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) AS naive_mean,
                CAST(sum_cents - max_x AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                  AS min_loo,
                CAST(sum_cents - min_x AS DOUBLE) / CAST(n - 1 AS DOUBLE)
                  AS max_loo
              FROM g)
            SELECT c_mktsegment, n, sum_cents, naive_mean, min_loo, max_loo,
              greatest(abs(naive_mean - min_loo), abs(naive_mean - max_loo))
                AS max_leak_gap
            FROM e ORDER BY c_mktsegment"""))

  /** Attribute fill-rate profile — the first profiling query anyone
    * runs on an unfamiliar dataset: per (table, column), how many rows
    * carry a usable value (non-null AND non-blank for strings — the
    * reference's own quality gate treats empty-after-trim as missing,
    * reference data_quality_operator.py:24-38)? One row per audited
    * column with exact fill ppm. Profiled columns span every table
    * family: keys, categoricals, free text, and the JSON props blob.
    *
    * ## 100 TB notes
    * Pure map-side conditional counts — each table is scanned once
    * with column pruning down to the audited columns; no shuffle
    * wider than one row per table.
    */
  val q246FillRate: Q = Q(
    "q246_fill_rate",
    (s, dir) => {
      def profile(df: DataFrame, table: String,
          cols: Seq[String]): DataFrame = {
        val aggs = count(lit(1)).as("n_rows") +: cols.map(c =>
          sum(when(col(c).isNotNull &&
            length(trim(col(c).cast("string"))) > 0, 1L).otherwise(0L))
            .as(s"f_$c"))
        val one = df.agg(aggs.head, aggs.tail: _*)
        cols.map { c =>
          one.select(lit(table).as("table_name"), lit(c).as("column_name"),
            col("n_rows"), col(s"f_$c").as("n_filled"),
            expr(s"f_$c * 1000000 div n_rows").as("fill_ppm"))
        }.reduce(_ unionByName _)
      }
      profile(Tables.load(s, dir, "customer"), "customer",
          Seq("c_name", "c_mktsegment"))
        .unionByName(profile(Tables.load(s, dir, "orders"), "orders",
          Seq("o_orderstatus", "o_orderpriority")))
        .unionByName(profile(Tables.load(s, dir, "documents"), "documents",
          Seq("text", "lang", "source")))
        .unionByName(profile(Tables.load(s, dir, "events"), "events",
          Seq("event_type", "props")))
        .orderBy(col("table_name"), col("column_name"))
    },
    Some {
      def p(table: String, c: String): String =
        s"""SELECT '$table' AS table_name, '$c' AS column_name,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN $c IS NOT NULL
                AND length(trim(CAST($c AS VARCHAR))) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
              CAST(sum(CASE WHEN $c IS NOT NULL
                AND length(trim(CAST($c AS VARCHAR))) > 0
                THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*)
                AS fill_ppm
            FROM $table"""
      val parts = Seq(
        p("customer", "c_name"), p("customer", "c_mktsegment"),
        p("orders", "o_orderstatus"), p("orders", "o_orderpriority"),
        p("documents", "text"), p("documents", "lang"),
        p("documents", "source"),
        p("events", "event_type"), p("events", "props"))
      s"""SELECT * FROM (${parts.mkString(" UNION ALL ")})
          ORDER BY table_name, column_name"""
    })

  /** OTIF (on-time-in-full) supplier scorecard — the supply-chain KPI
    * procurement contracts are written against: a line scores when it
    * ships within 30 days of the order AND is not returned. Bottom-10
    * suppliers by OTIF ppm (ties by supplier key), each with volume,
    * the two failure components separated (late vs returned — a
    * supplier can fail either way, and the fix differs), and exact
    * ppm. The worst-performer ranking, not the average, is what a
    * supplier review meeting consumes.
    *
    * ## 100 TB notes
    * One lineitem-orders join on orderkey (bucketable), one
    * map-side-combined rollup on suppkey, bottom-10 via
    * TakeOrderedAndProject. Day arithmetic is exact integers.
    */
  val q249OtifScore: Q = Q(
    "q249_otif_score",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"),
          (unix_micros(col("l_shipdate").cast("timestamp_ltz"))
            / lit(86400000000L)).cast("long").as("ship_day"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          (unix_micros(col("o_orderdate").cast("timestamp_ltz"))
            / lit(86400000000L)).cast("long").as("order_day"))
      val scored = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"),
          (col("ship_day") - col("order_day") <= 30).as("on_time"),
          (col("l_returnflag") =!= "R").as("in_full"))
      scored.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("on_time") && col("in_full"), 1L).otherwise(0L))
            .as("n_otif"),
          sum(when(!col("on_time"), 1L).otherwise(0L)).as("n_late"),
          sum(when(!col("in_full"), 1L).otherwise(0L)).as("n_returned"))
        .withColumn("otif_ppm", expr("n_otif * 1000000 div n_lines"))
        .orderBy(col("otif_ppm").asc, col("l_suppkey").asc)
        .limit(10)
    },
    Some("""WITH sc AS (SELECT l_suppkey,
                (epoch_us(l_shipdate) // 86400000000
                 - epoch_us(o_orderdate) // 86400000000) <= 30 AS on_time,
                l_returnflag != 'R' AS in_full
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            g AS (SELECT l_suppkey, count(*) AS n_lines,
                CAST(sum(CASE WHEN on_time AND in_full THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_otif,
                CAST(sum(CASE WHEN NOT on_time THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_late,
                CAST(sum(CASE WHEN NOT in_full THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returned
              FROM sc GROUP BY l_suppkey)
            SELECT l_suppkey, n_lines, n_otif, n_late, n_returned,
              n_otif * 1000000 // n_lines AS otif_ppm
            FROM g ORDER BY otif_ppm ASC, l_suppkey ASC LIMIT 10"""))

  /** Basket economics — the merchandising table relating basket SIZE to
    * basket VALUE: per lines-per-order bucket, how many orders, their
    * share, and the average order value (exact decimal line-revenue
    * sums; one division per row). Whether AOV grows sub- or
    * super-linearly with basket size is the "add one more item"
    * upsell economics, and reading it needs the joint table, not two
    * marginals.
    *
    * ## 100 TB notes
    * One shuffle on orderkey builds per-order (size, cents); the
    * bucket rollup is map-side combined on a tiny key; the share
    * window runs over the bucket aggregate.
    */
  val q252BasketEconomics: Q = Q(
    "q252_basket_economics",
    (s, dir) => {
      val perOrder = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val buckets = perOrder.groupBy(col("n_lines"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      buckets
        .withColumn("total_orders",
          sum(col("n_orders")).over(Window.partitionBy(lit(1))))
        .select(col("n_lines"), col("n_orders"),
          (col("n_orders").cast("double") /
            col("total_orders").cast("double")).as("order_share"),
          (col("cents").cast("double") / col("n_orders").cast("double"))
            .as("avg_order_cents"))
        .orderBy(col("n_lines"))
    },
    Some("""WITH po AS (SELECT l_orderkey, count(*) AS n_lines,
                CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
              FROM lineitem GROUP BY l_orderkey),
            b AS (SELECT n_lines, count(*) AS n_orders,
                CAST(sum(cents) AS BIGINT) AS cents
              FROM po GROUP BY n_lines)
            SELECT n_lines, n_orders,
              CAST(n_orders AS DOUBLE)
                / CAST(sum(n_orders) OVER () AS DOUBLE) AS order_share,
              CAST(cents AS DOUBLE) / CAST(n_orders AS DOUBLE)
                AS avg_order_cents
            FROM b ORDER BY n_lines"""))

  /** Delete-one-group jackknife for a RATIO metric — the variance
    * estimator scalable A/B systems actually use (per-unit ratios
    * don't average; the delete-one-bucket jackknife over G hash
    * buckets — here the 25 nations — handles ratio-of-sums metrics
    * without per-row resampling). Each replicate is the metric with
    * one group deleted, computed from the group SUMS
    * (`(C-c_i)/(N-n_i)` — no second data pass), and every replicate
    * and the spread statistics live in exact integers: replicates in
    * MICRO-units (`r_i = (C-c_i)*1e6 div (N-n_i)` BIGINT), mean by
    * integer div, and the sum of squared deviations in scale-0
    * decimal (squared micro-deviations overflow int64; decimal(19,0)
    * × decimal(19,0) → decimal(38,0) stays exact — the sanctioned
    * exact-integer use of wide decimals, summed but never divided).
    * The `(G-1)/G` correction and the `sqrt` are one final double op
    * tree (correctly-rounded IEEE, the q148 discipline). Output: one
    * row per replicate (nation, its sums, its leave-out ratio) each
    * carrying the shared summary columns — the full diagnostic
    * table, not just the SE.
    *
    * ## 100 TB notes
    * One shuffle to per-group sums (map-side combined); everything
    * after runs on G rows with two broadcast scalar attaches. This is
    * the whole point of the group jackknife: replicates come from
    * ALGEBRA on the group sums, never from re-scanning data — at any
    * scale the estimator costs one aggregation.
    */
  val q285JackknifeRatio: Q = Q(
    "q285_jackknife_ratio",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val byNation = o.join(broadcast(c),
          o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      val tot = byNation.agg(sum(col("n_orders")).as("tn"),
        sum(col("cents")).as("tc"), count(lit(1)).as("g")) // 1 row
      val reps = byNation.crossJoin(broadcast(tot))
        .select(col("nation"), col("n_orders"), col("cents"),
          col("tn"), col("tc"), col("g"),
          expr("(tc - cents) * 1000000 div (tn - n_orders)").as("r_micro"))
      val spread = reps.agg(sum(col("r_micro")).as("rsum")) // 1 row
      val withMean = reps.crossJoin(broadcast(spread))
        .withColumn("rbar", expr("rsum div g"))
      val dev = expr("CAST(r_micro - rbar AS DECIMAL(19,0))")
      val ss = withMean.agg(sum(dev * dev).as("ss"))
      withMean.crossJoin(broadcast(ss))
        .select(col("nation"), col("n_orders"), col("cents"),
          col("r_micro"),
          expr("tc * 1000000 div tn").as("full_ratio_micro"),
          col("rbar").as("mean_rep_micro"),
          sqrt(expr("CAST(ss AS DOUBLE) * (g - 1) / g")).as("jack_se"))
        .orderBy("nation")
    },
    Some("""WITH o AS (SELECT o_custkey,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders),
            bn AS (SELECT c_nationkey AS nation, count(*) AS n_orders,
                     CAST(sum(cents) AS BIGINT) AS cents
                   FROM o JOIN customer ON o_custkey = c_custkey
                   GROUP BY 1),
            t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tn,
                    CAST(sum(cents) AS BIGINT) AS tc,
                    count(*) AS g FROM bn),
            reps AS (SELECT nation, n_orders, cents, tn, tc, g,
                       (tc - cents) * 1000000 // (tn - n_orders) AS r_micro
                     FROM bn, t),
            sp AS (SELECT CAST(sum(r_micro) AS BIGINT) AS rsum FROM reps),
            wm AS (SELECT reps.*, rsum // g AS rbar FROM reps, sp),
            s2 AS (SELECT sum(CAST(r_micro - rbar AS HUGEINT)
                     * CAST(r_micro - rbar AS HUGEINT)) AS ss FROM wm)
            SELECT nation, n_orders, cents, r_micro,
              tc * 1000000 // tn AS full_ratio_micro,
              rbar AS mean_rep_micro,
              sqrt(CAST(ss AS DOUBLE) * (g - 1) / g) AS jack_se
            FROM wm, s2 ORDER BY nation"""))
}
