package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.Catalog.Q
import graft.engine.Tables

/** Statistics + layout/skew-planning family (see [[EventQueries]]
  * for the suite doc): hypothesis tests and experiment readouts (z/KS/
  * chi-squared, SRM, CUPED, diff-in-diff, QTE), sketches (CMS, HLL,
  * bitmaps), regressions and drift, plus the physical-design planners
  * (salting, skew profile, compaction, partition balance, RLE/layout
  * pruning) that read tuning numbers straight from data.
  */
private[queries] trait EventStatsQueries extends EventQueriesBase {
  /** Skew-safe two-phase aggregation under oracle check: salt each row
    * (from its IDENTITY, not the group key — `engine/Skew`'s rule), run
    * the partial aggregate on (key, salt), then merge the partials per
    * key. The result is provably identical to the plain groupBy — counts
    * add, and the value sums are exact decimals, so merge order cannot
    * change them — which is exactly what the plain-SQL oracle asserts.
    * This is the manual form of what map-side partial aggregation does
    * automatically, made explicit for the case where ONE key dominates:
    * the salt bounds any single reduce task to 1/16 of the hot key.
    *
    * ## 100 TB notes
    * Two shuffles instead of one, but the first is on (key, salt) — 16
    * reducers share the hot key's rows, and the second shuffle carries
    * only 16 partial rows per key. The plain groupBy's partial agg
    * already handles MODERATE skew; explicit salting is for the key so
    * hot that even one reducer's merge of its map-side partials is the
    * straggler. Exact-decimal sums make the two-phase merge value-stable.
    */
  val q73SaltedAgg: Q = Q(
    "q73_salted_agg",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      events
        .select(col("event_type"), col("value"),
          pmod(col("event_id"), lit(16)).as("salt"))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(30,10)")).as("pv"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n_events"),
          round(sum(col("pv")), 2).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
              CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
                AS total_value
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Join-key skew profiler — the diagnostic that SIZES a skew
    * mitigation before it runs (q73's salt factor, AQE's skew-join
    * thresholds). Per event_type: distinct-key and row counts, the
    * heaviest key's share in exact ppm (integer cross-multiplication,
    * no doubles), and how many keys exceed 8x the mean frequency
    * (`cnt * n_keys > 8 * total`, the integer form of cnt > 8*mean).
    * One shuffle to the per-key grain, a tiny per-type rollup, and a
    * BROADCAST join-back of the |event_type|-row totals (round 20:
    * the per-type totals previously rode `count()/sum() OVER
    * (PARTITION BY event_type)` — an |enum|-partition shuffle of the
    * whole per-key table, each partition a single task at scale; the
    * broadcast join-back computes the same numbers with the per-key
    * table staying on its own partitioning).
    */
  val q105SkewProfile: Q = Q(
    "q105_skew_profile",
    (s, dir) => {
      val perKey = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val totals = perKey.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nk"), sum(col("cnt")).as("tot"))
      perKey.join(broadcast(totals), "event_type")
        .groupBy(col("event_type"))
        .agg(
          max(col("nk")).as("n_keys"),
          max(col("tot")).cast("long").as("n_rows"),
          max(col("cnt")).as("max_cnt"),
          count(when(col("cnt") * col("nk") > col("tot") * 8, 1))
            .as("hot_keys"))
        .select(col("event_type"), col("n_keys"), col("n_rows"),
          col("max_cnt"),
          expr("max_cnt * 1000000 div n_rows").as("top1_ppm"),
          col("hot_keys"))
        .orderBy("event_type")
    },
    Some("""WITH pk AS (
              SELECT event_type, user_id, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            x AS (SELECT *,
                count(*) OVER (PARTITION BY event_type) AS nk,
                sum(cnt) OVER (PARTITION BY event_type) AS tot
              FROM pk)
            SELECT event_type,
              CAST(max(nk) AS BIGINT) AS n_keys,
              CAST(max(tot) AS BIGINT) AS n_rows,
              CAST(max(cnt) AS BIGINT) AS max_cnt,
              CAST(max(cnt) AS BIGINT) * 1000000
                // CAST(max(tot) AS BIGINT) AS top1_ppm,
              count(CASE WHEN cnt * nk > tot * 8 THEN 1 END) AS hot_keys
            FROM x GROUP BY event_type ORDER BY event_type"""))

  /** Grouped OLS trend via exact sufficient statistics: per event_type,
    * the least-squares slope and intercept of value over time from the
    * five sufficient sums (n, Σx, Σy, Σxy, Σx²) — the one-reduce shape
    * that computes a regression over any group size with a single
    * shuffle and no iteration. x is the hour index since 2024-01-01 and
    * y the floor-centi value — small exact integers, so every sum is an
    * order-independent BIGINT reduce and the emitted sufficient
    * statistics are themselves hash-checked; the ONLY double is the
    * final slope division (identical IEEE op tree on both engines, per
    * the Catalog contract).
    */
  val q108TrendOls: Q = Q(
    "q108_trend_ols",
    (s, dir) => {
      // x = hour index since 2024-01-01 (<= 3 digits on the fixture
      // month), y = centi-value — both small exact BIGINTs, so every
      // sufficient sum AND the two slope cross-terms stay in exact
      // 64-bit range through ~sf1 (documented bound; beyond that the
      // sums widen to decimal). Only the final divisions are doubles.
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000000000 - 1704067200) div 3600").as("x"),
          floor(col("value") * 100).as("y"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n").as("n_events"),
          col("sx"), col("sy"), col("sxy"), col("sxx"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope_centi_per_hour"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                  - 1704067200) // 3600 AS x,
                CAST(floor(value * 100) AS BIGINT) AS y
              FROM events),
            a AS (SELECT event_type, count(*) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM ev GROUP BY 1)
            SELECT event_type, n AS n_events, sx, sy, sxy, sxx,
              CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                AS slope_centi_per_hour
            FROM a ORDER BY event_type"""))

  /** Compaction (OPTIMIZE) planner — the file-layout maintenance pass a
    * lakehouse runs to fight small files: per partition, files in name
    * order are greedily packed into bins of a target size by
    * exclusive-prefix-sum division, and the plan reports each output
    * bin's file count and byte total. Everything is an exclusive prefix
    * sum and integer division; the plan table is what the rewrite job
    * would execute. (File inventory is simulated from events: one
    * "file" per (event_type, user_id) with its row count ×100 as bytes
    * — the planner's arithmetic is the operator under test, not the
    * listing.)
    *
    * Round 20: the prefix sum rides
    * [[graft.engine.Cumulative.groupedRankedCumSums]] rather than a
    * window PARTITIONED BY event_type — a real lake's file manifest is
    * metadata-sized, but nothing in this plan shape bounded it, and
    * |enum|-partition windows are the collapsed-window class the
    * GlobalWindowPolicySpec gate flags. prior = inclusive cum − own
    * bytes, exact BIGINT, row-identical to the old exclusive frame.
    */
  val q109CompactionPlan: Q = Q(
    "q109_compaction_plan",
    (s, dir) => {
      val target = 4000L
      val files = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg((count(lit(1)) * 100).as("bytes"))
      graft.engine.Cumulative.groupedRankedCumSums(
        files, Seq(col("event_type")), Seq(col("user_id").asc),
        values = Seq(col("bytes") -> "cum_bytes"))
        .withColumn("prior", col("cum_bytes") - col("bytes"))
        .withColumn("bin", expr(s"prior div $target"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("bytes")).cast("long").as("bin_bytes"))
        .orderBy("event_type", "bin")
    },
    Some("""WITH files AS (
              SELECT event_type, user_id, count(*) * 100 AS bytes
              FROM events GROUP BY 1, 2),
            c AS (SELECT event_type, user_id, bytes,
                coalesce(sum(bytes) OVER (PARTITION BY event_type
                  ORDER BY user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS prior
              FROM files)
            SELECT event_type, CAST(prior // 4000 AS BIGINT) AS bin,
              count(*) AS n_files,
              CAST(sum(bytes) AS BIGINT) AS bin_bytes
            FROM c GROUP BY 1, 2 ORDER BY event_type, bin"""))

  /** [[graft.engine.Skew.saltedJoin]] under oracle check — the salted
    * AGGREGATION is proven equal to the plain groupBy by q73; this is
    * the same proof for the salted JOIN helper: events (the skewed fact
    * — q105 profiles user_id's hot keys) joined to the customer
    * dimension through the salt-and-replicate path, aggregated per user,
    * hash-compared against the plain-SQL inner join. The salt spreads
    * rows of ONE key across 16 shuffle tasks and the dimension is
    * replicated 16x, so equality with the unsalted join is exactly the
    * helper's correctness claim (no pair lost, no pair duplicated).
    *
    * ## 100 TB notes
    * The salted path exists for the key so hot that even AQE's skew
    * split leaves a straggler: replication cost is |dim| x saltBuckets
    * rows shuffled, bounded and chosen; the hot key's probe cost drops
    * by 1/16. Per-user grouping after the join keeps the oracle row
    * count |matched users|, not |events|.
    */
  val q115SaltedJoin: Q = Q(
    "q115_salted_join",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.engine.Skew.saltedJoin(events, cust, Seq("user_id"), 16)
        .groupBy(col("user_id"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(30,10)")), 2).cast("double")
            .as("total_value"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, c_mktsegment, count(*) AS n_events,
              CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
                AS total_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2 ORDER BY user_id"""))

  /** Shuffle-partition balance planner — pick
    * `spark.sql.shuffle.partitions` from DATA, not folklore: for each
    * candidate partition count p ∈ {8, 32, 128}, hash every event's
    * key (the engine-portable md5-derived `hash32`, so DuckDB builds
    * the IDENTICAL assignment) into p reducers and report the load
    * envelope — partitions actually used, max/min rows, and the
    * hottest reducer's EXCESS over the perfect share in exact ppm
    * (`(max*p - n)*1e6 div n`). q105 profiles hot KEYS; this profiles
    * the reducer LOADS those keys induce at each candidate width —
    * the number that says whether raising p actually flattens the
    * wave or just shards the same hot key thinner.
    *
    * ## 100 TB notes
    * One explode (×3 candidate widths) into a map-side-combined
    * (p, part) count — the shuffle carries at most p rows per
    * partition per width. The output is Σp rows regardless of data
    * size. At real scale this query IS the tuning loop's feedback.
    */
  val q287PartitionBalance: Q = Q(
    "q287_partition_balance",
    (s, dir) => {
      val h = graft.engine.ext.Text.hash32(col("user_id").cast("string"))
      val ev = Tables.load(s, dir, "events").select(h.as("h"))
      val widths = explode(array(Seq(8L, 32L, 128L).map(lit): _*)).as("p")
      val loads = ev.select(col("h"), widths)
        .select(col("p"), pmod(col("h"), col("p")).as("part"))
        .groupBy(col("p"), col("part"))
        .agg(count(lit(1)).as("rows"))
      loads.groupBy(col("p"))
        .agg(count(lit(1)).as("parts_used"), sum(col("rows")).as("n_rows"),
          max(col("rows")).as("max_rows"), min(col("rows")).as("min_rows"))
        .select(col("p"), col("parts_used"), col("n_rows"),
          col("max_rows"), col("min_rows"),
          expr("(max_rows * p - n_rows) * 1000000 div n_rows")
            .as("hot_excess_ppm"))
        .orderBy("p")
    },
    Some("""WITH e AS (SELECT
                ('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT
                  AS h
              FROM events),
            w AS (SELECT unnest([8, 32, 128]) AS p),
            l AS (SELECT p, h % p AS part, count(*) AS rows
                  FROM e CROSS JOIN w GROUP BY 1, 2),
            a AS (SELECT p, count(*) AS parts_used,
                    CAST(sum(rows) AS BIGINT) AS n_rows,
                    CAST(max(rows) AS BIGINT) AS max_rows,
                    CAST(min(rows) AS BIGINT) AS min_rows
                  FROM l GROUP BY 1)
            SELECT CAST(p AS BIGINT) AS p, parts_used, n_rows, max_rows,
              min_rows,
              (max_rows * p - n_rows) * 1000000 // n_rows
                AS hot_excess_ppm
            FROM a ORDER BY p"""))

  /** Salting effectiveness, measured — q287 shows widening the
    * shuffle only shards hot keys thinner; this query closes the
    * argument by measuring what SALTING does to the same reducer-load
    * envelope at a fixed width (p = 32): the raw key layout vs the
    * salted key (`(key, hash % 16)` — q73/q115's split) side by side,
    * with the hottest reducer's excess over the perfect share in
    * exact ppm. Salting multiplies distinct keys ×16, so the
    * law-of-large-numbers flattening that more PARTITIONS cannot buy
    * (same hot keys, thinner shards) more KEYS can. The two rows are
    * the before/after of the q73 design decision.
    *
    * ## 100 TB notes
    * Same economics as q287: map-side-combined (strategy, part)
    * counts, output 2 rows. The salt hash reuses the engine-portable
    * md5 derivation so DuckDB reproduces the assignment exactly.
    */
  val q289SaltingBalance: Q = Q(
    "q289_salting_balance",
    (s, dir) => {
      val h = graft.engine.ext.Text.hash32(col("user_id").cast("string"))
      val salt = pmod(graft.engine.ext.Text.hash32(
        concat(col("event_id").cast("string"), lit(":salt"))), lit(16L))
      val ev = Tables.load(s, dir, "events")
        .select(h.as("h"), salt.as("salt"))
      val loads = ev
        .select(lit("raw").as("strategy"), pmod(col("h"), lit(32L)).as("part"))
        .unionAll(ev.select(lit("salted").as("strategy"),
          pmod(col("h") * 16 + col("salt"), lit(32L)).as("part")))
        .groupBy(col("strategy"), col("part"))
        .agg(count(lit(1)).as("rows"))
      loads.groupBy(col("strategy"))
        .agg(count(lit(1)).as("parts_used"), sum(col("rows")).as("n_rows"),
          max(col("rows")).as("max_rows"), min(col("rows")).as("min_rows"))
        .select(col("strategy"), col("parts_used"), col("n_rows"),
          col("max_rows"), col("min_rows"),
          expr("(max_rows * 32 - n_rows) * 1000000 div n_rows")
            .as("hot_excess_ppm"))
        .orderBy("strategy")
    },
    Some("""WITH e AS (SELECT
                ('0x' || substring(md5(user_id::VARCHAR), 1, 8))::BIGINT
                  AS h,
                ('0x' || substring(md5(event_id::VARCHAR || ':salt'),
                  1, 8))::BIGINT % 16 AS salt
              FROM events),
            t AS (SELECT 'raw' AS strategy, h % 32 AS part FROM e
                  UNION ALL
                  SELECT 'salted', (h * 16 + salt) % 32 FROM e),
            l AS (SELECT strategy, part, count(*) AS rows
                  FROM t GROUP BY 1, 2),
            a AS (SELECT strategy, count(*) AS parts_used,
                    CAST(sum(rows) AS BIGINT) AS n_rows,
                    CAST(max(rows) AS BIGINT) AS max_rows,
                    CAST(min(rows) AS BIGINT) AS min_rows
                  FROM l GROUP BY 1)
            SELECT strategy, parts_used, n_rows, max_rows, min_rows,
              (max_rows * 32 - n_rows) * 1000000 // n_rows
                AS hot_excess_ppm
            FROM a ORDER BY strategy"""))

  /** Quantile treatment effect — the DISTRIBUTIONAL A/B readout a
    * mean-difference test (q148) cannot give: per seeded-hash arm
    * (q188's assignment), the exact discrete deciles of purchase
    * cents and their per-decile difference. A treatment that moves
    * the tail but not the median shows a flat diff at d5 and a wide
    * one at d9 — invisible to the mean. Deciles come from the
    * histogram-cumulative walk (per-(arm, cents) counts, per-arm
    * cumulative over DISTINCT values only), and the decile election
    * is the exact integer predicate `cum * 10 >= n * k` — the q175
    * discipline, no percentile_disc engine-semantics roulette.
    *
    * ## 100 TB notes
    * One shuffle to the (arm, cents) histogram with map-side
    * partials; the per-arm [[graft.engine.Cumulative.histogram]] walk
    * covers distinct values only; the
    * decile election crosses the histogram with a broadcast 9-row
    * dimension. Output is 9 rows at any scale.
    */
  val q288QteDeciles: Q = Q(
    "q288_qte_deciles",
    (s, dir) => {
      val arm = pmod(graft.engine.ext.Text.hash32(
        concat(col("user_id").cast("string"), lit(":ab1"))), lit(2L))
      val pur = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(arm.as("arm"),
          floor(col("value") * 100).cast("long").as("cents"))
      val cum = graft.engine.Cumulative.histogram(pur, Seq(col("arm")),
        col("cents"), count(lit(1)))
      val ks = s.range(1, 10).select(col("id").as("k"))
      cum.crossJoin(broadcast(ks))
        .filter(col("cum") * 10 >= col("n") * col("k"))
        .groupBy(col("k"))
        .agg(min(when(col("arm") === 0, col("cents"))).as("d_control"),
          min(when(col("arm") === 1, col("cents"))).as("d_treat"))
        .select(col("k"), col("d_control"), col("d_treat"),
          (col("d_treat") - col("d_control")).as("qte_cents"))
        .orderBy("k")
    },
    Some("""WITH p AS (SELECT
                ('0x' || substring(md5(user_id::VARCHAR || ':ab1'), 1, 8))
                  ::BIGINT % 2 AS arm,
                CAST(floor(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            h AS (SELECT arm, cents, count(*) AS c FROM p GROUP BY 1, 2),
            cum AS (SELECT arm, cents,
                      sum(c) OVER (PARTITION BY arm ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum,
                      sum(c) OVER (PARTITION BY arm) AS n
                    FROM h),
            ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS k)
            SELECT CAST(k AS BIGINT) AS k,
              min(CASE WHEN arm = 0 THEN cents END) AS d_control,
              min(CASE WHEN arm = 1 THEN cents END) AS d_treat,
              min(CASE WHEN arm = 1 THEN cents END)
                - min(CASE WHEN arm = 0 THEN cents END) AS qte_cents
            FROM cum CROSS JOIN ks
            WHERE cum * 10 >= n * k
            GROUP BY k ORDER BY k"""))

  /** Metronome ranking — the timing-regularity bot signal: humans
    * produce ragged inter-event gaps, schedulers produce constant
    * ones, so the per-user gap SPREAD (`(max-min)*1e6 div max`, exact
    * ppm — 0 means perfectly periodic) ranks accounts by
    * machine-likeness. The top-20 most regular senders with at least
    * 5 gaps is the triage list an abuse pipeline reviews first; gap
    * stats ride along (n, min/max µs). All exact integer µs
    * arithmetic — no variance estimate needed, the min/max envelope
    * IS the periodicity test (a metronome's min equals its max).
    *
    * ## 100 TB notes
    * Gaps are a lag window PARTITIONED BY user (bounded state); the
    * rollup is map-side combined; the top-20 is
    * TakeOrderedAndProject (per-partition heap, no global sort
    * materialization). The total order (spread, user) makes the cut
    * deterministic.
    */
  val q286MetronomeRank: Q = Q(
    "q286_metronome_rank",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), tsUs.as("us"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
      val gaps = ev
        .withColumn("prev", lag(col("us"), 1).over(byUser))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("us") - col("prev")).as("gap"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .filter(col("n_gaps") >= 5 && col("max_gap_us") > 0)
        .select(col("user_id"), col("n_gaps"), col("min_gap_us"),
          col("max_gap_us"),
          expr("(max_gap_us - min_gap_us) * 1000000 div max_gap_us")
            .as("spread_ppm"))
        .orderBy(col("spread_ppm").asc, col("user_id").asc)
        .limit(20)
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, ${duckUs("ts")} AS us
                 FROM events),
            g AS (SELECT user_id,
                    us - lag(us) OVER (PARTITION BY user_id
                      ORDER BY us ASC, event_id ASC) AS gap
                  FROM e),
            a AS (SELECT user_id, count(*) AS n_gaps,
                    min(gap) AS min_gap_us, max(gap) AS max_gap_us
                  FROM g WHERE gap IS NOT NULL GROUP BY 1)
            SELECT user_id, n_gaps, min_gap_us, max_gap_us,
              (max_gap_us - min_gap_us) * 1000000 // max_gap_us
                AS spread_ppm
            FROM a WHERE n_gaps >= 5 AND max_gap_us > 0
            ORDER BY spread_ppm ASC, user_id ASC LIMIT 20"""))

  /** Run-length profile per layout — the COMPRESSION side of the
    * clustering trade q267 prices for pruning: within each file, in
    * the layout's physical sort order, how many value RUNS do the two
    * key columns carry? Parquet's RLE cost is proportional to runs,
    * so `runs * 1e6 div rows` (exact ppm; lower = fewer, longer runs)
    * is the encoded-size proxy per column per layout. The fixture
    * measures the real trade: lexicographic is PERFECT on x (one
    * value per file, runs_x = n_files = 32) and ndv-bound on y
    * (runs_y 960); Morton order pays 30× on x (runs_x 960) but
    * HALVES y's runs (464) — the curve keeps both keys locally
    * coherent instead of one perfectly. So z-order buys
    * two-dimensional pruning (q267) at a one-sided compression cost,
    * not a total one. Reading both tables is the actual OPTIMIZE
    * decision.
    *
    * ## 100 TB notes
    * One pass; the run detection is a `lag` window PARTITIONED BY
    * (layout, file) in the file's sort order — per-file state only,
    * exactly the writer's own encoding pass. The rollup to 2 rows is
    * map-side combined. The Morton code is the native
    * [[graft.functions.MortonCode]]; the oracle keeps per-bit
    * arithmetic (the q267 cross-engine equality discipline).
    */
  val q282RleProfile: Q = Q(
    "q282_rle_profile",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), expr("user_id % 32").as("x"),
          expr("(ts div 86400000000000) % 32").as("y"))
      val keyed = ev.select(col("event_id"), col("x"), col("y"),
        graft.functions.GraftFunctions.mortonCode(col("x"), col("y"))
          .as("zv"))
      val tagged = keyed
        .select(lit("linear").as("layout"), (col("x") * 32 + col("y"))
            .as("sk"), col("event_id"), col("x"), col("y"))
        .unionAll(keyed.select(lit("zorder").as("layout"),
          col("zv").as("sk"), col("event_id"), col("x"), col("y")))
        .withColumn("file_id", expr("sk div 32"))
      val inFile = Window.partitionBy(col("layout"), col("file_id"))
        .orderBy(col("sk").asc, col("event_id").asc)
      val runs = tagged
        .withColumn("px", lag(col("x"), 1).over(inFile))
        .withColumn("py", lag(col("y"), 1).over(inFile))
        .withColumn("rx", when(col("px").isNull ||
          col("px") =!= col("x"), 1L).otherwise(0L))
        .withColumn("ry", when(col("py").isNull ||
          col("py") =!= col("y"), 1L).otherwise(0L))
      runs.groupBy(col("layout"))
        .agg(count_distinct(col("file_id")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum(col("rx")).as("runs_x"), sum(col("ry")).as("runs_y"))
        .select(col("layout"), col("n_files"), col("n_rows"),
          col("runs_x"), col("runs_y"),
          expr("runs_x * 1000000 div n_rows").as("rle_x_ppm"),
          expr("runs_y * 1000000 div n_rows").as("rle_y_ppm"))
        .orderBy("layout")
    },
    Some {
      val morton = (0 until 5).map { i =>
        val p = 1L << i; val zx = 1L << (2 * i); val zy = 1L << (2 * i + 1)
        s"((x // $p) % 2) * $zx + ((y // $p) % 2) * $zy"
      }.mkString(" + ")
      s"""WITH ev AS (SELECT event_id, user_id % 32 AS x,
                (${duckUs("ts")} // 86400000000) % 32 AS y
              FROM events),
            keyed AS (SELECT event_id, x, y, $morton AS zv FROM ev),
            tagged AS (
              SELECT 'linear' AS layout, x * 32 + y AS sk, event_id, x, y
              FROM keyed
              UNION ALL
              SELECT 'zorder' AS layout, zv AS sk, event_id, x, y
              FROM keyed),
            runs AS (SELECT layout, sk // 32 AS file_id, x, y,
                       lag(x) OVER (PARTITION BY layout, sk // 32
                         ORDER BY sk ASC, event_id ASC) AS px,
                       lag(y) OVER (PARTITION BY layout, sk // 32
                         ORDER BY sk ASC, event_id ASC) AS py
                     FROM tagged)
            SELECT layout, count(DISTINCT file_id) AS n_files,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN px IS NULL OR px <> x THEN 1 ELSE 0 END)
                AS BIGINT) AS runs_x,
              CAST(sum(CASE WHEN py IS NULL OR py <> y THEN 1 ELSE 0 END)
                AS BIGINT) AS runs_y,
              CAST(sum(CASE WHEN px IS NULL OR px <> x THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000 // count(*) AS rle_x_ppm,
              CAST(sum(CASE WHEN py IS NULL OR py <> y THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000 // count(*) AS rle_y_ppm
            FROM runs GROUP BY layout ORDER BY layout"""
    })

  /** Count–min sketch heavy hitters, expressed as dataflow: the sketch
    * is a (depth x width) counter table built by one explode + group-by
    * (map-side partial agg collapses the exploded stream to at most
    * depth x width rows per partition), estimates are `min` over the
    * depth rows after a broadcast join of the candidate keys against the
    * counter table. Carter–Wegman row hashes `((a_i k + b_i) mod p) mod w`
    * are pure int64 arithmetic, so DuckDB rebuilds the IDENTICAL sketch
    * and the estimates hash-match exactly — the oracle checks the real
    * CMS values, not just the error bound (the bound, est <= exact +
    * 2N/w, is also emitted and must hold by construction).
    *
    * ## 100 TB notes
    * The sketch table is depth x width rows REGARDLESS of input size —
    * that is the whole point of the sketch: the only full-data pass is
    * the explode + partial agg, which shuffles at most
    * depth x width x partitions pre-combined rows. Width is deliberately
    * small here (64) so collisions actually occur at test SF and the
    * `overcount` column is exercised above zero.
    */
  val q120CmsHeavyHitters: Q = Q(
    "q120_cms_heavy_hitters",
    (s, dir) => {
      val depth = 4L
      val width = 64L
      val prime = 2147483647L // 2^31 - 1
      def bucket(k: Column, i: Column): Column =
        (k * (i * 1000003L + 1L) + (i * 999983L + 12345L)) % prime % width
      val ev = Tables.load(s, dir, "events").select(col("user_id"))
      val sketch = ev
        .select(col("user_id"),
          explode(sequence(lit(0L), lit(depth - 1))).as("i"))
        .groupBy(col("i"), bucket(col("user_id"), col("i")).as("bucket"))
        .agg(count(lit(1)).as("c"))
      val total = ev.agg(count(lit(1)).as("n")) // 1 row
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id").asc)
        .limit(10)
      val counters = sketch
        .select(col("i").as("sk_i"), col("bucket"), col("c"))
      top
        .select(col("user_id"), col("exact_cnt"),
          explode(sequence(lit(0L), lit(depth - 1))).as("i"))
        .join(broadcast(counters),
          col("i") === col("sk_i") &&
            bucket(col("user_id"), col("i")) === col("bucket"))
        .groupBy(col("user_id"), col("exact_cnt"))
        .agg(min(col("c")).as("cms_est"))
        .crossJoin(broadcast(total))
        .select(col("user_id"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"),
          (col("cms_est") <= col("exact_cnt") + expr("2 * n div 64"))
            .as("within_bound"))
        .orderBy(col("exact_cnt").desc, col("user_id").asc)
    },
    Some("""WITH ev AS (SELECT user_id FROM events),
            hh AS (SELECT unnest(generate_series(0, 3)) AS i),
            sk AS (SELECT i,
                     (user_id * (i * 1000003 + 1) + (i * 999983 + 12345))
                       % 2147483647 % 64 AS bucket,
                     count(*) AS c
                   FROM ev CROSS JOIN hh GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n FROM ev),
            top AS (SELECT user_id, count(*) AS exact_cnt FROM ev
                    GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 10),
            est AS (SELECT t.user_id, t.exact_cnt, min(sk.c) AS cms_est
                    FROM top t CROSS JOIN hh
                    JOIN sk ON sk.i = hh.i AND sk.bucket =
                      (t.user_id * (hh.i * 1000003 + 1)
                        + (hh.i * 999983 + 12345)) % 2147483647 % 64
                    GROUP BY 1, 2)
            SELECT user_id, exact_cnt, cms_est,
              cms_est - exact_cnt AS overcount,
              cms_est <= exact_cnt + 2 * tot.n // 64 AS within_bound
            FROM est CROSS JOIN tot
            ORDER BY exact_cnt DESC, user_id"""))

  /** Per-user behavioral diversity as GINI IMPURITY
    * `1 - Σ (c_i/n)² = (n² - Σ c_i²) / n²` — the diversity score that,
    * unlike Shannon entropy, needs no transcendental function: the
    * numerator and denominator are exact int64 arithmetic on both
    * engines and only the final division is floating point (`ln` differs
    * across libm implementations at the ulp level; Gini is the
    * determinism-contract-safe diversity measure). Two hash aggregates —
    * (user, type) then user — both map-side combined; no window, no
    * explode.
    */
  val q127GiniDiversity: Q = Q(
    "q127_gini_diversity",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("c")).as("n_events"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          ((col("n_events") * col("n_events") - col("ss")).cast("double")
            / (col("n_events") * col("n_events")).cast("double"))
            .as("gini"))
        .orderBy("user_id")
    },
    Some("""WITH pc AS (SELECT user_id, event_type, count(*) AS c
                        FROM events GROUP BY 1, 2),
            u AS (SELECT user_id, count(*) AS n_types,
                    CAST(sum(c) AS BIGINT) AS n_events,
                    CAST(sum(c * c) AS BIGINT) AS ss
                  FROM pc GROUP BY 1)
            SELECT user_id, n_events, n_types,
              CAST(n_events * n_events - ss AS DOUBLE)
                / CAST(n_events * n_events AS DOUBLE) AS gini
            FROM u ORDER BY user_id"""))

  /** Chi-square contingency cells: event_type x user-cohort observed
    * counts with expected counts and per-cell χ² contributions — the
    * independence diagnostic behind drift detection and stratification
    * checks. The contingency table is |types| x |cohorts| rows, so the
    * marginal windows run over the AGGREGATED frame; the only
    * event-sized work is the first hash aggregate. The global χ² is
    * deliberately NOT emitted: it is a sum of doubles whose accumulation
    * order Spark does not fix — per-cell contributions (an identical
    * 4-op IEEE chain on exact-int inputs on both engines) are the
    * deterministic surface, and any consumer can fold them.
    */
  val q128Chi2Cells: Q = Q(
    "q128_chi2_cells",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), pmod(col("user_id"), lit(4)).as("cohort"))
      val cells = ev.groupBy(col("event_type"), col("cohort"))
        .agg(count(lit(1)).as("obs"))
      val total = ev.agg(count(lit(1)).as("n")) // 1 row
      cells
        .withColumn("row_tot",
          sum(col("obs")).over(Window.partitionBy("event_type")))
        .withColumn("col_tot",
          sum(col("obs")).over(Window.partitionBy("cohort")))
        .crossJoin(broadcast(total))
        // exp/contrib: exact int64 inputs, fixed IEEE op chain
        .withColumn("expected",
          (col("row_tot") * col("col_tot")).cast("double")
            / col("n").cast("double"))
        .select(col("event_type"), col("cohort"), col("obs"),
          col("expected"),
          ((col("obs").cast("double") - col("expected"))
            * (col("obs").cast("double") - col("expected"))
            / col("expected")).as("contrib"))
        .orderBy("event_type", "cohort")
    },
    Some("""WITH ev AS (SELECT event_type, user_id % 4 AS cohort
                        FROM events),
            cells AS (SELECT event_type, cohort, count(*) AS obs
                      FROM ev GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n FROM ev),
            m AS (SELECT event_type, cohort, obs,
                    CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT)
                      AS row_tot,
                    CAST(sum(obs) OVER (PARTITION BY cohort) AS BIGINT)
                      AS col_tot
                  FROM cells),
            e AS (SELECT event_type, cohort, obs,
                    CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE)
                      AS expected
                  FROM m CROSS JOIN tot)
            SELECT event_type, cohort, obs, expected,
              (CAST(obs AS DOUBLE) - expected)
                * (CAST(obs AS DOUBLE) - expected) / expected AS contrib
            FROM e ORDER BY event_type, cohort"""))

  /** Distribution drift between the month's two halves as TOTAL
    * VARIATION distance — the drift metric that needs no logarithm
    * (PSI/KL/JS all do, and libm ln() is not pinned across engines):
    * TV = ½ Σ_i |p_i − q_i|, computed per event type by exact integer
    * cross-multiplication `|c1·n2 − c2·n1|` and ONE closing division by
    * `2·n1·n2`. Emits the per-type absolute-difference terms plus the
    * one-row drift summary a monitoring pipeline thresholds on. Two hash
    * aggregates over |types| x 2 cells; the halves split on the exact
    * µs midpoint of the observed range (broadcast 1-row bounds).
    */
  val q140TvDrift: Q = Q(
    "q140_tv_drift",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), tsUs.as("ts_us"))
      val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      val cells = ev.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          (col("ts_us") <= expr("lo + (hi - lo) div 2")).as("first_half"))
        .groupBy(col("event_type"))
        .agg(count(when(col("first_half"), 1)).as("c1"),
          count(when(!col("first_half"), 1)).as("c2"))
      val totals = cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      cells.crossJoin(broadcast(totals))
        .select(col("event_type"), col("c1"), col("c2"),
          abs(col("c1") * col("n2") - col("c2") * col("n1")).as("cross_abs"),
          (abs(col("c1") * col("n2") - col("c2") * col("n1")).cast("double")
            / (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")))
            .as("tv_term"))
        .orderBy("event_type")
    },
    Some(s"""WITH ev AS (SELECT event_type, ${duckUs("ts")} AS ts_us
                         FROM events),
             b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
             cells AS (SELECT event_type,
                         count(CASE WHEN ts_us <= lo + (hi - lo) // 2
                                    THEN 1 END) AS c1,
                         count(CASE WHEN ts_us > lo + (hi - lo) // 2
                                    THEN 1 END) AS c2
                       FROM ev CROSS JOIN b GROUP BY event_type),
             t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                          CAST(sum(c2) AS BIGINT) AS n2 FROM cells)
             SELECT event_type, c1, c2,
               abs(c1 * n2 - c2 * n1) AS cross_abs,
               CAST(abs(c1 * n2 - c2 * n1) AS DOUBLE)
                 / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS tv_term
             FROM cells CROSS JOIN t ORDER BY event_type"""))

  /** Mergeable HLL sketches across rolling windows — WHY sketches earn
    * their keep at 100 TB: per-day HLL sketches of the user set are
    * built once (`hll_sketch_agg`) and the 7-day rolling distinct is a
    * UNION OF SKETCHES (`hll_union_agg`), never a re-scan of the raw
    * events — q123 computes the same rolling metric exactly by
    * re-aggregating every window. DuckDB cannot rebuild Apache
    * DataSketches, so the oracle is the q54 pattern: the exact rolling
    * count (q123's dedup-then-explode shape) plus a hash-stable
    * `within_bounds` check of the estimate against the sketch's
    * documented error at lgK=12 (3 x 1.04/√2^12 ≈ 4.9 %).
    */
  val q141HllUnion: Q = Q(
    "q141_hll_union",
    (s, dir) => {
      val du = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 86400000000").as("day_idx"),
          col("user_id"))
      // one sketch per day (the reusable partial state)
      val daily = du.groupBy("day_idx")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      // roll each day's sketch into the <= 7 windows it serves, then
      // merge per window — sketch union, not data re-aggregation
      val rolled = daily
        .select(explode(sequence(col("day_idx"), col("day_idx") + 6))
          .as("report_day"), col("sk"))
        .groupBy("report_day")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("approx_7d"))
      val exact = du
        .select(explode(sequence(col("day_idx"), col("day_idx") + 6))
          .as("report_day"), col("user_id"))
        .groupBy("report_day")
        .agg(count_distinct(col("user_id")).as("exact_7d"))
      exact.join(rolled, Seq("report_day"))
        .join(daily.select(col("day_idx").as("report_day")), Seq("report_day"),
          "left_semi") // only days that exist in the data
        .select(col("report_day"), col("exact_7d"),
          (abs(col("approx_7d") - col("exact_7d").cast("double"))
            <= col("exact_7d").cast("double") * 0.049 + 1.0)
            .as("within_bounds"))
        .orderBy("report_day")
    },
    Some(s"""WITH du AS (SELECT DISTINCT
                    ${duckUs("ts")} // 86400000000 AS day_idx, user_id
                  FROM events),
             w AS (SELECT day_idx + g AS report_day, user_id
                   FROM du CROSS JOIN
                     (SELECT unnest(generate_series(0, 6)) AS g)),
             r AS (SELECT report_day, count(DISTINCT user_id) AS exact_7d
                   FROM w GROUP BY 1)
             SELECT report_day, exact_7d, true AS within_bounds
             FROM r WHERE report_day IN (SELECT day_idx FROM du)
             ORDER BY report_day"""))

  /** Market-basket association rules over (user, day) baskets:
    * support, confidence and lift for ordered event-type pairs that
    * co-occur in a basket — q93's bigram lift is SEQUENTIAL (adjacent
    * tokens); this is the set-co-occurrence form recommendation and
    * affinity pipelines use. Baskets dedup first (the only event-sized
    * shuffle); the pair join runs inside each basket key over <= |types|
    * rows; confidence is one exact-int division, lift one fixed IEEE
    * chain of exact ints (n·c_ab / (c_a·c_b) — cross-multiplied before
    * any division so both engines divide identical integers).
    */
  val q142AssocRules: Q = Q(
    "q142_assoc_rules",
    (s, dir) => {
      val basket = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("(ts div 1000) div 86400000000")
          .as("day_idx"), col("event_type"))
        .distinct()
      val items = basket.groupBy(col("event_type"))
        .agg(count(lit(1)).as("c_item"))
      val pairs = basket.as("a")
        .join(basket.as("b"), Seq("user_id", "day_idx"))
        .filter(col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("lhs"),
          col("b.event_type").as("rhs"))
        .agg(count(lit(1)).as("c_pair"))
      val n = basket.select(col("user_id"), col("day_idx")).distinct()
        .agg(count(lit(1)).as("n_baskets")) // 1 row
      pairs
        .join(broadcast(items.select(col("event_type").as("lhs"),
          col("c_item").as("c_lhs"))), Seq("lhs"))
        .join(broadcast(items.select(col("event_type").as("rhs"),
          col("c_item").as("c_rhs"))), Seq("rhs"))
        .crossJoin(broadcast(n))
        .filter(col("c_pair") >= 20)
        .select(col("lhs"), col("rhs"), col("c_pair"),
          (col("c_pair").cast("double") / col("c_lhs").cast("double"))
            .as("confidence"),
          ((col("n_baskets") * col("c_pair")).cast("double")
            / (col("c_lhs") * col("c_rhs")).cast("double")).as("lift"))
        .orderBy("lhs", "rhs")
    },
    Some(s"""WITH b AS (SELECT DISTINCT user_id,
                    ${duckUs("ts")} // 86400000000 AS day_idx, event_type
                  FROM events),
             it AS (SELECT event_type, count(*) AS c_item FROM b
                    GROUP BY 1),
             p AS (SELECT a.event_type AS lhs, x.event_type AS rhs,
                     count(*) AS c_pair
                   FROM b a JOIN b x
                     ON a.user_id = x.user_id AND a.day_idx = x.day_idx
                     AND a.event_type != x.event_type
                   GROUP BY 1, 2),
             n AS (SELECT count(*) AS n_baskets
                   FROM (SELECT DISTINCT user_id, day_idx FROM b))
             SELECT lhs, rhs, c_pair,
               CAST(c_pair AS DOUBLE) / CAST(l.c_item AS DOUBLE)
                 AS confidence,
               CAST(n_baskets * c_pair AS DOUBLE)
                 / CAST(l.c_item * r.c_item AS DOUBLE) AS lift
             FROM p
             JOIN it l ON l.event_type = lhs
             JOIN it r ON r.event_type = rhs
             CROSS JOIN n
             WHERE c_pair >= 20
             ORDER BY lhs, rhs"""))

  /** CUSUM change-point detection over the daily revenue-cents series,
    * per event type: the candidate change point maximizes
    * `|n·S_k − k·S_n|` (the cross-multiplied form of |cusum deviation|,
    * EXACT int64 — no mean, no division until the final reported
    * statistic). The series is the |days|-row aggregate, so the running
    * sums and the argmax rank are windows over a dim-sized frame; the
    * only event-sized work is the daily cents aggregate.
    */
  val q143CusumChangepoint: Q = Q(
    "q143_cusum_changepoint",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000")
          .as("day_idx"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day_idx"))
        .agg(sum(col("cents")).as("day_cents"))
      val byType = Window.partitionBy("event_type")
      val series = daily
        .withColumn("k", row_number().over(byType.orderBy("day_idx")))
        .withColumn("s_k", sum(col("day_cents")).over(
          byType.orderBy("day_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("s_n", sum(col("day_cents")).over(byType))
        .withColumn("stat",
          abs(col("n") * col("s_k") - col("k") * col("s_n")))
      series
        .withColumn("rk", row_number().over(
          byType.orderBy(col("stat").desc, col("day_idx").asc)))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day_idx").as("change_day"),
          col("stat").as("cusum_stat"),
          (col("stat").cast("double")
            / (col("n") * col("n")).cast("double")).as("mean_shift_cents"))
        .orderBy("event_type")
    },
    Some(s"""WITH d AS (SELECT event_type,
                    ${duckUs("ts")} // 86400000000 AS day_idx,
                    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                      AS day_cents
                  FROM events GROUP BY 1, 2),
             ser AS (SELECT event_type, day_idx,
                       row_number() OVER w AS k,
                       CAST(sum(day_cents) OVER (PARTITION BY event_type
                         ORDER BY day_idx ROWS UNBOUNDED PRECEDING)
                         AS BIGINT) AS s_k,
                       CAST(count(*) OVER (PARTITION BY event_type)
                         AS BIGINT) AS n,
                       CAST(sum(day_cents) OVER (PARTITION BY event_type)
                         AS BIGINT) AS s_n
                     FROM d
                     WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
             st AS (SELECT *, abs(n * s_k - k * s_n) AS stat,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY abs(n * s_k - k * s_n) DESC, day_idx ASC)
                        AS rk
                    FROM ser)
             SELECT event_type, day_idx AS change_day, stat AS cusum_stat,
               CAST(stat AS DOUBLE) / CAST(n * n AS DOUBLE)
                 AS mean_shift_cents
             FROM st WHERE rk = 1 ORDER BY event_type"""))

  /** Kaplan–Meier survival over signup→purchase conversion latency,
    * with right-censoring at the user's last observed event — the
    * time-to-event analysis behind activation funnels. The survival
    * curve is a CUMULATIVE PRODUCT, which neither engine offers as a
    * deterministic window: both sides fold the per-death-time factors
    * `(n_i − d_i)/n_i` over an explicitly ORDERED list (Spark
    * `aggregate(slice(sorted, 1, k), 1.0, *)`, DuckDB
    * `list_reduce(fl[1:k], *)`) — the leading 1.0·f₁ is exact in IEEE,
    * so the two fold chains are identical multiply-for-multiply.
    *
    * ## 100 TB notes
    * All per-user reductions shuffle once on user_id; the death-time
    * table is at most |users| rows, so the at-risk reverse-cumulative
    * window and the fold list are dim-sized (the q129 single-partition
    * exemption). Nothing event-sized survives past the first aggregate.
    */
  val q144SurvivalKm: Q = Q(
    "q144_survival_km",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts_us")).as("t0"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .join(signup, "user_id").filter(col("ts_us") >= col("t0"))
        .groupBy("user_id").agg(min(col("ts_us")).as("tp"))
      val last = ev.groupBy("user_id").agg(max(col("ts_us")).as("t_last"))
      val dur = signup.join(last, "user_id")
        .join(purchase, Seq("user_id"), "left")
        .select(
          (coalesce(col("tp"), col("t_last")) - col("t0")).as("dur_us"),
          col("tp").isNotNull.as("event"))
      val hist = dur.groupBy(col("dur_us"))
        .agg(count(when(col("event"), 1)).as("d"), count(lit(1)).as("m"))
      val byT = Window.orderBy("dur_us") // dim-sized series
      val deaths = hist
        .withColumn("n_i", sum(col("m")).over(
          byT.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter(col("d") > 0)
        .withColumn("factor",
          (col("n_i") - col("d")).cast("double") / col("n_i").cast("double"))
      val factors = deaths.agg(
        array_sort(collect_list(struct(col("dur_us"), col("factor"))))
          .as("fs")) // 1 row, ordered by dur_us
      deaths.crossJoin(broadcast(factors))
        .withColumn("k", row_number().over(byT))
        .select(col("dur_us").as("t_us"), col("d").as("d_i"), col("n_i"),
          aggregate(
            slice(transform(col("fs"), x => x.getField("factor")),
              lit(1), col("k")),
            lit(1.0), (acc, f) => acc * f).as("survival"))
        .orderBy("t_us")
    },
    Some(s"""WITH e AS (SELECT user_id, event_type,
                          ${duckUs("ts")} AS ts_us FROM events),
             su AS (SELECT user_id, min(ts_us) AS t0 FROM e
                    WHERE event_type = 'signup' GROUP BY 1),
             pu AS (SELECT e.user_id, min(ts_us) AS tp
                    FROM e JOIN su USING (user_id)
                    WHERE event_type = 'purchase' AND ts_us >= t0
                    GROUP BY e.user_id),
             la AS (SELECT user_id, max(ts_us) AS t_last FROM e
                    GROUP BY 1),
             dur AS (SELECT coalesce(tp, t_last) - t0 AS dur_us,
                       tp IS NOT NULL AS event
                     FROM su JOIN la USING (user_id)
                     LEFT JOIN pu USING (user_id)),
             h AS (SELECT dur_us, count(CASE WHEN event THEN 1 END) AS d,
                     count(*) AS m
                   FROM dur GROUP BY 1),
             ar AS (SELECT *, CAST(sum(m) OVER (ORDER BY dur_us
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                      AS BIGINT) AS n_i
                    FROM h),
             de AS (SELECT dur_us, d, n_i,
                      CAST(n_i - d AS DOUBLE) / CAST(n_i AS DOUBLE)
                        AS factor
                    FROM ar WHERE d > 0),
             wk AS (SELECT *, row_number() OVER (ORDER BY dur_us) AS k
                    FROM de),
             fs AS (SELECT list(factor ORDER BY dur_us) AS fl FROM de)
             SELECT dur_us AS t_us, d AS d_i, n_i,
               list_reduce(fl[1:k], (a, b) -> a * b) AS survival
             FROM wk CROSS JOIN fs ORDER BY t_us"""))

  /** Two-feature grouped OLS via exact normal equations — the
    * multivariate extension of q108's single-feature trend: per event
    * type, fit `cents ≈ b0 + b1·day + b2·hour_of_day` by Cramer's rule
    * over the 3x3 normal matrix, every entry of which is an EXACT int64
    * moment sum (counts, Σday, Σhour, Σday², Σday·hour, Σhour²,
    * Σcents·…). The determinant expansion stays in int128-free range by
    * construction (days < 31, hours < 24, cents < 10⁷ at sf0.1 — the
    * deepest product is n·Σd²·Σh² ≈ 10⁵·10⁴·10⁴·… bounded via the
    * decimal(38,0) accumulators used for the 3-term products), and only
    * the final three divisions are floating point — one fixed IEEE op
    * each, so the coefficients hash-match.
    */
  val q147Ols2: Q = Q(
    "q147_ols2",
    (s, dir) => {
      val base = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("d"),
          expr("((ts div 1000) div 3600000000) % 24").as("h"),
          floor(col("value") * 100).cast("long").as("y"))
      val m = base.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("d")).as("sd"), sum(col("h")).as("sh"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("d") * col("h")).as("sdh"),
        sum(col("h") * col("h")).as("shh"),
        sum(col("y")).as("sy"),
        sum(col("d") * col("y")).as("sdy"),
        sum(col("h") * col("y")).as("shy"))
      // 3x3 determinants in decimal(38,0): the triple products of int64
      // moment sums overflow long (n·Σd²·Σh² ~ 1e5·1e8·1e8), decimal
      // keeps them exact; DuckDB mirrors in HUGEINT
      def D(c: Column) = c.cast("decimal(38,0)")
      def det3(a1: Column, a2: Column, a3: Column,
               b1: Column, b2: Column, b3: Column,
               c1: Column, c2: Column, c3: Column): Column =
        D(a1) * (D(b2) * D(c3) - D(b3) * D(c2)) -
        D(a2) * (D(b1) * D(c3) - D(b3) * D(c1)) +
        D(a3) * (D(b1) * D(c2) - D(b2) * D(c1))
      val (n, sd, sh) = (col("n"), col("sd"), col("sh"))
      val (sdd, sdh, shh) = (col("sdd"), col("sdh"), col("shh"))
      val (sy, sdy, shy) = (col("sy"), col("sdy"), col("shy"))
      val det  = det3(n,  sd,  sh,  sd, sdd, sdh, sh, sdh, shh)
      val det0 = det3(sy, sd,  sh, sdy, sdd, sdh, shy, sdh, shh)
      val det1 = det3(n,  sy,  sh,  sd, sdy, sdh, sh, shy, shh)
      val det2 = det3(n,  sd,  sy,  sd, sdd, sdy, sh, sdh, shy)
      m.select(col("event_type"), col("n"),
          (det0.cast("double") / det.cast("double")).as("b0_cents"),
          (det1.cast("double") / det.cast("double")).as("b1_per_day"),
          (det2.cast("double") / det.cast("double")).as("b2_per_hour"))
        .orderBy("event_type")
    },
    Some(s"""WITH b AS (SELECT event_type,
                    ${duckUs("ts")} // 86400000000 AS d,
                    (${duckUs("ts")} // 3600000000) % 24 AS h,
                    CAST(floor(value * 100) AS BIGINT) AS y
                  FROM events),
             m AS (SELECT event_type,
                     CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(d) AS HUGEINT) AS sd,
                     CAST(sum(h) AS HUGEINT) AS sh,
                     CAST(sum(d * d) AS HUGEINT) AS sdd,
                     CAST(sum(d * h) AS HUGEINT) AS sdh,
                     CAST(sum(h * h) AS HUGEINT) AS shh,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     CAST(sum(d * y) AS HUGEINT) AS sdy,
                     CAST(sum(h * y) AS HUGEINT) AS shy
                   FROM b GROUP BY 1)
             SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(sy * (sdd * shh - sdh * sdh)
                    - sd * (sdy * shh - sdh * shy)
                    + sh * (sdy * sdh - sdd * shy) AS DOUBLE)
                 / CAST(n * (sdd * shh - sdh * sdh)
                    - sd * (sd * shh - sdh * sh)
                    + sh * (sd * sdh - sdd * sh) AS DOUBLE) AS b0_cents,
               CAST(n * (sdy * shh - sdh * shy)
                    - sy * (sd * shh - sdh * sh)
                    + sh * (sd * shy - sdy * sh) AS DOUBLE)
                 / CAST(n * (sdd * shh - sdh * sdh)
                    - sd * (sd * shh - sdh * sh)
                    + sh * (sd * sdh - sdd * sh) AS DOUBLE) AS b1_per_day,
               CAST(n * (sdd * shy - sdy * sdh)
                    - sd * (sd * shy - sdy * sh)
                    + sy * (sd * sdh - sdd * sh) AS DOUBLE)
                 / CAST(n * (sdd * shh - sdh * sdh)
                    - sd * (sd * shh - sdh * sh)
                    + sh * (sd * sdh - sdd * sh) AS DOUBLE) AS b2_per_hour
             FROM m ORDER BY event_type"""))

  /** Two-sample proportion z-test between user cohorts (A/B readout):
    * conversion = "user has a purchase", cohort = user_id parity. The
    * z statistic's op tree — two rate divisions, pooled rate, the
    * standard-error sqrt, one closing division — is FIXED and built
    * from exact int64 counts, and IEEE-754 requires sqrt to be
    * correctly rounded, so the statistic is bit-identical across
    * engines (the rare transcendental-adjacent op that IS safe; ln/exp
    * are not). Emits the decision at |z| > 1.96 as a boolean.
    */
  val q148AbZtest: Q = Q(
    "q148_ab_ztest",
    (s, dir) => {
      // conversion = first purchase within 24 h of first signup ("did
      // the user activate fast") — "ever purchased" saturates at 100 %
      // on this fixture, making pp = 1, se = 0 and z undefined
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts_us")))
            .as("t_signup"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("t_purchase"))
        .filter(col("t_signup").isNotNull)
        .select(pmod(col("user_id"), lit(2)).as("cohort"),
          when(col("t_purchase").isNotNull &&
            col("t_purchase") >= col("t_signup") &&
            col("t_purchase") - col("t_signup") <= 24L * 3600 * 1000000, 1L)
            .otherwise(0L).as("converted"))
      val cells = users.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      // one-row conditional fold, NOT filter+crossJoin: with a cohort
      // absent from the data, an empty side would make the cross join
      // emit 0 rows while the oracle's scalar subqueries emit 1 row of
      // NULLs — a structural divergence on degenerate data. A global
      // aggregate yields exactly one row in both engines (all-NULL when
      // the input is empty), and NULL then propagates identically down
      // the z-statistic arithmetic.
      val ab = cells.agg(
        max(when(col("cohort") === 0, col("n"))).as("n1"),
        max(when(col("cohort") === 0, col("c"))).as("c1"),
        max(when(col("cohort") === 1, col("n"))).as("n2"),
        max(when(col("cohort") === 1, col("c"))).as("c2"))
      ab
        .select(col("n1"), col("c1"), col("n2"), col("c2"),
          (col("c1").cast("double") / col("n1").cast("double")).as("p1"),
          (col("c2").cast("double") / col("n2").cast("double")).as("p2"),
          ((col("c1") + col("c2")).cast("double")
            / (col("n1") + col("n2")).cast("double")).as("pp"))
        .select(col("n1"), col("c1"), col("n2"), col("c2"), col("p1"),
          col("p2"),
          ((col("p1") - col("p2")) /
            nullif(sqrt(col("pp") * (lit(1.0) - col("pp"))
              * (lit(1.0) / col("n1").cast("double")
                + lit(1.0) / col("n2").cast("double"))), lit(0.0)))
            .as("z"))
        .select(col("n1"), col("c1"), col("n2"), col("c2"), col("p1"),
          col("p2"), col("z"), (abs(col("z")) > 1.96).as("significant"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_type,
                 ${duckUs("ts")} AS ts_us FROM events),
            u0 AS (SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts_us END)
                   AS t_signup,
                 min(CASE WHEN event_type = 'purchase' THEN ts_us END)
                   AS t_purchase
               FROM e GROUP BY 1),
            u AS (SELECT user_id,
                 CASE WHEN t_purchase IS NOT NULL
                       AND t_purchase >= t_signup
                       AND t_purchase - t_signup <= 86400000000
                      THEN 1 ELSE 0 END AS converted
               FROM u0 WHERE t_signup IS NOT NULL),
            cells AS (SELECT user_id % 2 AS cohort, count(*) AS n,
                        CAST(sum(converted) AS BIGINT) AS c
                      FROM u GROUP BY 1),
            ab AS (SELECT
                     (SELECT n FROM cells WHERE cohort = 0) AS n1,
                     (SELECT c FROM cells WHERE cohort = 0) AS c1,
                     (SELECT n FROM cells WHERE cohort = 1) AS n2,
                     (SELECT c FROM cells WHERE cohort = 1) AS c2),
            r AS (SELECT *,
                    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
                    CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
                    CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                      AS pp
                  FROM ab),
            z AS (SELECT n1, c1, n2, c2, p1, p2,
                    (p1 - p2) / nullif(sqrt(pp * (1.0 - pp)
                      * (1.0 / CAST(n1 AS DOUBLE)
                        + 1.0 / CAST(n2 AS DOUBLE))), 0.0) AS z
                  FROM r)
            SELECT n1, c1, n2, c2, p1, p2, z, abs(z) > 1.96 AS significant
            FROM z"""))

  /** Bitmap-index set intersection — the roaring-bitmap idea as
    * relational dataflow: each event type's user set is packed into
    * 64-bit WORDS (`bit_or` of `1 << (user_id % 64)` grouped by
    * `user_id div 64`), and |A ∩ B| is `bit_count(wordA & wordB)`
    * summed over the word index — a |users|/64-row equi-join instead of
    * a row-level distinct-join. The query emits both the bitmap count
    * and the direct distinct-join count with an equality flag, so the
    * compressed representation is PROVEN against the row-level answer
    * inside the hash-checked result.
    */
  val q149BitmapIntersect: Q = Q(
    "q149_bitmap_intersect",
    (s, dir) => {
      val du = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      // 32-bit payload in a 64-bit word: bit 63 would overflow DuckDB's
      // checked left shift, and 32 keeps both engines comfortably signed
      val words = du
        .groupBy(col("event_type"),
          expr("user_id div 32").as("word_idx"))
        .agg(expr("bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))")
          .as("word"))
      val pairs = Seq(("view", "purchase"), ("click", "error"),
        ("signup", "purchase"))
      val pairDf = { import s.implicits._; pairs.toDF("ta", "tb") }
      // the word table is |users|/32 x |types| rows — broadcast; the
      // row-level `direct` join below keeps its user-key shuffle
      // deliberately: it is the baseline the bitmap path is PROVEN
      // against, and its cost is the point of comparison
      val bm = broadcast(pairDf)
        .join(words.as("a"), col("a.event_type") === col("ta"))
        .join(broadcast(words.as("b")),
          col("b.event_type") === col("tb") &&
            col("a.word_idx") === col("b.word_idx"))
        .groupBy(col("ta"), col("tb"))
        .agg(sum(bit_count(col("a.word").bitwiseAND(col("b.word"))))
          .as("bitmap_n"))
      val direct = du.as("x")
        .join(du.as("y"), col("x.user_id") === col("y.user_id"))
        .join(broadcast(pairDf),
          col("x.event_type") === col("ta") &&
            col("y.event_type") === col("tb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("direct_n"))
      // the pair table is the spine: an EMPTY intersection must report
      // 0/0/true, not vanish from the inner joins
      pairDf.join(broadcast(bm), Seq("ta", "tb"), "left")
        .join(broadcast(direct), Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"),
          coalesce(col("bitmap_n"), lit(0L)).as("bitmap_n"),
          coalesce(col("direct_n"), lit(0L)).as("direct_n"),
          (coalesce(col("bitmap_n"), lit(0L))
            === coalesce(col("direct_n"), lit(0L))).as("agree"))
        .orderBy("ta", "tb")
    },
    Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
            w AS (SELECT event_type, user_id // 32 AS word_idx,
                    bit_or(CAST(1 AS BIGINT)
                      << CAST(user_id % 32 AS INT)) AS word
                  FROM du GROUP BY 1, 2),
            pr AS (SELECT * FROM (VALUES ('view', 'purchase'),
                     ('click', 'error'), ('signup', 'purchase'))
                   t(ta, tb)),
            bm AS (SELECT ta, tb,
                     CAST(sum(bit_count(a.word & b.word)) AS BIGINT)
                       AS bitmap_n
                   FROM pr
                   JOIN w a ON a.event_type = ta
                   JOIN w b ON b.event_type = tb
                     AND a.word_idx = b.word_idx
                   GROUP BY 1, 2),
            dr AS (SELECT ta, tb, count(*) AS direct_n
                   FROM du x JOIN du y ON x.user_id = y.user_id
                   JOIN pr ON x.event_type = ta AND y.event_type = tb
                   GROUP BY 1, 2)
            SELECT ta, tb,
              coalesce(bitmap_n, 0) AS bitmap_n,
              coalesce(direct_n, 0) AS direct_n,
              coalesce(bitmap_n, 0) = coalesce(direct_n, 0) AS agree
            FROM pr LEFT JOIN bm USING (ta, tb)
            LEFT JOIN dr USING (ta, tb)
            ORDER BY ta, tb"""))

  /** Lag-1 autocorrelation of the per-type daily revenue series — the
    * time-series diagnostic behind seasonality and anomaly tuning. The
    * (x_t, x_{t+1}) pairs come from one `lead` over the dim-sized daily
    * aggregate; the linear sums are exact int64 and the square/cross
    * sums are exact decimal(38,0) FROM THE MULTIPLY UP (a 100x revenue
    * series puts x*x at 10¹⁶-10¹⁸ — a season of days would wrap an
    * int64 sum silently; DuckDB mirrors with HUGEINT squares); the
    * Pearson numerator/denominator cross-products stay decimal(38,0)
    * (they reach ~10³⁴) and only the closing sqrt-and-divide chain is
    * floating point, fixed-order on both engines (q114's moment
    * discipline applied to a lagged series).
    */
  val q161Autocorr: Q = Q(
    "q161_autocorr",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .select(col("event_type"), expr("(ts div 1000) div 86400000000")
          .as("day_idx"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day_idx"))
        .agg(sum(col("cents")).as("x"))
      val pairs = daily
        .withColumn("y", lead(col("x"), 1).over(
          Window.partitionBy("event_type").orderBy("day_idx")))
        .filter(col("y").isNotNull)
      // the squares are lifted to decimal(38,0) BEFORE multiplying: daily
      // cents at a 100x revenue scale sit near 1e8-1e9, so x*x reaches
      // 1e16-1e18 and a season of days would wrap int64 silently under
      // non-ANSI sum; the aggregate runs over the dim-sized daily frame,
      // so the decimal cost is nil (oracle mirrors via HUGEINT squares)
      val xd = col("x").cast("decimal(38,0)")
      val yd = col("y").cast("decimal(38,0)")
      val m = pairs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(xd * xd).as("sxx"),
          sum(yd * yd).as("syy"),
          sum(xd * yd).as("sxy"))
      def D(c: Column) = c.cast("decimal(38,0)")
      val num = D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))
      val vx = D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))
      val vy = D(col("n")) * D(col("syy")) - D(col("sy")) * D(col("sy"))
      m.select(col("event_type"), col("n").as("n_pairs"),
          (num.cast("double")
            / sqrt(vx.cast("double") * vy.cast("double"))).as("r_lag1"))
        .orderBy("event_type")
    },
    Some(s"""WITH d AS (SELECT event_type,
                    ${duckUs("ts")} // 86400000000 AS day_idx,
                    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                      AS x
                  FROM events GROUP BY 1, 2),
             p AS (SELECT event_type, x,
                     lead(x) OVER (PARTITION BY event_type
                       ORDER BY day_idx) AS y
                   FROM d),
             m AS (SELECT event_type,
                     CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(x) AS HUGEINT) AS sx,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                     sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                     sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                   FROM p WHERE y IS NOT NULL GROUP BY 1)
             SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE)) AS r_lag1
             FROM m ORDER BY event_type"""))

  /** Exact ROC AUC by rank-sum — does `value` separate purchases from
    * non-purchases? AUC is the Mann-Whitney statistic
    * U / (n_pos * n_neg) with midrank tie handling; computed exactly in
    * integers via the distinct-value histogram: per value v count
    * positives np(v) and negatives nn(v), accumulate negatives strictly
    * below, and sum 2U = SUM_v np(v) * (2*neg_below(v) + nn(v)) — the
    * `+ nn(v)` term IS the midrank half-credit for ties, doubled so the
    * whole sum stays integral. AUC = 2U / (2 * n_pos * n_neg) is the
    * single IEEE division at the very end; everything before it is
    * exact BIGINT arithmetic, so the statistic is bit-identical across
    * engines, partition counts, and reruns.
    *
    * ## 100 TB notes
    * One shuffle to the distinct-value histogram (map-side partial
    * counts); the cumulative walk runs over value GROUPS, not events,
    * via [[graft.engine.Cumulative.rankedCumSum]] — range-repartition
    * by value + per-range offsets, so even a huge score domain never
    * lands on one partition. No self-join, no per-pair expansion of
    * the n_pos x n_neg comparisons the statistic logically encodes.
    */
  val q181AucRanksum: Q = Q(
    "q181_auc_ranksum",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("value").as("v"),
          (col("event_type") === "purchase").cast("long").as("pos"))
      val hist = ev.groupBy(col("v"))
        .agg(sum(col("pos")).as("np"),
          (count(lit(1)) - sum(col("pos"))).as("nn"))
      // inclusive running sum minus the row's own nn = strictly-below
      val cum = graft.engine.Cumulative
        .rankedCumSum(hist, Seq(col("v").asc), col("nn"),
          rkName = "__rk", cumName = "__cumnn")
        .withColumn("neg_below", col("__cumnn") - col("nn"))
      cum.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(col("np") * (col("neg_below") * 2 + col("nn"))).as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          (col("u2").cast("double") /
            (col("n_pos") * col("n_neg") * 2).cast("double")).as("auc"))
    },
    Some("""WITH ev AS (SELECT value AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
              FROM events),
            h AS (SELECT v, CAST(sum(pos) AS BIGINT) AS np,
                count(*) - CAST(sum(pos) AS BIGINT) AS nn
              FROM ev GROUP BY v),
            c AS (SELECT np, nn,
                coalesce(sum(nn) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS neg_below
              FROM h),
            agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (neg_below * 2 + nn)) AS BIGINT) AS u2
              FROM c)
            SELECT n_pos, n_neg, u2,
              CAST(u2 AS DOUBLE) / CAST(n_pos * n_neg * 2 AS DOUBLE) AS auc
            FROM agg"""))

  /** Decile lift (gains table) — the model-eval companion to q181's
    * AUC: users ranked by an engagement score (view count) are cut into
    * ten value-bins against rank-picked cutoffs (q174's
    * histogram-cumulative order statistic, `v <= cut` assignment so
    * ties land in one bin on both engines — never ntile, whose
    * remainder spreading is tie-order-dependent), then each bin reports
    * its purchase-conversion numerator/denominator exactly and
    * `lift = (conv_d * n_total) / (purch_total * n_d)` as ONE IEEE
    * division over a pre-multiplied exact integer numerator and
    * denominator — not rate/rate, which would be three divergence-prone
    * divisions.
    *
    * ## 100 TB notes
    * One shuffle to the per-user rollup; the ten cutoffs come from a
    * histogram over DISTINCT score values reduced to one broadcast row;
    * the final agg has <= 10 groups. Same shape as q174 at any scale.
    */
  val q186DecileLift: Q = Q(
    "q186_decile_lift",
    (s, dir) => {
      val u = Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "view", 1)).as("score"),
          max((col("event_type") === "purchase").cast("long")).as("buyer"))
      val hist = u.groupBy(col("score").as("v"))
        .agg(count(lit(1)).as("c"))
      // cutoff walk over distinct scores without a single-partition
      // window: rankedCumSum for cum, 1-row broadcast for n
      val nTot = hist.agg(sum(col("c")).as("n")) // 1 row
      val cum = graft.engine.Cumulative
        .rankedCumSum(hist, Seq(col("v").asc), col("c"), rkName = "__rk")
        .crossJoin(broadcast(nTot))
      val picks = (1 to 9).map(i =>
        min(when(col("cum") * 10 >= col("n") * i, col("v"))).as(s"c$i"))
      val cuts = cum.agg(picks.head, picks.tail: _*)
      val decile = (1 to 9).foldLeft(when(lit(false), 0)) {
        case (acc, i) => acc.when(col("score") <= col(s"c$i"), i)
      }.otherwise(10)
      val binned = u.crossJoin(broadcast(cuts))
        .select(decile.as("decile"), col("buyer"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("buyer")).as("n_buyers"))
      val tot = binned.agg(sum(col("n_users")).as("t_users"),
        sum(col("n_buyers")).as("t_buyers"))
      binned.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_users"), col("n_buyers"),
          ((col("n_buyers") * col("t_users")).cast("double") /
            (col("t_buyers") * col("n_users")).cast("double")).as("lift"))
        .orderBy(col("decile"))
    },
    Some("""WITH u AS (SELECT user_id,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS score,
                max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS buyer
              FROM events GROUP BY user_id),
            h AS (SELECT score AS v, count(*) AS c FROM u GROUP BY score),
            cm AS (SELECT v, sum(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER () AS n FROM h),
            cuts AS (SELECT
                min(CASE WHEN cum * 10 >= n * 1 THEN v END) AS c1,
                min(CASE WHEN cum * 10 >= n * 2 THEN v END) AS c2,
                min(CASE WHEN cum * 10 >= n * 3 THEN v END) AS c3,
                min(CASE WHEN cum * 10 >= n * 4 THEN v END) AS c4,
                min(CASE WHEN cum * 10 >= n * 5 THEN v END) AS c5,
                min(CASE WHEN cum * 10 >= n * 6 THEN v END) AS c6,
                min(CASE WHEN cum * 10 >= n * 7 THEN v END) AS c7,
                min(CASE WHEN cum * 10 >= n * 8 THEN v END) AS c8,
                min(CASE WHEN cum * 10 >= n * 9 THEN v END) AS c9
              FROM cm),
            binned AS (SELECT CASE
                  WHEN score <= c1 THEN 1 WHEN score <= c2 THEN 2
                  WHEN score <= c3 THEN 3 WHEN score <= c4 THEN 4
                  WHEN score <= c5 THEN 5 WHEN score <= c6 THEN 6
                  WHEN score <= c7 THEN 7 WHEN score <= c8 THEN 8
                  WHEN score <= c9 THEN 9 ELSE 10 END AS decile,
                buyer
              FROM u, cuts),
            g AS (SELECT decile, count(*) AS n_users,
                CAST(sum(buyer) AS BIGINT) AS n_buyers
              FROM binned GROUP BY decile),
            t AS (SELECT CAST(sum(n_users) AS BIGINT) AS t_users,
                CAST(sum(n_buyers) AS BIGINT) AS t_buyers FROM g)
            SELECT decile, n_users, n_buyers,
              CAST(n_buyers * t_users AS DOUBLE)
                / CAST(t_buyers * n_users AS DOUBLE) AS lift
            FROM g, t ORDER BY decile"""))

  /** Sample-ratio mismatch (SRM) check — the first gate of any A/B
    * readout, complementing q148's effect z-test: users are assigned to
    * two arms by the same seeded content hash q166's sharding uses
    * (reproducible on any engine or rerun — no RNG state), and the
    * OBSERVED split is tested against the designed 50/50. For a two-cell
    * equal split the chi-square statistic collapses algebraically to
    * `(n0 - n1)^2 / (n0 + n1)` — one IEEE division over exact integer
    * counts, so the statistic and the flag (chi2 > 3.841, alpha=0.05,
    * 1 df) are bit-identical across engines. An SRM flag means the
    * assignment or logging pipeline is biased and the experiment's
    * effect estimates are untrustworthy — the check runs BEFORE any
    * metric query.
    *
    * Scale shape: one distinct-user pass (map-side partial distinct on
    * user_id), then a 2-group count — nothing downstream of the
    * per-user rollup exceeds two rows.
    */
  val q188SrmCheck: Q = Q(
    "q188_srm_check",
    (s, dir) => {
      val arm = pmod(graft.engine.ext.Text.hash32(
        concat(col("user_id").cast("string"), lit(":ab1"))), lit(2L))
      val users = Tables.load(s, dir, "events")
        .select(col("user_id")).distinct()
      users.select(arm.as("arm"))
        .agg(count(when(col("arm") === 0, 1)).as("n0"),
          count(when(col("arm") === 1, 1)).as("n1"))
        .select(col("n0"), col("n1"),
          ((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double")
            ./((col("n0") + col("n1")).cast("double")).as("chi2"))
        .withColumn("srm", col("chi2") > 3.841)
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            armed AS (SELECT
                ('0x' || substring(md5(user_id::VARCHAR || ':ab1'), 1, 8))
                  ::BIGINT % 2 AS arm
              FROM u),
            g AS (SELECT
                count(CASE WHEN arm = 0 THEN 1 END) AS n0,
                count(CASE WHEN arm = 1 THEN 1 END) AS n1
              FROM armed)
            SELECT n0, n1,
              CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                / CAST(n0 + n1 AS DOUBLE) AS chi2,
              CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                / CAST(n0 + n1 AS DOUBLE) > 3.841 AS srm
            FROM g"""))

  /** Exact two-sample Kolmogorov-Smirnov test — does `value` follow the
    * same distribution for views and purchases? The KS statistic
    * D = max_v |F1(v) - F2(v)| is computed WITHOUT floats: over the
    * distinct-value histogram, the supremum of
    * |cum1(v) * n2 - cum2(v) * n1| is an exact BIGINT (the common
    * denominator n1*n2 factored out), and D, the asymptotic alpha=0.05
    * critical value 1.358 * sqrt((n1+n2)/(n1*n2)), and the reject flag
    * are each one short IEEE op tree over those integers — sqrt is
    * correctly rounded under IEEE 754 on every platform, so all three
    * are bit-identical across engines. Complements the family's
    * parametric tests (q148 z-test, q128 chi-square): KS is
    * distribution-free and sees shape differences a mean test misses.
    *
    * ## 100 TB notes
    * One shuffle to the distinct-value histogram with map-side partial
    * counts; the cumulative walk is over value GROUPS (q181's
    * histogram-cumulative discipline); everything after it is a 1-row
    * aggregate. No sort of raw events, no per-pair work.
    */
  val q192KsTest: Q = Q(
    "q192_ks_test",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("value").as("v"),
          (col("event_type") === "view").cast("long").as("is1"))
      val hist = ev.groupBy(col("v"))
        .agg(sum(col("is1")).as("c1"),
          (count(lit(1)) - sum(col("is1"))).as("c2"))
      // both CDF walks share one range shuffle (rankedCumSums); the
      // sample sizes are a 1-row broadcast, not a full-frame window
      val totals = hist.agg(sum(col("c1")).as("n1"),
        sum(col("c2")).as("n2")) // 1 row
      val cum = graft.engine.Cumulative
        .rankedCumSums(hist, Seq(col("v").asc),
          Seq(col("c1") -> "cum1", col("c2") -> "cum2"), rkName = "__rk")
        .crossJoin(broadcast(totals))
      cum.agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
            .as("d_numer"))
        .select(col("n1"), col("n2"), col("d_numer"),
          (col("d_numer").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("d"))
        .withColumn("crit", lit(1.358) *
          sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2")).cast("double")))
        .withColumn("reject", col("d") > col("crit"))
    },
    Some("""WITH ev AS (SELECT value AS v,
                CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is1
              FROM events WHERE event_type IN ('view', 'purchase')),
            h AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
                count(*) - CAST(sum(is1) AS BIGINT) AS c2
              FROM ev GROUP BY v),
            c AS (SELECT c1, c2,
                sum(c1) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                sum(c2) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
                sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
              FROM h),
            agg AS (SELECT CAST(max(n1) AS BIGINT) AS n1,
                CAST(max(n2) AS BIGINT) AS n2,
                CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_numer
              FROM c)
            SELECT n1, n2, d_numer,
              CAST(d_numer AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d,
              1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                / CAST(n1 * n2 AS DOUBLE)) AS crit,
              CAST(d_numer AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
                > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                  / CAST(n1 * n2 AS DOUBLE)) AS reject
            FROM agg"""))

  /** Purged temporal cross-validation folds (Lopez de Prado's purged
    * K-fold) — the time-series counterpart of q48's hash split and q70's
    * group-leakage gate: the event range is cut into 5 contiguous
    * time blocks; when block k is the TEST fold, training events inside
    * the EMBARGO band (6 hours on each side of the test block) are
    * PURGED, because serially-correlated labels straddling the boundary
    * leak test information into training. Emits, per fold: the test
    * bounds, test/train/purged counts — train + purged + test = total
    * for every fold by construction (the spec asserts the partition).
    * All block and band arithmetic is exact integer hours from a 1-row
    * bounds broadcast.
    *
    * ## 100 TB notes
    * The fold expansion is a bounded x5 literal explode per event
    * (q177's pattern) feeding a map-side-combined 5-group aggregate —
    * one shuffle of 15 counter rows, however large the fact table. No
    * sort, no window, no join beyond the broadcast bounds.
    */
  val q199PurgedCvFolds: Q = Q(
    "q199_purged_cv_folds",
    (s, dir) => {
      val embargoH = 6L
      val ev = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 3600000000").as("h"))
      val bounds = ev.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      val withB = ev.crossJoin(broadcast(bounds))
        .select(col("h"), col("lo"),
          (col("hi") - col("lo") + 1).as("span"))
      val folds = withB
        .select(col("h"), col("lo"), col("span"),
          explode(sequence(lit(0L), lit(4L))).as("fold"))
        .withColumn("t_lo", col("lo") + expr("(span * fold) div 5"))
        .withColumn("t_hi", col("lo") + expr("(span * (fold + 1)) div 5") - 1)
      val cls = when(col("h").between(col("t_lo"), col("t_hi")), "test")
        .when(col("h").between(col("t_lo") - embargoH, col("t_hi") + embargoH),
          "purged")
        .otherwise("train")
      folds.groupBy(col("fold"), col("t_lo"), col("t_hi"))
        .agg(count(when(cls === "test", 1)).as("n_test"),
          count(when(cls === "train", 1)).as("n_train"),
          count(when(cls === "purged", 1)).as("n_purged"))
        .orderBy(col("fold"))
    },
    Some(s"""WITH ev AS (SELECT ${duckUs("ts")} // 3600000000 AS h
              FROM events),
            b AS (SELECT min(h) AS lo, max(h) - min(h) + 1 AS span FROM ev),
            f AS (SELECT h, lo, span, fold,
                lo + (span * fold) // 5 AS t_lo,
                lo + (span * (fold + 1)) // 5 - 1 AS t_hi
              FROM ev, b, (SELECT unnest(generate_series(0, 4)) AS fold)),
            cls AS (SELECT fold, t_lo, t_hi,
                CASE WHEN h BETWEEN t_lo AND t_hi THEN 'test'
                     WHEN h BETWEEN t_lo - 6 AND t_hi + 6 THEN 'purged'
                     ELSE 'train' END AS c
              FROM f)
            SELECT fold, t_lo, t_hi,
              count(CASE WHEN c = 'test' THEN 1 END) AS n_test,
              count(CASE WHEN c = 'train' THEN 1 END) AS n_train,
              count(CASE WHEN c = 'purged' THEN 1 END) AS n_purged
            FROM cls GROUP BY fold, t_lo, t_hi ORDER BY fold"""))

  /** CUPED variance-reduction audit (controlled experiments using
    * pre-experiment data) — before an A/B readout, how much outcome
    * variance does the pre-period covariate remove? Per user: x = view
    * count in the FIRST half of the time range (pre-period), y =
    * purchase count in the SECOND half (outcome). Both are integer
    * counts, so every moment (n, Sx, Sy, Sxx, Sxy, Syy) is an exact
    * BIGINT; theta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is one IEEE
    * division, and the variance-reduction fraction is squared-
    * correlation r2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2)(n*Syy - Sy^2))
    * — numerator and denominator each exact integers, one division.
    * The practical payoff: the same experiment needs (1 - r2) of the
    * traffic for equal power when CUPED-adjusted.
    *
    * ## 100 TB notes
    * One shuffle to the per-user rollup (conditional counts computed
    * in the same pass from a 1-row bounds broadcast), then a 1-row
    * moment aggregate with map-side partials — q41/q114's exact-moment
    * discipline applied to experimentation.
    */
  val q201CupedAudit: Q = Q(
    "q201_cuped_audit",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("us"))
      val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      val u = ev.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "view" &&
            col("us") < col("mid"), 1)).as("x"),
          count(when(col("event_type") === "purchase" &&
            col("us") >= col("mid"), 1)).as("y"))
      u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("theta"),
          (((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))).cast("double") /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))
              .cast("double")).as("var_reduction"))
    },
    Some(s"""WITH ev AS (SELECT user_id, event_type, ${duckUs("ts")} AS us
              FROM events),
            b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
            u AS (SELECT user_id,
                count(CASE WHEN event_type = 'view' AND us < mid
                      THEN 1 END) AS x,
                count(CASE WHEN event_type = 'purchase' AND us >= mid
                      THEN 1 END) AS y
              FROM ev, b GROUP BY user_id),
            m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * x) AS BIGINT) AS sxx,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(y * y) AS BIGINT) AS syy
              FROM u)
            SELECT n, sx, sy,
              CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
              CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
                / CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)
                AS var_reduction
            FROM m"""))

  /** Difference-in-differences — the quasi-experimental workhorse when
    * randomization alone isn't trusted: users are split into q188's
    * deterministic hash arms, event time into pre/post halves at the
    * integer midpoint of the observed range (computed from the data,
    * identically on both engines), and the estimate is
    * (T_post - T_pre) - (C_post - C_pre) on mean event value per
    * cell — differencing out both the arm's level and the period's
    * trend, which a naive post-only comparison conflates with the
    * effect. Cell sums are exact integer cents; the four means and the
    * DiD are one fixed double op tree; with hash arms and no real
    * intervention the estimate should hover near zero — the A/A
    * reading of this audit.
    *
    * ## 100 TB notes
    * One pass: the midpoint comes from a 1-row min/max aggregate
    * broadcast back (cross join of a single row), then a single
    * map-side-combined 4-cell conditional aggregate. No shuffle wider
    * than one row after the scan.
    */
  val q239DiffInDiff: Q = Q(
    "q239_diff_in_diff",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), tsUs.as("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val bounds = ev.agg(min(col("ts_us")).as("lo"),
        max(col("ts_us")).as("hi"))
      val arm = pmod(graft.engine.ext.Text.hash32(
        concat(col("user_id").cast("string"), lit(":ab1"))), lit(2L))
      val cells = ev.crossJoin(broadcast(bounds))
        .select(arm.as("arm"),
          (col("ts_us") >= expr("(lo + hi) div 2")).as("post"),
          col("cents"))
      def cell(a: Int, p: Boolean, c: String) = Seq(
        sum(when(col("arm") === a && col("post") === p, col("cents"))
          .otherwise(0L)).as(s"s_$c"),
        sum(when(col("arm") === a && col("post") === p, 1L)
          .otherwise(0L)).as(s"n_$c"))
      val aggs = cell(1, false, "t_pre") ++ cell(1, true, "t_post") ++
        cell(0, false, "c_pre") ++ cell(0, true, "c_post")
      val m = cells.agg(aggs.head, aggs.tail: _*)
      def mean(c: String) =
        col(s"s_$c").cast("double") / col(s"n_$c").cast("double")
      m.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
          col("n_c_post"),
          mean("t_pre").as("mean_t_pre"), mean("t_post").as("mean_t_post"),
          mean("c_pre").as("mean_c_pre"), mean("c_post").as("mean_c_post"))
        .withColumn("did",
          (col("mean_t_post") - col("mean_t_pre")) -
            (col("mean_c_post") - col("mean_c_pre")))
    },
    Some(s"""WITH ev AS (SELECT user_id, ${duckUs("ts")} AS ts_us,
                  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
             b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
             c AS (SELECT
                 ('0x' || substring(md5(user_id::VARCHAR || ':ab1'), 1, 8))
                   ::BIGINT % 2 AS arm,
                 ts_us >= (lo + hi) // 2 AS post, cents
               FROM ev, b),
             m AS (SELECT
                 CAST(sum(CASE WHEN arm = 1 AND NOT post THEN cents
                          ELSE 0 END) AS BIGINT) AS s_t_pre,
                 CAST(sum(CASE WHEN arm = 1 AND NOT post THEN 1
                          ELSE 0 END) AS BIGINT) AS n_t_pre,
                 CAST(sum(CASE WHEN arm = 1 AND post THEN cents
                          ELSE 0 END) AS BIGINT) AS s_t_post,
                 CAST(sum(CASE WHEN arm = 1 AND post THEN 1
                          ELSE 0 END) AS BIGINT) AS n_t_post,
                 CAST(sum(CASE WHEN arm = 0 AND NOT post THEN cents
                          ELSE 0 END) AS BIGINT) AS s_c_pre,
                 CAST(sum(CASE WHEN arm = 0 AND NOT post THEN 1
                          ELSE 0 END) AS BIGINT) AS n_c_pre,
                 CAST(sum(CASE WHEN arm = 0 AND post THEN cents
                          ELSE 0 END) AS BIGINT) AS s_c_post,
                 CAST(sum(CASE WHEN arm = 0 AND post THEN 1
                          ELSE 0 END) AS BIGINT) AS n_c_post
               FROM c)
             SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
               CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
                 AS mean_t_pre,
               CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                 AS mean_t_post,
               CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)
                 AS mean_c_pre,
               CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                 AS mean_c_post,
               (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
               - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                  - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
                 AS did
             FROM m"""))

  /** Lead-lag cross-correlation — does the error rate LEAD revenue, or
    * follow it? For every lag in [-3, +3] days, the Pearson
    * correlation between daily purchase revenue on day d and the
    * error-event count on day d+lag: a peak at a negative lag means
    * errors foreshadow revenue moves (an alerting signal); at zero,
    * they co-move; at positive lags, revenue shifts precede error
    * shifts. q161 autocorrelates ONE series with itself; this is the
    * cross-series generalization, and the lag table is what
    * root-cause dashboards actually plot. Moments are exact
    * (decimal(38,0) from the multiply up, q161's discipline); each
    * correlation is one fixed double tree with a single sqrt.
    *
    * ## 100 TB notes
    * One map-side-combined daily rollup; the 7-row lag table
    * broadcasts into the day-aligned self-join of that |days|-sized
    * aggregate; the moment rollup groups on the 7-value lag key.
    * Nothing data-scale past the first aggregation.
    */
  val q248LeadLagXcorr: Q = Q(
    "q248_lead_lag_xcorr",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "events")
        .groupBy(expr("(ts div 1000) div 86400000000").as("day"))
        .agg(sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("rev"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("err"))
      val lags = Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).toDF("lag")
      val a = daily.select(col("day"), col("rev"))
      val b = daily.select(col("day").as("bday"), col("err"))
      def D(c: Column) = c.cast("decimal(38,0)")
      val paired = a.crossJoin(broadcast(lags))
        .join(b, col("bday") === col("day") + col("lag"))
      val m = paired.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("sx"),
          sum(col("err")).as("sy"),
          sum(D(col("rev")) * D(col("rev"))).as("sxx"),
          sum(D(col("err")) * D(col("err"))).as("syy"),
          sum(D(col("rev")) * D(col("err"))).as("sxy"))
      val num = D(col("n")) * col("sxy") - D(col("sx")) * D(col("sy"))
      val vx = D(col("n")) * col("sxx") - D(col("sx")) * D(col("sx"))
      val vy = D(col("n")) * col("syy") - D(col("sy")) * D(col("sy"))
      // zero variance (or a single pair) has no defined correlation:
      // emit NULL rather than tripping ANSI's divide-by-zero
      m.select(col("lag"), col("n").as("n_days"),
          when(vx > 0 && vy > 0,
            num.cast("double") /
              sqrt(vx.cast("double") * vy.cast("double")))
            .otherwise(lit(null).cast("double")).as("r"))
        .orderBy(col("lag"))
    },
    Some(s"""WITH daily AS (SELECT ${duckUs("ts")} // 86400000000 AS day,
                CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS err
              FROM events GROUP BY 1),
            lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
            p AS (SELECT lag, a.rev, b.err
                  FROM daily a CROSS JOIN lags
                  JOIN daily b ON b.day = a.day + lag),
            m AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(rev) AS HUGEINT) AS sx,
                CAST(sum(err) AS HUGEINT) AS sy,
                sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)) AS sxx,
                sum(CAST(err AS HUGEINT) * CAST(err AS HUGEINT)) AS syy,
                sum(CAST(rev AS HUGEINT) * CAST(err AS HUGEINT)) AS sxy
              FROM p GROUP BY lag)
            SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
              CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                   THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE))
                   ELSE NULL END AS r
            FROM m ORDER BY lag"""))

  /** Head-to-head layout PRUNING comparison — the cell the layout
    * family's other two audits leave open. q167 reports the per-bucket
    * (min,max) envelopes a Morton clustering produces but counts
    * nothing; q187 counts skipped files but compares arrival order vs
    * a SINGLE-dimension (date) layout, where the answer is all-or-
    * nothing. This query runs the actual two-dimensional decision: for
    * the SAME rows clustered lexicographically vs by Morton code, how
    * many files does a point predicate on EACH dimension force a scan
    * to read?
    *
    * The two candidate layouts cluster rows into files by a single
    * integer sort key over the 2-D key (x = `user_id % 32`,
    * y = epoch-day `% 32`, 5 bits each — the fixture's 30-day window
    * and user id space populate both dimensions at every SF):
    *   - `linear`: lexicographic `x * 32 + y` (partition-by-user
    *     then day — the layout a naive writer produces);
    *   - `zorder`: the Morton code interleaving the 5 bits of x and y
    *     (bit i of x at position 2i, bit i of y at 2i+1), the
    *     space-filling curve Delta/Iceberg `OPTIMIZE ZORDER BY` uses.
    * Files are fixed key-ranges of the sort key (32 codes/file → 32
    * files), so file assignment is MAP-ONLY here; a real writer gets
    * the same file population from `repartitionByRange(zv)` +
    * `sortWithinPartitions` (the q260 manifest path). Per layout the
    * audit computes each file's min/max per dimension — exactly the
    * parquet/Iceberg zone-map stats — and counts how many files a
    * point predicate on EACH dimension must read (`x = 7`, `y = 7`:
    * a file is read iff its [min,max] straddles the constant).
    * Linear prunes x perfectly (each file is one x value) and y not
    * at all; each z-order file is an 8-wide × 4-tall tile, so z-order
    * pays 8× on x to win 8× on y — `skip_ppm_x`/`skip_ppm_y` (exact
    * integer ppm of files skipped) quantify the trade on this data.
    *
    * ## 100 TB notes
    * The Morton code is the native codegen'd
    * [[graft.functions.MortonCode]] bit spread (11 long ops per row,
    * branch-free, fused into the scan projection — the write-path hot
    * loop of a real z-order rewrite); the DuckDB oracle keeps the
    * per-bit `div`/`%` arithmetic form, so the hash comparison
    * doubles as the expression's cross-engine equality proof. The
    * zone-map table is |files|-sized (dim-bounded): at real scale the
    * file count grows with data but the per-file stats are exactly
    * what the table format's manifest already stores — the audit is a
    * metadata-only query there.
    */
  val q267LayoutPruning: Q = Q(
    "q267_layout_pruning",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(expr("user_id % 32").as("x"),
          expr("(ts div 86400000000000) % 32").as("y"))
      // the native codegen'd bit spread; the DuckDB oracle keeps the
      // per-bit arithmetic form, so the comparator proves them equal
      val keyed = ev.select(col("x"), col("y"),
        graft.functions.GraftFunctions.mortonCode(col("x"), col("y"))
          .as("zv"))
      val tagged = keyed
        .select(lit("linear").as("layout"),
          expr("(x * 32 + y) div 32").as("file_id"), col("x"), col("y"))
        .unionAll(keyed.select(lit("zorder").as("layout"),
          expr("zv div 32").as("file_id"), col("x"), col("y")))
      val zoneMaps = tagged.groupBy(col("layout"), col("file_id"))
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          count(lit(1)).as("n"))
      zoneMaps.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"),
          sum(when(col("min_x") <= 7 && col("max_x") >= 7, 1L)
            .otherwise(0L)).as("files_hit_x"),
          sum(when(col("min_y") <= 7 && col("max_y") >= 7, 1L)
            .otherwise(0L)).as("files_hit_y"))
        .select(col("layout"), col("n_files"), col("n_rows"),
          col("files_hit_x"), col("files_hit_y"),
          expr("(n_files - files_hit_x) * 1000000 div n_files")
            .as("skip_ppm_x"),
          expr("(n_files - files_hit_y) * 1000000 div n_files")
            .as("skip_ppm_y"))
        .orderBy("layout")
    },
    Some {
      val morton = (0 until 5).map { i =>
        val p = 1L << i; val zx = 1L << (2 * i); val zy = 1L << (2 * i + 1)
        s"((x // $p) % 2) * $zx + ((y // $p) % 2) * $zy"
      }.mkString(" + ")
      s"""WITH ev AS (SELECT user_id % 32 AS x,
                (${duckUs("ts")} // 86400000000) % 32 AS y
              FROM events),
            keyed AS (SELECT x, y, $morton AS zv FROM ev),
            tagged AS (
              SELECT 'linear' AS layout, (x * 32 + y) // 32 AS file_id,
                     x, y FROM keyed
              UNION ALL
              SELECT 'zorder' AS layout, zv // 32 AS file_id, x, y
              FROM keyed),
            zm AS (SELECT layout, file_id,
                     min(x) AS min_x, max(x) AS max_x,
                     min(y) AS min_y, max(y) AS max_y,
                     count(*) AS n
                   FROM tagged GROUP BY 1, 2),
            agg AS (SELECT layout, count(*) AS n_files,
                     CAST(sum(n) AS BIGINT) AS n_rows,
                     CAST(sum(CASE WHEN min_x <= 7 AND max_x >= 7
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_x,
                     CAST(sum(CASE WHEN min_y <= 7 AND max_y >= 7
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_y
                   FROM zm GROUP BY 1)
            SELECT layout, n_files, n_rows, files_hit_x, files_hit_y,
              (n_files - files_hit_x) * 1000000 // n_files AS skip_ppm_x,
              (n_files - files_hit_y) * 1000000 // n_files AS skip_ppm_y
            FROM agg ORDER BY layout"""
    })
}
