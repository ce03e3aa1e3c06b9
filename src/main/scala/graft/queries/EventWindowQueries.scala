package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.Catalog.Q
import graft.engine.Tables

/** Event-time core family (see [[EventQueries]] for the suite doc):
  * `from_json` extraction, tumbling/sliding windows, sessionization both
  * ways, keyed dedup, as-of and range joins, and the behavioral analytics
  * built on those primitives (funnels, attribution, cohorts, dwell,
  * concurrency, record highs).
  */
private[queries] trait EventWindowQueries extends EventQueriesBase {
  private val propsSchema = StructType(Seq(StructField("k", IntegerType)))

  /** `events.ts` reaches every query as BIGINT nanoseconds — that is
    * the engine-wide contract [[graft.engine.Tables.normalizeEventTs]]
    * establishes at the load seam regardless of the fixture's physical
    * encoding (TIMESTAMP(NANOS)-as-long or µs TIMESTAMP_NTZ; see
    * Tables). Everything downstream works on epoch-µs BIGINTs /
    * explicit µs timestamps:
    */

  /** Tumbling 1-hour windows: counts, exact-decimal value sums, and the
    * sum of the JSON-extracted `props.k` per (window, event_type).
    */
  val q31HourlyFromJson: Q = Q(
    "q31_hourly_from_json",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.select(tsStamp.as("tss"), col("event_type"), col("value"),
          from_json(col("props"), propsSchema).getField("k").as("k"))
        .groupBy(window(col("tss"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(30,10)")), 2).cast("double")
            .as("total_value"),
          sum(col("k").cast("long")).as("sum_k"))
        .select(us(col("w.start")).as("window_start_us"), col("event_type"),
          col("n_events"), col("total_value"), col("sum_k"))
        .orderBy("window_start_us", "event_type")
    },
    Some(s"""SELECT ${duckUs("date_trunc('hour', CAST(ts AS TIMESTAMP))")}
               AS window_start_us,
             event_type, count(*) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
               AS total_value,
             CAST(sum(CAST(json_extract(props, 'k') AS INT)) AS BIGINT) AS sum_k
             FROM events
             GROUP BY 1, 2 ORDER BY window_start_us, event_type"""))

  /** Sliding windows (2 h length, 1 h slide) over error events: each event
    * lands in 2 windows; per-window counts + distinct users.
    */
  val q32SlidingWindow: Q = Q(
    "q32_sliding_window",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), tsStamp.as("tss"))
        .groupBy(window(col("tss"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .select(us(col("w.start")).as("window_start_us"),
          col("n_events"), col("n_users"))
        .orderBy("window_start_us")
    },
    // each event belongs to windows starting at trunc(hour) and
    // trunc(hour) - 1h — enumerate them relationally
    Some(s"""SELECT ${duckUs("ws")} AS window_start_us,
             count(*) AS n_events, count(DISTINCT user_id) AS n_users
             FROM (SELECT user_id,
                     date_trunc('hour', CAST(ts AS TIMESTAMP))
                       - i * INTERVAL 1 HOUR AS ws
                   FROM events, range(0, 2) r(i)
                   WHERE event_type = 'error')
             GROUP BY ws ORDER BY window_start_us"""))

  /** Sessionization via gaps-and-islands: a 30-min silence per user starts
    * a new session; emits per-session span, size, and exact value total.
    */
  val q33Sessionize: Q = Q(
    "q33_sessionize",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val newSession = when(
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > GapUs, 1L)
        .otherwise(0L)
      ev.select(col("user_id"), col("event_id"), col("value"),
          tsUs.as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new", newSession)
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
          count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(30,10)")), 2).cast("double")
            .as("total_value"))
        .orderBy("user_id", "session_seq")
    },
    Some(s"""WITH $duckSessionCtes
             SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               min(ts_us) AS start_us,
               max(ts_us) AS end_us, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(30,10))), 2) AS DOUBLE)
                 AS total_value
             FROM sess GROUP BY user_id, session_seq
             ORDER BY user_id, session_seq"""))

  /** Spark's built-in `session_window` (30-min gap): window end is
    * last-event + gap by definition; the oracle reproduces that via
    * gaps-and-islands (end = max(ts) + 30 min).
    */
  val q34SessionWindow: Q = Q(
    "q34_session_window",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.select(col("user_id"), tsStamp.as("tss"))
        .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), us(col("w.start")).as("start_us"),
          us(col("w.end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")
    },
    Some(s"""WITH $duckSessionCtes
             SELECT user_id, min(ts_us) AS start_us,
               max(ts_us) + $GapUs AS end_us, count(*) AS n_events
             FROM sess GROUP BY user_id, session_seq
             ORDER BY user_id, start_us"""))

  /** Keyed first-event dedup (batch analog of streaming
    * `dropDuplicates(user_id, event_type)` within a watermark).
    */
  val q35EventFirst: Q = Q(
    "q35_event_first",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev.select(col("user_id"), col("event_type"), col("event_id"),
          tsUs.as("ts_us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        .orderBy("user_id", "event_type")
    },
    Some(s"""SELECT user_id, event_type, event_id, ts_us
             FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                     ORDER BY ts_us, event_id) AS rn
                   FROM (SELECT user_id, event_type, event_id,
                           ${duckUs("ts")} AS ts_us FROM events))
             WHERE rn = 1 ORDER BY user_id, event_type"""))

  /** AS-OF join (engine ext operator): for each error event, the latest
    * purchase by the same user at or before it. One shuffle on user_id
    * (the union trick in [[graft.engine.ext.Temporal.asofJoin]]); the
    * oracle is an inequality join with a deterministic max-(ts, id)
    * window pick — same tie-break the engine operator pins.
    */

  /** (errors, purchases) frames shared by the as-of queries q37/q50. */
  private def errorsAndPurchases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsUs.as("ts_us"))
    (ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts_us").as("err_ts_us")),
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_us").as("pur_ts_us")))
  }

  val q37AsofJoin: Q = Q(
    "q37_asof_join",
    (s, dir) => {
      val (errors, purchases) = errorsAndPurchases(s, dir)
      graft.engine.ext.Temporal
        .asofJoin(errors, purchases, "user_id", "err_ts_us", "pur_ts_us",
          rightPayload = Seq("pur_id", "pur_ts_us"))
        .select(col("user_id"), col("err_id"), col("err_ts_us"),
          col("__matched.pur_id").as("pur_id"),
          col("__matched.pur_ts_us").as("pur_ts_us"),
          (col("err_ts_us") - col("__matched.pur_ts_us")).as("gap_us"))
        .orderBy("err_id")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
                           ${duckUs("ts")} AS ts_us FROM events),
             e AS (SELECT event_id AS err_id, user_id, ts_us AS err_ts_us
                   FROM ev WHERE event_type = 'error'),
             p AS (SELECT event_id AS pur_id, user_id, ts_us AS pur_ts_us
                   FROM ev WHERE event_type = 'purchase')
             SELECT user_id, err_id, err_ts_us, pur_id, pur_ts_us,
               err_ts_us - pur_ts_us AS gap_us
             FROM (SELECT e.user_id, err_id, err_ts_us, pur_id, pur_ts_us,
                     row_number() OVER (PARTITION BY err_id
                       ORDER BY pur_ts_us DESC, pur_id DESC) AS rn
                   FROM e JOIN p
                     ON e.user_id = p.user_id AND p.pur_ts_us <= e.err_ts_us)
             WHERE rn = 1 ORDER BY err_id"""))

  /** Forward AS-OF join with tolerance (the other half of the as-of
    * surface): for each error, the NEXT purchase by the same user within
    * 2 hours — "did the error block the conversion?". Same single-shuffle
    * union-trick plan as q37, scanned from the future end; the tolerance
    * is a post-filter on the carried match timestamp.
    */
  val q50AsofForward: Q = Q(
    "q50_asof_forward",
    (s, dir) => {
      val (errors, purchases) = errorsAndPurchases(s, dir)
      graft.engine.ext.Temporal
        .asofJoin(errors, purchases, "user_id", "err_ts_us", "pur_ts_us",
          rightPayload = Seq("pur_id", "pur_ts_us"),
          direction = "forward", toleranceUs = Some(2L * 3600 * 1000000))
        .select(col("user_id"), col("err_id"), col("err_ts_us"),
          col("__matched.pur_id").as("pur_id"),
          col("__matched.pur_ts_us").as("pur_ts_us"),
          (col("__matched.pur_ts_us") - col("err_ts_us")).as("gap_us"))
        .orderBy("err_id")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
                           ${duckUs("ts")} AS ts_us FROM events),
             e AS (SELECT event_id AS err_id, user_id, ts_us AS err_ts_us
                   FROM ev WHERE event_type = 'error'),
             p AS (SELECT event_id AS pur_id, user_id, ts_us AS pur_ts_us
                   FROM ev WHERE event_type = 'purchase')
             SELECT user_id, err_id, err_ts_us, pur_id, pur_ts_us, gap_us
             FROM (SELECT e.user_id, err_id, err_ts_us, pur_id, pur_ts_us,
                     pur_ts_us - err_ts_us AS gap_us,
                     row_number() OVER (PARTITION BY err_id
                       ORDER BY pur_ts_us ASC, pur_id DESC) AS rn
                   FROM e JOIN p
                     ON e.user_id = p.user_id AND p.pur_ts_us >= e.err_ts_us)
             WHERE rn = 1 AND gap_us <= ${2L * 3600 * 1000000}
             ORDER BY err_id"""))

  /** Bounded RANGE join (engine ext operator): same-user event pairs at
    * most 10 minutes apart, via time-cell bucketing (equi-join + 2x
    * probe, never an inequality cross product). Oracle: the plain
    * inequality join, safe at oracle scale.
    */
  val q38RangeJoin: Q = Q(
    "q38_range_join",
    (s, dir) => {
      val tenMinUs = 600L * 1000000
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
      val a = ev.select(col("user_id"), col("event_id").as("id1"),
        col("ts_us").as("ts1"))
      val b = ev.select(col("user_id"), col("event_id").as("id2"),
        col("ts_us").as("ts2"))
      graft.engine.ext.Temporal
        .rangeJoin(a, b, "user_id", "ts1", "ts2", tenMinUs)
        .select(col("user_id"), col("id1"), col("id2"),
          (col("ts2") - col("ts1")).as("dt_us"))
        .orderBy("id1", "id2")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, ${duckUs("ts")} AS ts_us
                         FROM events)
             SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
               b.ts_us - a.ts_us AS dt_us
             FROM ev a JOIN ev b
               ON a.user_id = b.user_id AND b.ts_us > a.ts_us
               AND b.ts_us - a.ts_us <= 600000000
             ORDER BY id1, id2"""))

  /** Per-user inter-arrival gap accounting — the measurement that SIZES
    * the 30-minute session gap (q33/q34) and a streaming watermark
    * before anyone picks them: per user's event stream, the gaps between
    * consecutive events, aggregated per event_type of the later event
    * (count, max, and mean — the mean as one double division of exact
    * integer sums, bit-identical across engines). A session gap of G
    * merges every pair with gap < G; reading this table against a
    * candidate G is how the threshold is justified. (The fixture's
    * arrival order equals event-time order, so a LATENESS audit would be
    * all zeros here — gap sizing is the non-degenerate half of the same
    * watermark question.)
    *
    * ## 100 TB notes
    * One shuffle on user_id for the lag window (the same partitioning
    * every per-user analysis reuses), then a low-cardinality group-by.
    * lag(1) is O(1) state per row.
    */
  val q74EventGaps: Q = Q(
    "q74_event_gaps",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      // (us, event_id) order: µs truncation can tie two events, and a
      // nondeterministic tie order would attribute gaps to different
      // event_types on each engine
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      events
        .select(col("event_type"), col("user_id"), col("event_id"),
          tsUs.as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          max(col("gap_us")).as("max_gap_us"),
          (sum(col("gap_us")).cast("double")
            / count(lit(1)).cast("double")).as("avg_gap_us"))
        .orderBy("event_type")
    },
    Some(s"""WITH t AS (SELECT event_type, user_id, event_id,
                    ${duckUs("ts")} AS us FROM events),
            g AS (SELECT event_type,
                    us - lag(us, 1) OVER (PARTITION BY user_id
                      ORDER BY us, event_id) AS gap_us
                  FROM t)
            SELECT event_type, count(*) AS n_gaps,
              CAST(max(gap_us) AS BIGINT) AS max_gap_us,
              CAST(sum(gap_us) AS DOUBLE) / count(*)::DOUBLE AS avg_gap_us
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type ORDER BY event_type"""))

  /** Cohort retention — the day-grain activity matrix every
    * product-analytics stack derives from an event stream: each user's
    * cohort is their first active day; each (cohort, day-offset) cell
    * counts the distinct users from that cohort active that many days
    * later. Offset 0 is the cohort size, so a row's n_users / its
    * cohort's offset-0 n_users is the retention curve.
    *
    * ## 100 TB notes
    * Two aggregations, one reusable partitioning: the first-touch min
    * and the activity dedup both shuffle on user_id (the first-touch
    * table is |users| rows — AQE broadcasts it back), and only the
    * already-tiny (cohort, offset, user-distinct) partials hit the
    * second shuffle. No window function, no per-user history held.
    */
  val q80CohortRetention: Q = Q(
    "q80_cohort_retention",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(tsStamp).as("day"))
      val first = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      e.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""WITH e AS (SELECT user_id,
                         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                       FROM events),
            f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
            j AS (SELECT e.user_id, f.cohort_day,
                    (e.day - f.cohort_day)::INT AS day_offset
                  FROM e JOIN f USING (user_id))
            SELECT strftime(j.cohort_day, '%Y-%m-%d') AS cohort_day,
              day_offset, count(DISTINCT user_id) AS n_users
            FROM j GROUP BY j.cohort_day, day_offset
            ORDER BY cohort_day, day_offset"""))

  /** Trailing 3-hour moving average over hourly counts — the RANGE-frame
    * window the suite lacked (q14's cumsum is a ROWS frame, q32's
    * sliding window re-buckets rows): the frame is defined by the VALUE
    * of the ordering column (micros within 2 hours before the current
    * hour), so hours with no events are genuinely absent from the
    * average's denominator — which the emitted (sum, hours, avg) triple
    * makes visible. The average is one double division of two exact
    * integers, bit-identical across engines.
    *
    * ## 100 TB notes
    * The hourly pre-aggregation collapses the raw stream map-side (one
    * shuffle on (type, hour)); the range window then runs over
    * |types| x |hours| rows — trivial at any corpus size. This is the
    * two-level shape for ALL calendar analytics at scale: aggregate to
    * the grain first, window over the grain table, never window over
    * raw events.
    */
  val q85MovingAverage: Q = Q(
    "q85_moving_average",
    (s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .select(col("event_type"),
          us(date_trunc("hour", tsStamp)).as("hour_us"))
        .groupBy(col("event_type"), col("hour_us"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
        .rangeBetween(-7200000000L, 0) // 2 h back + the current hour
      hourly
        .withColumn("w_events", sum(col("n_events")).over(w))
        .withColumn("w_hours", count(lit(1)).over(w))
        .select(col("event_type"), col("hour_us"), col("n_events"),
          col("w_events"), col("w_hours"),
          (col("w_events").cast("double") / col("w_hours")).as("w_avg"))
        .orderBy("event_type", "hour_us")
    },
    Some(s"""WITH h AS (SELECT event_type,
                   ${duckUs("date_trunc('hour', CAST(ts AS TIMESTAMP))")}
                     AS hour_us,
                   count(*) AS n_events
                 FROM events GROUP BY 1, 2)
            SELECT event_type, hour_us, n_events,
              CAST(sum(n_events) OVER w AS BIGINT) AS w_events,
              count(*) OVER w AS w_hours,
              CAST(sum(n_events) OVER w AS BIGINT)::DOUBLE
                / (count(*) OVER w) AS w_avg
            FROM h
            WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
              RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
            ORDER BY event_type, hour_us"""))

  /** Sessionized conversion funnel — ORDERED sequence detection inside
    * q33's sessions: a session converts through view -> click ->
    * purchase only if each stage's event happens strictly AFTER the
    * previous stage's first occurrence (a purchase before the first
    * view does not count). Emits the one-row corpus funnel: session
    * count, stage survivals, end-to-end conversion rate.
    *
    * ## 100 TB notes
    * Session assignment shuffles once on user_id; every stage is then a
    * conditional-min aggregate plus an equi-join on (user_id,
    * session_seq) — all riding that same partitioning, no window over
    * raw history beyond the lag q33 already pays. Stages prune hard
    * (each join's right side only holds surviving sessions), so later
    * stages get cheaper, not costlier.
    */
  val q86SessionFunnel: Q = Q(
    "q86_session_funnel",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val newSession = when(
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > GapUs, 1L)
        .otherwise(0L)
      // materialized: the per-event session table feeds all three stage
      // scans and the session universe
      val sess = Tables.eager(ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          tsUs.as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new", newSession)
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("session_seq"), col("event_type"),
          col("ts_us")))
      val keys = Seq("user_id", "session_seq")
      val v = sess.filter(col("event_type") === "view")
        .groupBy(keys.map(col): _*).agg(min(col("ts_us")).as("v_us"))
      val c = sess.filter(col("event_type") === "click")
        .join(v, keys).filter(col("ts_us") > col("v_us"))
        .groupBy(keys.map(col): _*).agg(min(col("ts_us")).as("c_us"))
      val p = sess.filter(col("event_type") === "purchase")
        .join(c, keys).filter(col("ts_us") > col("c_us"))
        .groupBy(keys.map(col): _*).agg(min(col("ts_us")).as("p_us"))
      sess.select(keys.map(col): _*).distinct()
        .join(v, keys, "left").join(c, keys, "left").join(p, keys, "left")
        .agg(count(lit(1)).as("n_sessions"),
          count(col("v_us")).as("n_view"),
          count(col("c_us")).as("n_view_click"),
          count(col("p_us")).as("n_view_click_purchase"),
          (count(col("p_us")).cast("double") / count(lit(1)))
            .as("conversion"))
    },
    Some(s"""WITH $duckSessionCtes,
             k AS (SELECT DISTINCT user_id, session_seq FROM sess),
             v AS (SELECT user_id, session_seq, min(ts_us) AS v_us
                   FROM sess WHERE event_type = 'view' GROUP BY 1, 2),
             c AS (SELECT s.user_id, s.session_seq, min(s.ts_us) AS c_us
                   FROM sess s JOIN v USING (user_id, session_seq)
                   WHERE s.event_type = 'click' AND s.ts_us > v.v_us
                   GROUP BY 1, 2),
             p AS (SELECT s.user_id, s.session_seq, min(s.ts_us) AS p_us
                   FROM sess s JOIN c USING (user_id, session_seq)
                   WHERE s.event_type = 'purchase' AND s.ts_us > c.c_us
                   GROUP BY 1, 2)
             SELECT count(*) AS n_sessions, count(v_us) AS n_view,
               count(c_us) AS n_view_click,
               count(p_us) AS n_view_click_purchase,
               count(p_us)::DOUBLE / count(*) AS conversion
             FROM k LEFT JOIN v USING (user_id, session_seq)
                    LEFT JOIN c USING (user_id, session_seq)
                    LEFT JOIN p USING (user_id, session_seq)"""))

  /** Gap-filled hourly series: a generated hour spine (min..max event
    * hour) crossed with the event-type domain, left-joined to the
    * observed hourly counts so absent hours emit EXPLICIT zeros — the
    * date-spine densification every downstream time-series consumer
    * (q85's RANGE frame, anomaly baselines) wants as input.
    *
    * Shape at scale: the spine is derived from a 1-row bounds aggregate
    * (`sequence` + explode — never a driver-side loop) and the type
    * domain is a fixed small set, so the cross join is spine-rows ×
    * |types|; the only fact-sized work is the observed-counts group-by.
    */
  val q90GapFill: Q = Q(
    "q90_gap_fill",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 3600000000").as("h"),
          col("event_type"))
      val counts = ev.groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val bounds = ev.agg(min("h").as("lo"), max("h").as("hi")) // 1 row
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"), lit(1L))).as("h"))
      val types = ev.select(col("event_type")).distinct() // fixed domain
      spine.crossJoin(broadcast(types))
        .join(counts, Seq("h", "event_type"), "left")
        .select((col("h") * 3600000000L).as("hour_us"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("hour_us", "event_type")
    },
    Some("""WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                          AS h, event_type
                        FROM events),
            c AS (SELECT h, event_type, count(*) AS n_events
                  FROM ev GROUP BY h, event_type),
            b AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
            spine AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
            t AS (SELECT DISTINCT event_type FROM ev)
            SELECT spine.h * 3600000000 AS hour_us,
              t.event_type AS event_type,
              coalesce(c.n_events, 0) AS n_events
            FROM spine CROSS JOIN t
            LEFT JOIN c ON spine.h = c.h AND t.event_type = c.event_type
            ORDER BY hour_us, event_type"""))

  /** Hourly anomaly detection: per event type, z-score every observed
    * hour's count against that type's own mean/std (population moments
    * over observed hours), report the 10 most anomalous hours. The
    * moments come from EXACT integer sums (n, Σn, Σn²) with one fixed
    * double op tree (E[x²] − E[x]², then one sqrt — IEEE sqrt is
    * correctly rounded, so bit-identical across engines); z is one
    * subtraction and one division on top. At scale this is the q31
    * aggregation plus a broadcast of the |types|-row moment table.
    */
  val q95HourlyAnomaly: Q = Q(
    "q95_hourly_anomaly",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 3600000000").as("h"),
          col("event_type"))
      val hourly = ev.groupBy("h", "event_type")
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("n").as("sn"),
          sum(col("n") * col("n")).as("snn"))
        .select(col("event_type"),
          (col("sn").cast("double") / col("cnt")).as("mean"),
          sqrt((col("snn").cast("double") / col("cnt")) -
            (col("sn").cast("double") / col("cnt")) *
              (col("sn").cast("double") / col("cnt"))).as("std"))
      hourly.join(broadcast(stats), "event_type")
        .select(col("event_type"), (col("h") * 3600000000L).as("hour_us"),
          col("n").as("n_events"),
          ((col("n").cast("double") - col("mean")) / col("std")).as("z"))
        .orderBy(abs(col("z")).desc, col("event_type"), col("hour_us"))
        .limit(10)
    },
    Some("""WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                          AS h, event_type
                        FROM events),
            hourly AS (SELECT h, event_type, count(*) AS n
                       FROM ev GROUP BY h, event_type),
            st AS (SELECT event_type,
                     CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / count(*)
                       AS mean,
                     sqrt(CAST(CAST(sum(n * n) AS BIGINT) AS DOUBLE)
                         / count(*)
                       - (CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / count(*))
                         * (CAST(CAST(sum(n) AS BIGINT) AS DOUBLE)
                            / count(*))) AS std
                   FROM hourly GROUP BY event_type)
            SELECT event_type, h * 3600000000 AS hour_us, n AS n_events,
              (CAST(n AS DOUBLE) - mean) / std AS z
            FROM hourly JOIN st USING (event_type)
            ORDER BY abs(z) DESC, event_type, hour_us LIMIT 10"""))

  /** Time-decayed engagement: recency-weighted per-user activity, the
    * feature-engineering staple behind "recent behavior matters more"
    * signals. Weight halves per day of age relative to the corpus
    * horizon (the max event time), and — per the Catalog determinism
    * contract — the whole computation is EXACT integer arithmetic:
    * value -> floor(cents), weight 2^-age applied as a 10-bit
    * fixed-point shift (`cents * 1024 div 2^age`), summed as bigints.
    * No double ever enters an aggregate. The horizon is a 1-row global
    * aggregate broadcast to the scan (q74's spine pattern); one shuffle
    * on user_id.
    */
  val q103DecayedEngagement: Q = Q(
    "q103_decayed_engagement",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"), tsUs.as("us"))
      val horizon = events.agg(max(col("us")).as("h"))
      events.crossJoin(broadcast(horizon))
        .withColumn("age_d", expr("(h - us) div 86400000000"))
        .withColumn("cents", floor(col("value") * 100))
        // the exponent is clamped at 40: a contribution is already 0
        // once 2^age_d exceeds cents*1024 (cents < 2^30 on any sane
        // value column), and an UNclamped 2^63+ would saturate to
        // Long.MaxValue in Spark's non-ANSI cast while DuckDB raises a
        // conversion error — the clamp keeps both engines in-range and
        // identical for arbitrarily old events
        .withColumn("contrib",
          expr("(cents * 1024) div CAST(pow(2, least(age_d, 40)) AS BIGINT)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("contrib")).as("decayed_milli"))
        .orderBy("user_id")
    },
    Some(s"""WITH ev AS (SELECT user_id, value, ${duckUs("ts")} AS us
                         FROM events),
            h AS (SELECT max(us) AS h FROM ev),
            c AS (SELECT user_id,
                    (h.h - us) // 86400000000 AS age_d,
                    CAST(floor(value * 100) AS BIGINT) AS cents
                  FROM ev, h)
            SELECT user_id, count(*) AS n_events,
              CAST(sum((cents * 1024)
                  // CAST(power(2, least(age_d, 40)) AS BIGINT))
                AS BIGINT) AS decayed_milli
            FROM c GROUP BY user_id ORDER BY user_id"""))

  /** Multi-granularity rollup REUSE: the daily table is aggregated from
    * the HOURLY table, not from raw events — the rollup-chain contract
    * every metrics warehouse runs (hour → day → month), where each grain
    * re-aggregates the previous one at 1/24th the rows. Counts add;
    * decimal sums add exactly (order-independent, so re-aggregating
    * partials is lossless — the reason the chain is valid at all);
    * min/max compose. The oracle aggregates the SAME two-step chain.
    * Per grain: one shuffle over a table that is already an aggregate.
    */
  val q106RollupReuse: Q = Q(
    "q106_rollup_reuse",
    (s, dir) => {
      val hourly = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 3600000000").as("hour_id"),
          col("event_type"), col("value"))
        .groupBy(col("hour_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(30,10)")).as("val_dec"),
          max(col("value")).as("max_v"))
      hourly
        .groupBy(expr("hour_id div 24").as("day_id"), col("event_type"))
        .agg(sum(col("n_events")).cast("long").as("n_events"),
          count(lit(1)).as("n_hours"),
          round(sum(col("val_dec")), 2).cast("double").as("total_value"),
          max(col("max_v")).as("max_v"))
        .orderBy("day_id", "event_type")
    },
    Some("""WITH hourly AS (
              SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
                  AS hour_id,
                event_type, count(*) AS n_events,
                sum(CAST(value AS DECIMAL(30,10))) AS val_dec,
                max(value) AS max_v
              FROM events GROUP BY 1, 2)
            SELECT hour_id // 24 AS day_id, event_type,
              CAST(sum(n_events) AS BIGINT) AS n_events,
              count(*) AS n_hours,
              CAST(round(sum(val_dec), 2) AS DOUBLE) AS total_value,
              max(max_v) AS max_v
            FROM hourly GROUP BY 1, 2 ORDER BY day_id, event_type"""))

  /** First-order Markov transition matrix over per-user event sequences:
    * `lead()` pairs each event with the user's next event (ties broken
    * by event_id so the sequence is a total order), transition counts
    * are a plain group-by, and row-normalized probabilities come from a
    * window sum over the source state. The per-user ordering shuffles
    * once on user_id; the (src, dst) aggregate operates on the
    * |types|^2-sized key space with map-side partial agg, and the
    * normalizing window runs over that tiny aggregated frame, not the
    * event stream. `prob` is a single IEEE division of two exact longs
    * (Catalog determinism contract — no rounding applied).
    */
  val q122MarkovTransitions: Q = Q(
    "q122_markov_transitions",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"),
          col("event_id"))
      val seqW = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val trans = ev
        .withColumn("dst", lead(col("event_type"), 1).over(seqW))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("cnt"))
      trans
        .withColumn("src_total",
          sum(col("cnt")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("cnt"),
          (col("cnt").cast("double") / col("src_total").cast("double"))
            .as("prob"))
        .orderBy("src", "dst")
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, event_id,
                          ${duckUs("ts")} AS ts_us FROM events),
             p AS (SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) AS dst
                   FROM e),
             c AS (SELECT src, dst, count(*) AS cnt FROM p
                   WHERE dst IS NOT NULL GROUP BY 1, 2)
             SELECT src, dst, cnt,
               CAST(cnt AS DOUBLE)
                 / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE) AS prob
             FROM c ORDER BY src, dst"""))

  /** Rolling 7-day distinct users per day — the retention/reach metric
    * that CANNOT be a window function (distinct-count is not
    * decomposable over sliding frames). The scalable shape: dedup to
    * (day, user) FIRST (the only event-sized shuffle), then explode each
    * distinct pair into the <= 7 report days it contributes to and
    * count-distinct per report day — the explosion multiplies the
    * already-deduplicated frame, not the raw stream, and the final agg
    * keys on ~|days| groups. Day index is pure integer division of
    * epoch-µs (never a date function — fixture ts is ns-BIGINT).
    */
  val q123RollingDistinct: Q = Q(
    "q123_rolling_distinct",
    (s, dir) => {
      val du = Tables.load(s, dir, "events")
        // exact integer day index — `div`, never `/` (double division
        // rounds before the truncating cast and can bump a boundary)
        .select(expr("(ts div 1000) div 86400000000").as("day_idx"),
          col("user_id"))
        .distinct()
      val daily = du.groupBy("day_idx")
        .agg(count(lit(1)).as("users_today"))
      val rolling = du
        .select(explode(sequence(col("day_idx"), col("day_idx") + 6))
          .as("report_day"), col("user_id"))
        .groupBy("report_day")
        .agg(count_distinct(col("user_id")).as("users_7d"))
      daily
        .join(rolling, daily("day_idx") === rolling("report_day"))
        .select(col("day_idx"), col("users_today"), col("users_7d"))
        .orderBy("day_idx")
    },
    Some(s"""WITH du AS (SELECT DISTINCT
                    ${duckUs("ts")} // 86400000000 AS day_idx, user_id
                  FROM events),
             d AS (SELECT day_idx, count(*) AS users_today FROM du
                   GROUP BY 1),
             w AS (SELECT day_idx + g AS report_day, user_id
                   FROM du CROSS JOIN
                     (SELECT unnest(generate_series(0, 6)) AS g)),
             r AS (SELECT report_day, count(DISTINCT user_id) AS users_7d
                   FROM w GROUP BY 1)
             SELECT d.day_idx, d.users_today, r.users_7d
             FROM d JOIN r ON r.report_day = d.day_idx
             ORDER BY day_idx"""))

  /** First-touch attribution: each purchase is credited to the user's
    * EARLIEST click inside the preceding 24-hour lookback — the third
    * point of the as-of family (q37 takes the latest-before, q50 the
    * next-after; attribution wants the first-in-window, which a plain
    * as-of cannot express). One equi-join on user_id with the time-range
    * residual, then `row_number` per purchase ordered (click_ts,
    * click_id) so ties are total-ordered. Unattributed purchases are
    * kept with nulls (LEFT join semantics via the rn=1-or-no-match
    * filter).
    *
    * ## 100 TB notes
    * The join shuffles both sides once on user_id; the 24 h bound caps
    * the per-purchase candidate set, and the window reuses the join's
    * partitioning (user_id is a prefix of the purchase key). Same
    * single-exchange shape as q37's union-trick as-of.
    */
  val q131FirstTouch: Q = Q(
    "q131_first_touch",
    (s, dir) => {
      val lookbackUs = 24L * 3600 * 1000000
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          tsUs.as("ts_us"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_us").as("pur_ts_us"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("clk_id"),
          col("user_id").as("clk_user"), col("ts_us").as("clk_ts_us"))
      val joined = pur.join(clk,
        col("user_id") === col("clk_user") &&
          col("clk_ts_us") >= col("pur_ts_us") - lookbackUs &&
          col("clk_ts_us") <= col("pur_ts_us"),
        "left")
      val firstW = Window.partitionBy("pur_id")
        .orderBy(col("clk_ts_us").asc_nulls_last, col("clk_id").asc_nulls_last)
      joined
        .withColumn("rn", row_number().over(firstW))
        .filter(col("rn") === 1)
        .select(col("pur_id"), col("user_id"), col("pur_ts_us"),
          col("clk_id"), col("clk_ts_us"),
          (col("pur_ts_us") - col("clk_ts_us")).as("latency_us"))
        .orderBy("pur_id")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
                           ${duckUs("ts")} AS ts_us FROM events),
             p AS (SELECT event_id AS pur_id, user_id, ts_us AS pur_ts_us
                   FROM ev WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS clk_id, user_id AS clk_user,
                     ts_us AS clk_ts_us
                   FROM ev WHERE event_type = 'click'),
             j AS (SELECT p.*, c.clk_id, c.clk_ts_us,
                     row_number() OVER (PARTITION BY pur_id
                       ORDER BY clk_ts_us ASC NULLS LAST,
                                clk_id ASC NULLS LAST) AS rn
                   FROM p LEFT JOIN c
                     ON p.user_id = c.clk_user
                     AND c.clk_ts_us >= p.pur_ts_us - 86400000000
                     AND c.clk_ts_us <= p.pur_ts_us)
             SELECT pur_id, user_id, pur_ts_us, clk_id, clk_ts_us,
               pur_ts_us - clk_ts_us AS latency_us
             FROM j WHERE rn = 1 ORDER BY pur_id"""))

  /** Dwell time by state: how long users sit in each event type before
    * their next event — `lead` inter-arrival deltas grouped by the state
    * being LEFT. Mean dwell is one IEEE division of the exact-µs bigint
    * sum by the transition count (never an avg() of doubles, whose
    * accumulation order floats). Same single-shuffle window shape as
    * q122's transitions; the final aggregate keys on |types| groups.
    */
  val q132DwellTime: Q = Q(
    "q132_dwell_time",
    (s, dir) => {
      val seqW = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("ts_us"),
          col("event_id"))
        .withColumn("next_ts_us", lead(col("ts_us"), 1).over(seqW))
        .filter(col("next_ts_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_transitions"),
          sum(col("next_ts_us") - col("ts_us")).as("total_dwell_us"),
          max(col("next_ts_us") - col("ts_us")).as("max_dwell_us"))
        .select(col("event_type"), col("n_transitions"),
          col("total_dwell_us"), col("max_dwell_us"),
          (col("total_dwell_us").cast("double")
            / col("n_transitions").cast("double")).as("mean_dwell_us"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, event_id,
                          ${duckUs("ts")} AS ts_us FROM events),
             d AS (SELECT event_type,
                     lead(ts_us) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) - ts_us AS dwell_us
                   FROM e)
             SELECT event_type, count(*) AS n_transitions,
               CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
               max(dwell_us) AS max_dwell_us,
               CAST(sum(dwell_us) AS DOUBLE) / count(*) AS mean_dwell_us
             FROM d WHERE dwell_us IS NOT NULL
             GROUP BY event_type ORDER BY event_type"""))

  /** JSON scalar-function surface (§2.6 breadth): parse the REAL
    * `props` payload, plant a missing-key minority (event_id % 7 — the
    * planted-fixture idiom), rebuild a NESTED document in the plan, and
    * round-trip it through path extraction (`get_json_object`),
    * array-length inspection and 0-based array indexing — mirrored in
    * DuckDB's JSONPath functions. All extracted numbers flow into exact
    * integer aggregates; the nested build is `concat`, so the document
    * bytes are identical on both engines. Map-only until the 5-row
    * rollup.
    *
    * Round 21 (VERDICT r20 #4 — no per-field re-parse): the rebuilt
    * `doc` was parsed TWICE per row (one `get_json_object` for the
    * array length, another for the element); it is now parsed ONCE by
    * `from_json` with the pruned `struct<vals:array<string>>` schema,
    * and both aggregates read the parsed array. Equivalence is
    * structural, not data luck: a corrupt doc nulls both forms
    * (PERMISSIVE from_json vs JSONPath-on-invalid), a valid doc always
    * has `vals` with >= 2 elements (the literal `1,` prefix and `,3`
    * suffix), `size(null)` is null like `json_array_length(null)`, and
    * `try_element_at(arr, 2)` is the 1-based mirror of `$.vals[1]`
    * (string-typed array elements capture non-string tokens as raw
    * text, which `try_cast` nulls exactly like the JSONPath extract).
    * The input-side `$.k` extraction stays a single `get_json_object`
    * (one parse of the REAL payload — irreducible).
    */
  val q145JsonSurface: Q = Q(
    "q145_json_surface",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(7)) === 0, lit("{}"))
            .otherwise(col("props")).as("pj"))
        .withColumn("k_str", get_json_object(col("pj"), "$.k"))
        .withColumn("doc", concat(
          lit("{\"meta\":{\"t\":\""), col("event_type"), lit("\",\"k\":"),
          coalesce(col("k_str"), lit("null")), lit("},\"vals\":[1,"),
          coalesce(col("k_str"), lit("0")), lit(",3]}")))
        .withColumn("vals", expr("from_json(doc, 'vals array<string>').vals"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("k_str").isNull, 1)).as("n_missing_k"),
          sum(expr("try_cast(k_str AS BIGINT)")).as("sum_k"),
          count(when(size(col("vals")) === 3, 1)).as("n_vals3"),
          sum(expr("try_cast(try_element_at(vals, 2) AS BIGINT)"))
            .as("sum_second_val"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type,
                 CASE WHEN event_id % 7 = 0 THEN '{}' ELSE props END AS pj
               FROM events),
            x AS (SELECT event_type,
                    json_extract_string(pj, '$.k') AS k_str,
                    '{"meta":{"t":"' || event_type || '","k":'
                      || coalesce(json_extract_string(pj, '$.k'), 'null')
                      || '},"vals":[1,'
                      || coalesce(json_extract_string(pj, '$.k'), '0')
                      || ',3]}' AS doc
                  FROM ev)
            SELECT event_type, count(*) AS n,
              count(CASE WHEN k_str IS NULL THEN 1 END) AS n_missing_k,
              CAST(sum(TRY_CAST(k_str AS BIGINT)) AS BIGINT) AS sum_k,
              count(CASE WHEN json_array_length(doc, '$.vals') = 3
                         THEN 1 END) AS n_vals3,
              CAST(sum(TRY_CAST(json_extract_string(doc, '$.vals[1]')
                AS BIGINT)) AS BIGINT) AS sum_second_val
            FROM x GROUP BY event_type ORDER BY event_type"""))

  /** Multi-touch LINEAR attribution — each purchase's value is split
    * equally across ALL clicks in its 24 h lookback (q131 is the
    * first-touch point; linear is the fractional-credit form). The
    * fractional credits are `cents · 10⁶ div n_touches` — INTEGER
    * micro-cent division, identically truncated on both engines — so
    * per-channel credit sums stay exact int64 however they are
    * partitioned (a double `cents/n` sum would be accumulation-order-
    * dependent). Channels are the click's hour-of-day. Same
    * single-shuffle user-key join shape as q131; the credit rollup keys
    * on 24 channels.
    */
  val q146LinearAttribution: Q = Q(
    "q146_linear_attribution",
    (s, dir) => {
      val lookbackUs = 24L * 3600 * 1000000
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          tsUs.as("ts_us"), col("value"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_us").as("pur_ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("clk_user"),
          col("ts_us").as("clk_ts_us"))
      val touched = pur.join(clk,
        col("user_id") === col("clk_user") &&
          col("clk_ts_us") >= col("pur_ts_us") - lookbackUs &&
          col("clk_ts_us") <= col("pur_ts_us"))
      val withN = touched
        .withColumn("n_touches",
          count(lit(1)).over(Window.partitionBy("pur_id")))
      withN
        .select(expr("(clk_ts_us div 3600000000) % 24").as("hour_of_day"),
          expr("cents * 1000000 div n_touches").as("credit_micro"))
        .groupBy(col("hour_of_day"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micro")).as("credited_micro"),
          (sum(col("credit_micro")).cast("double") / 1e8)
            .as("credited_dollars"))
        .orderBy("hour_of_day")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
                    ${duckUs("ts")} AS ts_us,
                    CAST(floor(value * 100) AS BIGINT) AS cents
                  FROM events),
             p AS (SELECT event_id AS pur_id, user_id,
                     ts_us AS pur_ts_us, cents
                   FROM ev WHERE event_type = 'purchase'),
             c AS (SELECT user_id AS clk_user, ts_us AS clk_ts_us
                   FROM ev WHERE event_type = 'click'),
             t AS (SELECT p.*, clk_ts_us,
                     count(*) OVER (PARTITION BY pur_id) AS n_touches
                   FROM p JOIN c
                     ON p.user_id = c.clk_user
                     AND c.clk_ts_us >= p.pur_ts_us - 86400000000
                     AND c.clk_ts_us <= p.pur_ts_us)
             SELECT (clk_ts_us // 3600000000) % 24 AS hour_of_day,
               count(*) AS n_touches,
               CAST(sum(cents * 1000000 // n_touches) AS BIGINT)
                 AS credited_micro,
               CAST(sum(cents * 1000000 // n_touches) AS DOUBLE) / 1e8
                 AS credited_dollars
             FROM t GROUP BY 1 ORDER BY hour_of_day"""))

  /** Ratio-to-parent reporting: each event type's share of its HOUR's
    * total and each hour's share of the GRAND total, from one
    * aggregated frame — the percent-of-total window family (share =
    * exact-int division; the window marginals run over the |hours| x
    * |types|-sized aggregate, never the event stream). The grand total
    * rides along via a broadcast 1-row frame, so no global window
    * touches event-sized data.
    */
  val q150RatioToParent: Q = Q(
    "q150_ratio_to_parent",
    (s, dir) => {
      val cells = Tables.load(s, dir, "events")
        .select(expr("((ts div 1000) div 3600000000) % 24").as("hour"),
          col("event_type"))
        .groupBy(col("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val total = cells.agg(sum(col("n")).as("grand")) // 1 row
      cells
        .withColumn("hour_total",
          sum(col("n")).over(Window.partitionBy("hour")))
        .crossJoin(broadcast(total))
        .select(col("hour"), col("event_type"), col("n"),
          (col("n").cast("double") / col("hour_total").cast("double"))
            .as("share_of_hour"),
          (col("hour_total").cast("double") / col("grand").cast("double"))
            .as("hour_share_of_total"))
        .orderBy("hour", "event_type")
    },
    Some(s"""WITH c AS (SELECT (${duckUs("ts")} // 3600000000) % 24
                          AS hour, event_type, count(*) AS n
                        FROM events GROUP BY 1, 2),
             t AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM c)
             SELECT hour, event_type, n,
               CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY hour) AS DOUBLE)
                 AS share_of_hour,
               CAST(sum(n) OVER (PARTITION BY hour) AS DOUBLE)
                 / CAST(grand AS DOUBLE) AS hour_share_of_total
             FROM c CROSS JOIN t ORDER BY hour, event_type"""))

  /** Time-weighted average value (TWAP) per user: each observation is
    * weighted by how long it was the user's CURRENT value (the `lead`
    * inter-arrival span — q132's dwell applied as a weight). The
    * weighted sum Σ cents·Δt_µs is accumulated in decimal(38,0)
    * (cents·span products reach ~10⁷·10¹¹ and their SUM would overflow
    * int64), the denominator Σ Δt stays int64, and the TWAP is one
    * closing division — so the result is exact-arithmetic-then-divide
    * like every mean in this suite.
    */
  val q151Twap: Q = Q(
    "q151_twap",
    (s, dir) => {
      val seqW = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val spans = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("span_us",
          lead(col("ts_us"), 1).over(seqW) - col("ts_us"))
        .filter(col("span_us").isNotNull)
      spans.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_us")).as("total_span_us"),
          sum((col("cents") * col("span_us")).cast("decimal(38,0)"))
            .as("wsum"))
        .select(col("user_id"), col("n_spans"), col("total_span_us"),
          (col("wsum").cast("double") / col("total_span_us").cast("double"))
            .as("twap_cents"))
        .orderBy("user_id")
    },
    Some(s"""WITH e AS (SELECT user_id, event_id,
                          ${duckUs("ts")} AS ts_us,
                          CAST(floor(value * 100) AS BIGINT) AS cents
                        FROM events),
             sp AS (SELECT user_id, cents,
                      lead(ts_us) OVER (PARTITION BY user_id
                        ORDER BY ts_us, event_id) - ts_us AS span_us
                    FROM e)
             SELECT user_id, count(*) AS n_spans,
               CAST(sum(span_us) AS BIGINT) AS total_span_us,
               CAST(sum(CAST(cents * span_us AS HUGEINT)) AS DOUBLE)
                 / CAST(sum(span_us) AS DOUBLE) AS twap_cents
             FROM sp WHERE span_us IS NOT NULL
             GROUP BY user_id ORDER BY user_id"""))

  /** Sweep-line interval concurrency: how many users are simultaneously
    * active per day, from (user, day) activity intervals [first event,
    * last event]. Each interval emits +1/−1 boundary deltas, deltas are
    * NETTED PER TIMESTAMP before the running sum (a cumulative window
    * over duplicate sort keys has ambiguous per-row values — netting
    * makes the sort key unique, hence deterministic), and the per-day
    * maximum and its earliest peak time fall out of one ordered window
    * per day. The q101 interval-merge partner: merge asks "how much is
    * covered", this asks "how deeply".
    *
    * ## 100 TB notes
    * Interval extraction is one user-day aggregate; everything after
    * operates on <= 2 boundary rows per interval, partitioned by day —
    * the sweep never sees raw events, and each day's sweep is an
    * independent partition.
    */
  val q152MaxConcurrency: Q = Q(
    "q152_max_concurrency",
    (s, dir) => {
      val iv = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day_idx"),
          tsUs.as("ts_us"))
        .groupBy(col("user_id"), col("day_idx"))
        .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      val deltas = iv
        .select(col("day_idx"), col("t0").as("t"), lit(1L).as("d"))
        .unionByName(iv.select(col("day_idx"),
          (col("t1") + 1).as("t"), lit(-1L).as("d")))
        .groupBy(col("day_idx"), col("t"))
        .agg(sum(col("d")).as("net")) // unique (day, t) sort keys
      val byDay = Window.partitionBy("day_idx").orderBy("t")
      val run = deltas.withColumn("running",
        sum(col("net")).over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      run
        .withColumn("rk", row_number().over(
          Window.partitionBy("day_idx")
            .orderBy(col("running").desc, col("t").asc)))
        .filter(col("rk") === 1)
        .select(col("day_idx"), col("running").as("max_concurrent"),
          col("t").as("peak_t_us"))
        .orderBy("day_idx")
    },
    Some(s"""WITH e AS (SELECT user_id,
                    ${duckUs("ts")} // 86400000000 AS day_idx,
                    ${duckUs("ts")} AS ts_us
                  FROM events),
             iv AS (SELECT user_id, day_idx, min(ts_us) AS t0,
                      max(ts_us) AS t1
                    FROM e GROUP BY 1, 2),
             d AS (SELECT day_idx, t, CAST(sum(dd) AS BIGINT) AS net
                   FROM (SELECT day_idx, t0 AS t, 1 AS dd FROM iv
                         UNION ALL
                         SELECT day_idx, t1 + 1, -1 FROM iv)
                   GROUP BY 1, 2),
             r AS (SELECT day_idx, t,
                     CAST(sum(net) OVER (PARTITION BY day_idx ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
                   FROM d),
             k AS (SELECT *, row_number() OVER (PARTITION BY day_idx
                     ORDER BY running DESC, t ASC) AS rk
                   FROM r)
             SELECT day_idx, running AS max_concurrent, t AS peak_t_us
             FROM k WHERE rk = 1 ORDER BY day_idx"""))

  /** Growth accounting: per week, every active user is exactly one of
    * NEW (first week ever), RETAINED (also active the week before) or
    * RESURRECTED (inactive last week, active some earlier week), and
    * churn is last week's actives missing this week — the
    * new/retained/resurrected/churned ledger every growth team reports.
    * One (week, user) dedup (the only event-sized shuffle), a broadcast
    * first-week table, and one self-join offset by a week; identities
    * `new + retained + resurrected = active` hold row-for-row because
    * the three cases partition by construction.
    */
  val q154GrowthAccounting: Q = Q(
    "q154_growth_accounting",
    (s, dir) => {
      val wu = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 604800000000").as("week"),
          col("user_id"))
        .distinct()
      val firstWeek = wu.groupBy("user_id")
        .agg(min(col("week")).as("first_week"))
      // self-joins of the derived wu frame need explicit aliases
      // (AMBIGUOUS_SELF_JOIN otherwise)
      val perWeek = wu.as("c")
        .join(broadcast(firstWeek).as("f"),
          col("c.user_id") === col("f.user_id"))
        .join(wu.as("p"),
          col("p.user_id") === col("c.user_id") &&
            col("p.week") === col("c.week") - 1, "left")
        .groupBy(col("c.week").as("week"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("c.week") === col("f.first_week"), 1)).as("n_new"),
          count(col("p.user_id")).as("n_retained"),
          count(when(col("p.user_id").isNull &&
            col("c.week") > col("f.first_week"), 1)).as("n_resurrected"))
      // churned(w) = active in w-1, absent in w
      val churned = wu
        .select((col("week") + 1).as("week"), col("user_id").as("u"))
        .join(wu.select(col("week"), col("user_id").as("u")),
          Seq("week", "u"), "left_anti")
        .groupBy("week").agg(count(lit(1)).as("n_churned"))
      perWeek.join(churned, Seq("week"), "left")
        .select(col("week"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("week")
    },
    Some(s"""WITH wu AS (SELECT DISTINCT
                    ${duckUs("ts")} // 604800000000 AS week, user_id
                  FROM events),
             fw AS (SELECT user_id, min(week) AS first_week FROM wu
                    GROUP BY 1),
             cur AS (SELECT w.week,
                       count(*) AS n_active,
                       count(CASE WHEN w.week = f.first_week THEN 1 END)
                         AS n_new,
                       count(p.user_id) AS n_retained,
                       count(CASE WHEN p.user_id IS NULL
                                   AND w.week > f.first_week THEN 1 END)
                         AS n_resurrected
                     FROM wu w
                     JOIN fw f ON f.user_id = w.user_id
                     LEFT JOIN wu p ON p.user_id = w.user_id
                       AND p.week = w.week - 1
                     GROUP BY w.week),
             ch AS (SELECT p.week + 1 AS week, count(*) AS n_churned
                    FROM wu p LEFT JOIN wu c
                      ON c.user_id = p.user_id AND c.week = p.week + 1
                    WHERE c.user_id IS NULL
                    GROUP BY p.week + 1)
             SELECT week, n_active, n_new, n_retained, n_resurrected,
               coalesce(n_churned, 0) AS n_churned
             FROM cur LEFT JOIN ch USING (week)
             ORDER BY week"""))

  /** Pareto coverage of revenue: the smallest top-K user set whose
    * purchases cover >= 80 % of total revenue, decided by EXACT integer
    * cross-multiplication (`cum_cents · 100 >= 80 · total_cents` — no
    * percentage double ever compared). The per-user rollup is the only
    * event-sized work; the ranked cumulative walk runs over the
    * |users|-sized aggregate via
    * [[graft.engine.Cumulative.rankedCumSum]] — a range-partitioned
    * two-phase prefix sum, NOT a single-partition global window, so
    * even a billion-user dimension walks in parallel. Ties in revenue
    * rank break by user_id, so K is well-defined on both engines.
    */
  val q155ParetoCoverage: Q = Q(
    "q155_pareto_coverage",
    (s, dir) => {
      val perUser = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      val ranked = graft.engine.Cumulative.rankedCumSum(perUser,
        Seq(col("cents").desc, col("user_id").asc), col("cents"))
      val total = perUser.agg(sum(col("cents")).as("tot"),
        count(lit(1)).as("n_users")) // 1 row
      ranked.crossJoin(broadcast(total))
        .filter(col("cum") * 100 >= col("tot") * 80)
        .orderBy("rk")
        .limit(1)
        .select(col("rk").cast("long").as("k_users"), col("n_users"),
          col("cum").as("covered_cents"), col("tot").as("total_cents"),
          (col("rk").cast("double") / col("n_users").cast("double"))
            .as("user_fraction"))
    },
    Some(s"""WITH pu AS (SELECT user_id,
                    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                      AS cents
                  FROM events WHERE event_type = 'purchase'
                  GROUP BY 1),
             t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot,
                     count(*) AS n_users FROM pu),
             r AS (SELECT cents,
                     row_number() OVER w AS rk,
                     CAST(sum(cents) OVER (ORDER BY cents DESC, user_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                   FROM pu
                   WINDOW w AS (ORDER BY cents DESC, user_id))
             SELECT CAST(rk AS BIGINT) AS k_users, n_users,
               cum AS covered_cents, tot AS total_cents,
               CAST(rk AS DOUBLE) / CAST(n_users AS DOUBLE)
                 AS user_fraction
             FROM r CROSS JOIN t
             WHERE cum * 100 >= tot * 80
             ORDER BY rk LIMIT 1"""))

  /** Per-user modal event type with a DETERMINISTIC tie-break — the
    * mode aggregate done safely: Spark's `mode()` and DuckDB's `mode()`
    * both leave ties implementation-defined, so neither appears here;
    * the mode is the count-desc/type-asc rank-1 row of the (user, type)
    * aggregate, a total order both engines share. Two map-side-combined
    * hash aggregates plus a window over the |users| x |types| frame.
    */
  val q158ModalType: Q = Q(
    "q158_modal_type",
    (s, dir) => {
      val counts = Tables.load(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("cnt").desc, col("event_type").asc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("modal_type"),
          col("cnt").as("modal_cnt"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_type AS modal_type, cnt AS modal_cnt
            FROM (SELECT user_id, event_type, count(*) AS cnt,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY count(*) DESC, event_type ASC) AS rk
                  FROM events GROUP BY user_id, event_type)
            WHERE rk = 1 ORDER BY user_id"""))

  /** Deterministic ARGMAX: each user's single largest purchase and the
    * event that produced it, via `max(struct(cents, event_id))` — the
    * lexicographic struct max IS the tie-break (`max_by` leaves ties
    * implementation-defined on both engines and never appears in this
    * suite). One map-side-combined aggregate; no window, no join. The
    * oracle mirrors the lexicographic max STRUCTURALLY (rank-1 row by
    * cents DESC, event_id DESC) — an earlier arithmetic-packed form
    * (cents*1e10+event_id) would mis-order once event_id >= 1e10 and
    * wrap int64 once cents >= ~9.2e8, so it was replaced.
    */
  val q159ArgmaxPurchase: Q = Q(
    "q159_argmax_purchase",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("cents"), col("event_id"))).as("m"),
          count(lit(1)).as("n_purchases"))
        .select(col("user_id"), col("n_purchases"),
          col("m.cents").as("max_cents"),
          col("m.event_id").as("max_event_id"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, n_purchases, cents AS max_cents,
              event_id AS max_event_id
            FROM (SELECT user_id, event_id,
                    CAST(floor(value * 100) AS BIGINT) AS cents,
                    count(*) OVER (PARTITION BY user_id) AS n_purchases,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(value * 100) AS BIGINT) DESC,
                               event_id DESC) AS rk
                  FROM events WHERE event_type = 'purchase')
            WHERE rk = 1 ORDER BY user_id"""))

  /** Conversion-lag histogram — time from each user's FIRST view to the
    * first purchase at-or-after it, bucketed into exponential latency
    * bins (<1m, <10m, <1h, <6h, <1d, >=1d). The binning is pure integer
    * CASE on exact µs differences (no log, no float), so the histogram
    * is bit-stable; the complementary operators are q132 (dwell
    * between consecutive events) and q74 (inter-arrival gaps) — this
    * one measures a cross-event-type causal span, the funnel-latency
    * readout product analytics put beside q86's conversion counts.
    *
    * ## 100 TB notes
    * Two aggregates both keyed on user_id — one partitioning, reused
    * (AQE coalesces); the view-to-purchase join is co-partitioned on
    * the same key, so the whole query is one exchange of per-user
    * rows plus a 6-group rollup.
    */
  val q170ConversionLag: Q = Q(
    "q170_conversion_lag",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("us"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val lags = ev.filter(col("event_type") === "purchase")
        .join(firstView, Seq("user_id"))
        .filter(col("us") >= col("view_us"))
        .groupBy(col("user_id"), col("view_us"))
        .agg(min(col("us")).as("purch_us"))
        .select((col("purch_us") - col("view_us")).as("lag_us"))
      val m = 60L * 1000000L
      val bucket = when(col("lag_us") < m, 0)
        .when(col("lag_us") < 10 * m, 1)
        .when(col("lag_us") < 60 * m, 2)
        .when(col("lag_us") < 360 * m, 3)
        .when(col("lag_us") < 1440 * m, 4)
        .otherwise(5)
      lags.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("lag_us")).as("min_lag_us"),
          max(col("lag_us")).as("max_lag_us"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH t AS (SELECT user_id, event_type,
                    ${duckUs("ts")} AS us FROM events),
            fv AS (SELECT user_id, min(us) AS view_us FROM t
                   WHERE event_type = 'view' GROUP BY user_id),
            lags AS (SELECT t.user_id,
                    min(t.us) - fv.view_us AS lag_us
                  FROM t JOIN fv ON t.user_id = fv.user_id
                  WHERE t.event_type = 'purchase' AND t.us >= fv.view_us
                  GROUP BY t.user_id, fv.view_us)
            SELECT CASE WHEN lag_us < 60000000 THEN 0
                        WHEN lag_us < 600000000 THEN 1
                        WHEN lag_us < 3600000000 THEN 2
                        WHEN lag_us < 21600000000 THEN 3
                        WHEN lag_us < 86400000000 THEN 4
                        ELSE 5 END AS bucket,
              count(*) AS n_users,
              CAST(min(lag_us) AS BIGINT) AS min_lag_us,
              CAST(max(lag_us) AS BIGINT) AS max_lag_us
            FROM lags GROUP BY 1 ORDER BY 1"""))

  /** RFM segmentation — the classic lifecycle partition of a user base:
    * per purchasing user, Recency (last purchase time), Frequency
    * (purchase count) and Monetary (exact decimal revenue) are each
    * tercile-binned against rank-picked cutoffs (q40's
    * histogram-cumulative order statistic — the value at cum >=
    * ceil(n/3) and ceil(2n/3)), then users are counted per (r,f,m)
    * cell. Bin 3 = top third (most recent / most frequent / highest
    * spend); assignment is `v <= cut` CASE against broadcast 1-row
    * cutoffs, so ties land identically on both engines — never ntile,
    * whose remainder distribution would make cell populations depend
    * on the tie order of equal metric values.
    *
    * ## 100 TB notes
    * One shuffle to the per-user rollup; ALL SIX tercile cutoffs come
    * from ONE unpivoted histogram pass — the three metrics stack into a
    * common exact DECIMAL(38,10) carrier (µs recency, counts and the
    * decimal revenue sum all embed exactly), one (metric, value)
    * group-count, one rankedCumSum over the (metric, value) total
    * order, and per-metric cums recovered by subtracting a 3-row
    * broadcast earlier-metric offset — then pivot to ONE 1-row
    * broadcast attached once to the user rollup. The previous plan
    * paid three separate histogram+cum+attach passes (audited at 11
    * shuffles / 38 aggregates / 9 broadcast attaches); this shape
    * audits at 8 shuffles / 22 aggregates / 3 broadcast attaches (the
    * cutoff row, the 3-row offset, and rankedCumSum's internal prefix
    * offset — all <=3-row sides). Cutoff
    * values are bit-identical to the per-metric walk (exact-int cums,
    * exact decimal order), so the oracle is unchanged. The final agg
    * has <= 27 groups. No global per-user sort anywhere.
    */
  val q174RfmSegments: Q = Q(
    "q174_rfm_segments",
    (s, dir) => {
      val u = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), tsUs.as("us"),
          col("value").cast("decimal(30,10)").as("v"))
        .groupBy(col("user_id"))
        .agg(max(col("us")).as("r"), count(lit(1)).as("f"),
          sum(col("v")).as("m"))
      // one histogram over distinct values of ALL THREE metrics
      val hist = u.selectExpr(
          "stack(3, 'r', CAST(r AS DECIMAL(38,10)), " +
            "'f', CAST(f AS DECIMAL(38,10)), " +
            "'m', CAST(m AS DECIMAL(38,10))) AS (metric, v)")
        .groupBy(col("metric"), col("v")).agg(count(lit(1)).as("c"))
      // per-metric totals + exclusive earlier-metric count offsets
      // (3-row broadcast triangular join, the Cumulative offset trick)
      val tot = hist.groupBy(col("metric")).agg(sum(col("c")).as("n"))
      val withOff = tot
        .join(broadcast(tot.select(col("metric").as("m2"),
          col("n").as("n2"))), col("m2") < col("metric"), "left")
        .groupBy(col("metric"), col("n"))
        .agg(coalesce(sum(col("n2")), lit(0L)).as("off"))
      // one global ranked walk; within-metric cum = global cum - off
      val cum = graft.engine.Cumulative
        .rankedCumSum(hist, Seq(col("metric").asc, col("v").asc),
          col("c"), rkName = "__rk")
        .join(broadcast(withOff), Seq("metric"))
        .withColumn("mcum", col("cum") - col("off"))
      def pick(num: Int) =
        min(when(col("mcum") * 3 >= col("n") * num, col("v")))
      val perMetric = cum.groupBy(col("metric"))
        .agg(pick(1).as("c1"), pick(2).as("c2"))
      def side(m: String, c: String) =
        max(when(col("metric") === m, col(c)))
      val cuts = perMetric.agg(
        side("r", "c1").as("r1"), side("r", "c2").as("r2"),
        side("f", "c1").as("f1"), side("f", "c2").as("f2"),
        side("m", "c1").as("m1"), side("m", "c2").as("m2"))
      def bin(metric: String) =
        when(col(metric) <= col(s"${metric}1"), 1)
          .when(col(metric) <= col(s"${metric}2"), 2)
          .otherwise(3)
      u.crossJoin(broadcast(cuts))
        .select(bin("r").as("r_bin"), bin("f").as("f_bin"),
          bin("m").as("m_bin"))
        .groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("r_bin", "f_bin", "m_bin")
    },
    Some(s"""WITH u AS (SELECT user_id, max(${duckUs("ts")}) AS r,
                count(*) AS f,
                sum(CAST(value AS DECIMAL(30,10))) AS m
              FROM events WHERE event_type = 'purchase' GROUP BY user_id),
            rh AS (SELECT r AS v, count(*) AS c FROM u GROUP BY r),
            rc AS (SELECT min(CASE WHEN cum * 3 >= n * 1 THEN v END) AS r1,
                min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS r2
              FROM (SELECT v, sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                    sum(c) OVER () AS n FROM rh)),
            fh AS (SELECT f AS v, count(*) AS c FROM u GROUP BY f),
            fc AS (SELECT min(CASE WHEN cum * 3 >= n * 1 THEN v END) AS f1,
                min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS f2
              FROM (SELECT v, sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                    sum(c) OVER () AS n FROM fh)),
            mh AS (SELECT m AS v, count(*) AS c FROM u GROUP BY m),
            mc AS (SELECT min(CASE WHEN cum * 3 >= n * 1 THEN v END) AS m1,
                min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS m2
              FROM (SELECT v, sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                    sum(c) OVER () AS n FROM mh))
            SELECT CASE WHEN r <= r1 THEN 1 WHEN r <= r2 THEN 2 ELSE 3 END
                AS r_bin,
              CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2 ELSE 3 END
                AS f_bin,
              CASE WHEN m <= m1 THEN 1 WHEN m <= m2 THEN 2 ELSE 3 END
                AS m_bin,
              count(*) AS n_users
            FROM u, rc, fc, mc
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Linear-interpolation gap fill — q90's spine densification with
    * INTERPOLATED values instead of zeros: per event_type, hours with
    * no observed revenue get the straight line between the previous and
    * next observed hours (`vp + (vn - vp) * (h - hp)/(hn - hp)`, one
    * fixed IEEE op tree over exact decimal endpoint sums and exact
    * integer hour distances); hours outside a type's observed range pad
    * with the nearest observed value. Every row is tagged
    * obs / interp / pad so downstream consumers can weight or exclude
    * synthesized points. Zeros (q90) answer "how many events"; a
    * metric like revenue needs a line, not a cliff.
    *
    * ## 100 TB notes
    * Fact-sized work is one (hour, type) group-by with decimal partial
    * aggregation; the spine is a 1-row bounds aggregate exploded (never
    * a driver loop); the four IGNORE NULLS window passes all share the
    * per-type partitioning of a spine x types frame whose size is
    * hours x |types| — independent of fact cardinality.
    */
  val q179InterpolateGaps: Q = Q(
    "q179_interpolate_gaps",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(expr("(ts div 1000) div 3600000000").as("h"),
          col("event_type"), col("value").cast("decimal(30,10)").as("v"))
      val obs = ev.groupBy(col("h"), col("event_type"))
        .agg(sum(col("v")).as("v"))
      val bounds = ev.agg(min("h").as("lo"), max("h").as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"), lit(1L))).as("h"))
      val types = ev.select(col("event_type")).distinct()
      val sv = spine.crossJoin(broadcast(types))
        .join(obs, Seq("h", "event_type"), "left")
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val back = w.rowsBetween(Window.unboundedPreceding, -1)
      val fwd = w.rowsBetween(1, Window.unboundedFollowing)
      val withEnds = sv
        .withColumn("hp", last(when(col("v").isNotNull, col("h")), true).over(back))
        .withColumn("vp", last(col("v"), true).over(back))
        .withColumn("hn", first(when(col("v").isNotNull, col("h")), true).over(fwd))
        .withColumn("vn", first(col("v"), true).over(fwd))
      val interp = col("vp").cast("double") +
        (col("vn").cast("double") - col("vp").cast("double")) *
          ((col("h") - col("hp")) / (col("hn") - col("hp")))
      withEnds.select((col("h") * 3600000000L).as("hour_us"),
          col("event_type"),
          when(col("v").isNotNull, col("v").cast("double"))
            .when(col("vp").isNull, col("vn").cast("double"))
            .when(col("vn").isNull, col("vp").cast("double"))
            .otherwise(interp).as("revenue"),
          when(col("v").isNotNull, "obs")
            .when(col("vp").isNull || col("vn").isNull, "pad")
            .otherwise("interp").as("src"))
        .orderBy("hour_us", "event_type")
    },
    Some("""WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                AS h, event_type, CAST(value AS DECIMAL(30,10)) AS v
              FROM events),
            obs AS (SELECT h, event_type, sum(v) AS v
                    FROM ev GROUP BY h, event_type),
            b AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
            spine AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
            t AS (SELECT DISTINCT event_type FROM ev),
            sv AS (SELECT spine.h, t.event_type, obs.v
                   FROM spine CROSS JOIN t
                   LEFT JOIN obs ON obs.h = spine.h
                     AND obs.event_type = t.event_type),
            ends AS (SELECT h, event_type, v,
                last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hp,
                last_value(v IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vp,
                first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hn,
                first_value(v IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS vn
              FROM sv)
            SELECT h * 3600000000 AS hour_us, event_type,
              CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                   WHEN vp IS NULL THEN CAST(vn AS DOUBLE)
                   WHEN vn IS NULL THEN CAST(vp AS DOUBLE)
                   ELSE CAST(vp AS DOUBLE)
                     + (CAST(vn AS DOUBLE) - CAST(vp AS DOUBLE))
                       * ((h - hp) / (hn - hp)) END AS revenue,
              CASE WHEN v IS NOT NULL THEN 'obs'
                   WHEN vp IS NULL OR vn IS NULL THEN 'pad'
                   ELSE 'interp' END AS src
            FROM ends ORDER BY hour_us, event_type"""))

  /** Distinct-user support of sequential patterns a -> b: for every
    * ordered pair of event types, how many users have SOME occurrence
    * of `a` strictly before SOME occurrence of `b` — the containment
    * semantics of sequential pattern mining (PrefixSpan / SPAM), which
    * q122's Markov matrix does NOT answer (that counts ADJACENT
    * transitions; a -> b here may have any gap). The per-user test
    * `exists i<j: t_i=a, t_j=b` reduces exactly to
    * `min_ts(a) < max_ts(b)`, so each user contributes one bounded row
    * per type — never a per-event self-join. Also emits support as
    * exact ppm of the user base (integer floor division).
    *
    * ## 100 TB notes
    * One shuffle to the (user, type) rollup; the pair expansion joins
    * that rollup with itself PER USER on the shared user_id
    * partitioning — each side is at most |types| rows per user, so the
    * join output is bounded by |users| * |types|^2, independent of
    * event count. The final agg has <= |types|^2 groups.
    */
  val q185SeqPatterns: Q = Q(
    "q185_seq_patterns",
    (s, dir) => {
      val ut = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), tsUs.as("us"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      val total = ut.agg(count_distinct(col("user_id")).as("n_total"))
      val a = ut.select(col("user_id"), col("event_type").as("a"),
        col("first_us"))
      val b = ut.select(col("user_id"), col("event_type").as("b"),
        col("last_us"))
      a.join(b, Seq("user_id"))
        .filter(col("a") =!= col("b") && col("first_us") < col("last_us"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(total))
        .select(col("a"), col("b"), col("n_users"),
          expr("n_users * 1000000 div n_total").as("support_ppm"))
        .orderBy(col("a"), col("b"))
    },
    Some(s"""WITH ut AS (SELECT user_id, event_type,
                min(${duckUs("ts")}) AS first_us,
                max(${duckUs("ts")}) AS last_us
              FROM events GROUP BY user_id, event_type),
            n AS (SELECT count(DISTINCT user_id) AS n_total FROM ut)
            SELECT a.event_type AS a, b.event_type AS b,
              count(*) AS n_users,
              count(*) * 1000000 // (SELECT n_total FROM n) AS support_ppm
            FROM ut a JOIN ut b ON a.user_id = b.user_id
              AND a.event_type <> b.event_type
              AND a.first_us < b.last_us
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Session entry/exit/bounce profile — the landing-page report: for
    * each event type, how many sessions START there, END there, and
    * BOUNCE there (single-event sessions — entry and exit at once)?
    * Product analytics reads acquisition quality straight off this
    * table (high entry + high bounce = a broken front door), and none
    * of the existing session queries (q33 sessionize, q86 funnel, q132
    * dwell) expose position-in-session roles. Sessions are q33's exact
    * gaps-and-islands relation; entry/exit election is the total order
    * (ts, event_id) ascending/descending, so ties cannot flip roles;
    * entry_share is one double division against the global session
    * count (window-summed over the per-type aggregate, which is
    * event-type-cardinality rows — not data-scale).
    *
    * ## 100 TB notes
    * One shuffle on user_id drives sessionization AND both role
    * windows (same partition key, same exchange); the per-type rollup
    * is a map-side-combined conditional sum; the global-total window
    * runs over ~|event types| rows. Nothing here scales worse than
    * q33 itself.
    */
  val q210EntryExitBounce: Q = Q(
    "q210_entry_exit_bounce",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val newSession = when(
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > GapUs, 1L)
        .otherwise(0L)
      val sessed = ev.select(col("user_id"), col("event_id"),
          col("event_type"), tsUs.as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new", newSession)
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy(col("user_id"), col("session_seq"))
      val roles = sessed
        .withColumn("rn_a", row_number().over(
          bySess.orderBy(col("ts_us").asc, col("event_id").asc)))
        .withColumn("rn_d", row_number().over(
          bySess.orderBy(col("ts_us").desc, col("event_id").desc)))
      val perType = roles.groupBy(col("event_type"))
        .agg(sum(when(col("rn_a") === 1, 1L).otherwise(0L)).as("n_entry"),
          sum(when(col("rn_d") === 1, 1L).otherwise(0L)).as("n_exit"),
          sum(when(col("rn_a") === 1 && col("rn_d") === 1, 1L)
            .otherwise(0L)).as("n_bounce"))
      perType
        .withColumn("total_sessions",
          sum(col("n_entry")).over(Window.partitionBy(lit(1))))
        .select(col("event_type"), col("n_entry"), col("n_exit"),
          col("n_bounce"),
          (col("n_entry").cast("double") /
            col("total_sessions").cast("double")).as("entry_share"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH $duckSessionCtes,
             roles AS (SELECT event_type,
                 row_number() OVER (PARTITION BY user_id, session_seq
                   ORDER BY ts_us ASC, event_id ASC) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, session_seq
                   ORDER BY ts_us DESC, event_id DESC) AS rn_d
               FROM sess),
             pt AS (SELECT event_type,
                 CAST(sum(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_entry,
                 CAST(sum(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exit,
                 CAST(sum(CASE WHEN rn_a = 1 AND rn_d = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bounce
               FROM roles GROUP BY event_type)
             SELECT event_type, n_entry, n_exit, n_bounce,
               CAST(n_entry AS DOUBLE) / CAST(sum(n_entry) OVER () AS DOUBLE)
                 AS entry_share
             FROM pt ORDER BY event_type"""))

  /** Top session trigram paths — the three-step navigation sequences
    * users actually walk, the "top paths" report product analytics
    * tools ship front-and-center: q122's Markov matrix only sees
    * MEMORYLESS transitions (a->b), which cannot distinguish
    * view->click->purchase from error->click->purchase; the trigram
    * restores two steps of context, exactly the depth funnel
    * diagnostics need. Paths are formed WITHIN q33's sessions (lead
    * over the session's total event order, so a path can never span a
    * session boundary), counted, and top-10'd with a path-string
    * tiebreak.
    *
    * ## 100 TB notes
    * The same single user_id shuffle as q33 feeds the session windows
    * AND both leads; the path rollup is map-side combined on a bounded
    * key domain (|event types|^3); top-10 is TakeOrderedAndProject.
    */
  val q215TrigramPaths: Q = Q(
    "q215_trigram_paths",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val newSession = when(
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > GapUs, 1L)
        .otherwise(0L)
      val sessed = ev.select(col("user_id"), col("event_id"),
          col("event_type"), tsUs.as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new", newSession)
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
      val inSess = Window.partitionBy(col("user_id"), col("session_seq"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      sessed
        .withColumn("t2", lead(col("event_type"), 1).over(inSess))
        .withColumn("t3", lead(col("event_type"), 2).over(inSess))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_walks"))
        .orderBy(col("n_walks").desc, col("path").asc)
        .limit(10)
    },
    Some(s"""WITH $duckSessionCtes,
             tri AS (SELECT event_type || '>' ||
                 lead(event_type, 1) OVER w || '>' ||
                 lead(event_type, 2) OVER w AS path
               FROM sess
               WINDOW w AS (PARTITION BY user_id, session_seq
                 ORDER BY ts_us ASC, event_id ASC))
             SELECT path, count(*) AS n_walks FROM tri
             WHERE path IS NOT NULL
             GROUP BY path ORDER BY n_walks DESC, path ASC LIMIT 10"""))

  /** Time-decay attribution — the third member of the attribution
    * family (q131 first-touch gives everything to the opener, q146
    * linear splits equally): credit halves for every hour between
    * touch and purchase, the standard recency model. And it needs NO
    * floats: with a 24 h lookback the weight is the exact integer
    * 2^(24 - age_hours), so each touch's credit is
    * cents * 10^6 * w div sum(w). The numerator accumulates in
    * decimal(38,0) / HUGEINT (cents x 10^6 x 2^24 passes int64 at
    * ~$5,497 per purchase — int64 would wrap silently on Spark while
    * DuckDB raises, a divergent failure mode); the quotient is back
    * inside int64 (<= cents * 10^6, since w <= sum_w) so the credit
    * lands as exact BIGINT micro-cents on both engines — the same
    * exact micro-credit discipline as q146, just recency-shaped.
    * The usual pow(0.5, age/halflife) formulation would hang the
    * result on libm pow's last-ulp behavior across engines; powers of
    * two make the model exact instead.
    *
    * ## 100 TB notes
    * Identical plan shape to q146: the purchase-click interval join on
    * user_id, one per-purchase window for sum(w) on the same
    * partitioning, then a map-side-combined rollup on hour-of-day.
    */
  val q232TimeDecayAttribution: Q = Q(
    "q232_time_decay_attribution",
    (s, dir) => {
      val lookbackUs = 24L * 3600 * 1000000
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          tsUs.as("ts_us"), col("value"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("ts_us").as("pur_ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("clk_user"),
          col("ts_us").as("clk_ts_us"))
      val touched = pur.join(clk,
        col("user_id") === col("clk_user") &&
          col("clk_ts_us") >= col("pur_ts_us") - lookbackUs &&
          col("clk_ts_us") <= col("pur_ts_us"))
        .withColumn("w", expr(
          "shiftleft(cast(1 as bigint), " +
            "cast(24 - (pur_ts_us - clk_ts_us) div 3600000000 as int))"))
      val withW = touched
        .withColumn("sum_w",
          sum(col("w")).over(Window.partitionBy("pur_id")))
      withW
        .select(expr("(clk_ts_us div 3600000000) % 24").as("hour_of_day"),
          expr("cast(cents as decimal(38,0)) * 1000000 * w div sum_w")
            .as("credit_micro"))
        .groupBy(col("hour_of_day"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micro")).as("credited_micro"),
          (sum(col("credit_micro")).cast("double") / 1e8)
            .as("credited_dollars"))
        .orderBy("hour_of_day")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, event_type,
                    ${duckUs("ts")} AS ts_us,
                    CAST(floor(value * 100) AS BIGINT) AS cents
                  FROM events),
             p AS (SELECT event_id AS pur_id, user_id,
                     ts_us AS pur_ts_us, cents
                   FROM ev WHERE event_type = 'purchase'),
             c AS (SELECT user_id AS clk_user, ts_us AS clk_ts_us
                   FROM ev WHERE event_type = 'click'),
             t AS (SELECT p.*, clk_ts_us,
                     (CAST(1 AS BIGINT) << CAST(24 -
                       (pur_ts_us - clk_ts_us) // 3600000000 AS INT)) AS w
                   FROM p JOIN c
                     ON user_id = clk_user
                       AND clk_ts_us >= pur_ts_us - ${24L * 3600 * 1000000}
                       AND clk_ts_us <= pur_ts_us),
             tw AS (SELECT *, CAST(sum(w) OVER (PARTITION BY pur_id)
                      AS BIGINT) AS sum_w FROM t)
             SELECT (clk_ts_us // 3600000000) % 24 AS hour_of_day,
               count(*) AS n_touches,
               CAST(sum(CAST(CAST(cents AS HUGEINT) * 1000000 * w // sum_w
                   AS BIGINT)) AS BIGINT) AS credited_micro,
               CAST(sum(CAST(CAST(cents AS HUGEINT) * 1000000 * w // sum_w
                   AS BIGINT)) AS DOUBLE) / 1e8
                 AS credited_dollars
             FROM tw GROUP BY 1 ORDER BY 1"""))

  /** Per-transition dwell time — the semi-Markov companion to q122:
    * the transition MATRIX says users go view -> purchase, but not how
    * long that edge takes; this reports, for every adjacent in-session
    * transition (same 30-min gap rule as q33, single-sourced GapUs),
    * the count and mean seconds spent on the edge. The report that
    * separates a fast checkout funnel from a stalled one. Gap sums are
    * exact epoch-µs BIGINTs; the mean is one fixed double tree.
    *
    * ## 100 TB notes
    * One user_id shuffle feeds the lead window; the transition rollup
    * is map-side combined on a |types|^2-bounded key. Same cost as
    * q122 itself.
    */
  val q233TransitionDwell: Q = Q(
    "q233_transition_dwell",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          tsUs.as("ts_us"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .withColumn("next_ts", lead(col("ts_us"), 1).over(byUser))
        .filter(col("next_type").isNotNull &&
          (col("next_ts") - col("ts_us")) <= GapUs)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("next_ts") - col("ts_us")).as("sum_gap_us"))
        .select(col("from_type"), col("to_type"), col("n"),
          col("sum_gap_us"),
          (col("sum_gap_us").cast("double") / col("n").cast("double") /
            1000000.0).as("mean_gap_s"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
                    ${duckUs("ts")} AS ts_us FROM events),
             p AS (SELECT event_type AS from_type,
                     lead(event_type) OVER w AS to_type,
                     lead(ts_us) OVER w - ts_us AS gap_us
                   FROM e
                   WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts_us ASC, event_id ASC))
             SELECT from_type, to_type, count(*) AS n,
               CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
               CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000.0 AS mean_gap_s
             FROM p WHERE to_type IS NOT NULL AND gap_us <= $GapUs
             GROUP BY from_type, to_type
             ORDER BY from_type, to_type"""))

  /** Process-conformance audit — process mining's conformance check
    * against a declared happy-path model: signup starts a journey;
    * view/click browse; purchase must follow a click; error may follow
    * anything but nothing may follow an error (within a session). Each
    * adjacent in-session transition is classified against the declared
    * whitelist, and the report gives every observed (from, to) edge
    * with its count, its allowed/violating flag, and its share of ALL
    * transitions — the fitness table auditors read to see WHERE the
    * real process deviates from the designed one, not just that it
    * does. The model is explicit in the query (a literal whitelist),
    * so the audit is self-documenting.
    *
    * ## 100 TB notes
    * Same single user_id shuffle as q233 (adjacency via one lead
    * window); classification is a map; the rollup is |types|^2-bounded
    * with the global share window over that tiny aggregate.
    */
  val q238ProcessConformance: Q = Q(
    "q238_process_conformance",
    (s, dir) => {
      val allowed = Seq(
        "signup" -> "view", "signup" -> "click",
        "view" -> "view", "view" -> "click",
        "click" -> "view", "click" -> "click", "click" -> "purchase",
        "purchase" -> "view", "purchase" -> "click",
        "signup" -> "error", "view" -> "error", "click" -> "error",
        "purchase" -> "error")
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val trans = ev.select(col("user_id"), col("event_id"),
          col("event_type"), tsUs.as("ts_us"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .withColumn("next_ts", lead(col("ts_us"), 1).over(byUser))
        .filter(col("next_type").isNotNull &&
          (col("next_ts") - col("ts_us")) <= GapUs)
        .select(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
      val isAllowed = allowed.map { case (f, t) =>
        col("from_type") === f && col("to_type") === t
      }.reduce(_ || _)
      trans.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("allowed", isAllowed)
        .withColumn("total",
          sum(col("n")).over(Window.partitionBy(lit(1))))
        .select(col("from_type"), col("to_type"), col("n"), col("allowed"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
                    ${duckUs("ts")} AS ts_us FROM events),
             p AS (SELECT event_type AS from_type,
                     lead(event_type) OVER w AS to_type,
                     lead(ts_us) OVER w - ts_us AS gap_us
                   FROM e
                   WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts_us ASC, event_id ASC)),
             t AS (SELECT from_type, to_type, count(*) AS n
                   FROM p WHERE to_type IS NOT NULL AND gap_us <= $GapUs
                   GROUP BY from_type, to_type)
             SELECT from_type, to_type, n,
               (from_type, to_type) IN (
                 ('signup', 'view'), ('signup', 'click'),
                 ('view', 'view'), ('view', 'click'),
                 ('click', 'view'), ('click', 'click'),
                 ('click', 'purchase'),
                 ('purchase', 'view'), ('purchase', 'click'),
                 ('signup', 'error'), ('view', 'error'),
                 ('click', 'error'), ('purchase', 'error')) AS allowed,
               CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS share
             FROM t ORDER BY from_type, to_type"""))

  /** Double-fire detection — the idempotency audit every event
    * pipeline runs: the same user emitting the SAME event type again
    * within 10 minutes is the signature of duplicate webhooks, retry
    * storms, and double-submitted forms (a plain event_id dedup — q66
    * — cannot catch these, because re-fires arrive with FRESH ids).
    * One row per event type: repeat count, affected-user reach, and
    * the tightest observed gap (a near-zero minimum screams
    * at-least-once delivery; minutes-scale repeats are humans).
    * Exact integer microseconds throughout.
    *
    * ## 100 TB notes
    * One lag window on a SINGLE (user_id, event_type) shuffle — note
    * the type in the key: repeats are per-type, so the partitioning is
    * finer than q233's — then a map-side-combined rollup on type.
    */
  val q244DoubleFire: Q = Q(
    "q244_double_fire",
    (s, dir) => {
      val windowUs = 600L * 1000000
      val ev = Tables.load(s, dir, "events")
      val byRun = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          tsUs.as("ts_us"))
        .withColumn("prev", lag(col("ts_us"), 1).over(byRun))
        .filter(col("prev").isNotNull &&
          (col("ts_us") - col("prev")) <= windowUs)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_refires"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts_us") - col("prev")).as("tightest_gap_us"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
                    ${duckUs("ts")} AS ts_us FROM events),
             r AS (SELECT user_id, event_type,
                     ts_us - lag(ts_us, 1) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts_us ASC, event_id ASC) AS gap
                   FROM e)
             SELECT event_type, count(*) AS n_refires,
               count(DISTINCT user_id) AS n_users,
               min(gap) AS tightest_gap_us
             FROM r WHERE gap IS NOT NULL AND gap <= ${600L * 1000000}
             GROUP BY event_type ORDER BY event_type"""))

  /** Time-weighted concurrency profile — q152 reports the single peak;
    * capacity planning needs the DISTRIBUTION: how many microseconds
    * did the system spend at each simultaneous-session level, and what
    * are the time-weighted p50/p99? (A peak of 80 that lasted two
    * seconds sizes very differently from a p99 of 60.) Sessions are
    * q33's exact relation; the sweep is the classic event-boundary
    * walk: +1/-1 deltas ordered by (time, delta) — ends before starts
    * at the same instant, so touching sessions never double-count —
    * running sum = level, each segment weighted by its exact µs
    * duration, zero-duration tie segments weightless by construction.
    * Quantiles are the discrete cumulative walk over the (level,
    * duration) histogram: all exact integers.
    *
    * ## 100 TB notes
    * Sessionization shuffles once on user_id; the boundary sweep is a
    * GLOBAL ordered window over 2x|sessions| rows — the one genuinely
    * serial step, same as q152, bounded by session count not events;
    * at cluster scale this walk runs per time-shard with boundary
    * levels carried between shards (prefix-sum decomposition).
    */
  val q251ConcurrencyProfile: Q = Q(
    "q251_concurrency_profile",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val newSession = when(
        col("prev_us").isNull || (col("ts_us") - col("prev_us")) > GapUs, 1L)
        .otherwise(0L)
      val sess = ev.select(col("user_id"), col("event_id"),
          tsUs.as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("is_new", newSession)
        .withColumn("session_seq",
          sum(col("is_new")).over(byUser.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      val deltas = sess.select(col("start_us").as("t"), lit(1L).as("d"))
        .unionAll(sess.select(col("end_us").as("t"), lit(-1L).as("d")))
      val ord = Window.orderBy(col("t").asc, col("d").asc)
      val segs = deltas
        .withColumn("level", sum(col("d")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_t", lead(col("t"), 1).over(ord))
        .filter(col("next_t").isNotNull)
        .select(col("level"), (col("next_t") - col("t")).as("dur"))
      val hist = segs.groupBy(col("level"))
        .agg(sum(col("dur")).as("dur_us"))
      val wAll = Window.partitionBy(lit(1))
      val cum = hist
        .withColumn("cum", sum(col("dur_us")).over(
          Window.orderBy(col("level"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("dur_us")).over(wAll))
      def pick(p: Double) =
        min(when(col("cum") >= ceil(col("n") * p), col("level")))
      cum.agg(max(col("n")).as("observed_us"),
        max(col("level")).as("max_conc"),
        pick(0.5).as("p50_conc"), pick(0.99).as("p99_conc"))
    },
    Some(s"""WITH $duckSessionCtes,
             sb AS (SELECT user_id, session_seq, min(ts_us) AS start_us,
                      max(ts_us) AS end_us
                    FROM sess GROUP BY user_id, session_seq),
             dl AS (SELECT start_us AS t, 1 AS d FROM sb
                    UNION ALL SELECT end_us AS t, -1 AS d FROM sb),
             sg AS (SELECT level, next_t - t AS dur FROM (
                 SELECT t, CAST(sum(d) OVER (ORDER BY t ASC, d ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS level,
                   lead(t) OVER (ORDER BY t ASC, d ASC) AS next_t
                 FROM dl)
               WHERE next_t IS NOT NULL),
             h AS (SELECT level, CAST(sum(dur) AS BIGINT) AS dur_us
                   FROM sg GROUP BY level),
             cu AS (SELECT *,
                 CAST(sum(dur_us) OVER (ORDER BY level
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(sum(dur_us) OVER () AS BIGINT) AS n
               FROM h)
             SELECT CAST(max(n) AS BIGINT) AS observed_us,
               max(level) AS max_conc,
               min(CASE WHEN cum >= ceil(n * 0.5) THEN level END)
                 AS p50_conc,
               min(CASE WHEN cum >= ceil(n * 0.99) THEN level END)
                 AS p99_conc
             FROM cu"""))

  /** Activity heatmap — the dow x hour event matrix every ops dashboard
    * leads with: per (weekday, hour-of-day) cell, event count, share of
    * all events, and a peak flag on the single busiest cell (total-
    * order election: count desc, then dow, then hour — so exactly one
    * row carries true on both engines). Weekday from pure epoch-day
    * arithmetic (Sunday=0, as q229); hour from exact integer division.
    * The heatmap is how staffing and maintenance windows get chosen;
    * the peak flag is the one cell you never deploy during.
    *
    * ## 100 TB notes
    * One map-side-combined aggregate on a 168-cell key; the share and
    * peak windows run over those 168 rows. Scan-bound.
    */
  val q254ActivityHeatmap: Q = Q(
    "q254_activity_heatmap",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val cells = ev.select(
          pmod(expr("(ts div 1000) div 86400000000") + 4, lit(7)).as("dow"),
          expr("((ts div 1000) div 3600000000) % 24").as("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
      val wAll = Window.partitionBy(lit(1))
      cells
        .withColumn("total", sum(col("n_events")).over(wAll))
        .withColumn("rn", row_number().over(Window.orderBy(
          col("n_events").desc, col("dow").asc, col("hour").asc)))
        .select(col("dow"), col("hour"), col("n_events"),
          (col("n_events").cast("double") / col("total").cast("double"))
            .as("share"),
          (col("rn") === 1).as("is_peak"))
        .orderBy(col("dow"), col("hour"))
    },
    Some(s"""WITH c AS (SELECT
                (${duckUs("ts")} // 86400000000 + 4) % 7 AS dow,
                (${duckUs("ts")} // 3600000000) % 24 AS hour,
                count(*) AS n_events
              FROM events GROUP BY 1, 2)
             SELECT dow, hour, n_events,
               CAST(n_events AS DOUBLE)
                 / CAST(sum(n_events) OVER () AS DOUBLE) AS share,
               row_number() OVER (ORDER BY n_events DESC, dow ASC,
                 hour ASC) = 1 AS is_peak
             FROM c ORDER BY dow, hour"""))

  /** All-time record purchases — the "biggest order ever" tracker every
    * revenue dashboard alerts on: purchases whose cent value STRICTLY
    * exceeds every earlier purchase in event-time order (ties are not
    * records), each with the record it broke. Expected output is tiny
    * (~ln n records under exchangeable values) but the comparison frame
    * is the WHOLE history — the classic global-order running max.
    *
    * ## 100 TB notes
    * The prior-record line is [[graft.engine.Cumulative.runningMax]]
    * with the EXCLUSIVE frame — the two-phase range-partitioned
    * regrouping of `max() OVER (ORDER BY ... AND 1 PRECEDING)` (max is
    * associative; the first range's offset is NULL and `greatest`
    * skips it) — so no single-partition window exists even though the
    * semantics are a global scan. One corpus pass + the record filter;
    * cents are exact int64.
    */
  val q264RecordHighs: Q = Q(
    "q264_record_highs",
    (s, dir) => {
      val pur = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), tsUs.as("ts_us"),
          floor(col("value") * 100).cast("long").as("cents"))
      graft.engine.Cumulative
        .runningMax(pur, Seq(col("ts_us").asc, col("event_id").asc),
          col("cents"), cumName = "prev_record", inclusive = false)
        .filter(col("prev_record").isNull ||
          col("cents") > col("prev_record"))
        .select(col("ts_us"), col("event_id"), col("cents"),
          col("prev_record"))
        .orderBy("ts_us", "event_id")
    },
    Some(s"""WITH p AS (SELECT event_id, ${duckUs("ts")} AS ts_us,
                    CAST(floor(value * 100) AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase'),
             r AS (SELECT ts_us, event_id, cents,
                     max(cents) OVER (ORDER BY ts_us ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_record
                   FROM p)
             SELECT ts_us, event_id, cents, prev_record
             FROM r WHERE prev_record IS NULL OR cents > prev_record
             ORDER BY ts_us, event_id"""))
}
