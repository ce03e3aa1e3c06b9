package graft

/** Benchmark main (driver contract): the full-suite `value` run.
  *
  *   scripts/run_bench.sh [queryName ...]
  *
  * Passes, in order:
  *  1. an un-timed warm-up: the flagship q01 plus the streaming staging,
  *     so neither lands in the first affected query's cold figure;
  *  2. the COLD pass over every catalog query (name order). Each query
  *     runs through a `noop`-format write, so the timed physical plan is
  *     the verified plan, including a final sort a bare `.count()` would
  *     let Catalyst delete. The cache is cleared after every query. A
  *     query that throws is reported with its error, never as a fast
  *     time. `value` is the sum of these colds;
  *  3. the WARM pass over the 20 heaviest errorless batch queries by this
  *     run's colds (codegen cached, cache cleared between). Streaming
  *     queries stay cold-only: a re-run re-pays state-store provisioning
  *     rather than measuring a cached data path;
  *  4. three write probes, one sample each: the S5 partitioned silver
  *     write, the S5b dynamic-partition overwrite and the S7 gold write,
  *     into a temp dir deleted afterwards. Skipped when iterating on a
  *     query filter.
  *
  * Every query, warm and write result is printed and flushed the moment
  * it finishes as a `{"progress":"query"|"warm"|"write",...}` JSONL line,
  * so a driver timeout still yields per-query data (the key is
  * `progress`, not `metric`, so a partial line never parses as the
  * total).
  *
  * The one `{"metric":"total",...}` summary line is printed last, twice
  * (the second copy after `spark.stop()`, so nothing can follow it). It
  * carries `value`, `total_warm`, `total_cold_min` (per query, the min of
  * its cold and warm), the counts, the budget-trimmed `top_cold` /
  * `warm_echo` attribution maps, the write echo, `cpus` and `sf`, and is
  * hard-capped at [[SummaryMaxChars]] so it survives the driver's
  * 2,000-char stdout tail whole.
  *
  * Performance claims are judged by `perfbench/` (interleaved A/B runs
  * with quartile spreads); this main measures the whole suite once.
  */
object Bench {
  /** Per-query min of the cold and, where the query was warmed, its warm
    * (the same plan re-executed): a one-pass host burst inflates only the
    * sample it hit.
    */
  private[graft] def coldMinTotal(colds: Seq[(String, Double)],
      warms: Map[String, Double]): Double =
    colds.map { case (n, c) => math.min(c, warms.getOrElse(n, c)) }.sum

  /** Hard character budget for the summary line: the driver keeps a
    * 2,000-char stdout tail and the line must survive it whole, or its
    * head is cut and the driver's parse comes back null. 1,900 leaves
    * room for the newline and driver-side off-by-ones.
    */
  private[graft] val SummaryMaxChars = 1900

  // Locale.ROOT: the default-locale formatter renders comma decimals on
  // e.g. de_DE JVMs, corrupting the JSON
  private[graft] def fmt2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Echo cohorts for the summary's attribution maps, so the driver
    * artifact alone names the heavy queries after its tail truncates the
    * per-query lines.
    *
    *  - `warm_echo`: every successful warm row, each carrying its own
    *    cold as a `[warm, cold]` pair, so no trim of the other map can
    *    detach a warm row from its cold;
    *  - `top_cold`: the `k` heaviest colds across all queries (streaming
    *    included), minus the names `warm_echo` already carries.
    *
    * Both are value-descending with a name tiebreak (warm rows by
    * `max(warm, cold)`), so the trim in [[renderEchoMaps]] drops the
    * least informative entries first.
    */
  private[graft] def echoCohorts(
      colds: Seq[(String, Double)],
      warms: Map[String, Double],
      k: Int): (Seq[(String, Double)], Seq[(String, Double, Double)]) = {
    val coldOf = colds.toMap
    // every warm name came from this run's cold ranking, so coldOf is
    // total over the warm cohort
    val warmEcho = warms.toSeq
      .map { case (n, w) => (n, w, coldOf(n)) }
      .sortBy { case (n, w, c) => (-math.max(w, c), n) }
    val top = colds.sortBy { case (n, c) => (-c, n) }.take(k)
      .filterNot { case (n, _) => warms.contains(n) }
    (top, warmEcho)
  }

  /** Renders `"top_cold":{...},"warm_echo":{...}` (2-decimal values,
    * warm entries as `[warm, cold]` pairs) in at most `budget` chars,
    * dropping the smallest entry from the longer map (ties: warm_echo)
    * until it fits. Both keys are always present, possibly empty.
    */
  private[graft] def renderEchoMaps(
      topCold: Seq[(String, Double)],
      warmEcho: Seq[(String, Double, Double)],
      budget: Int): String = {
    def render(tc: Seq[(String, Double)], we: Seq[(String, Double, Double)]) = {
      val tcm = tc.map { case (n, v) => s"${Jsons.quote(n)}:${fmt2(v)}" }
        .mkString(",")
      val wem = we.map { case (n, w, c) =>
        s"${Jsons.quote(n)}:[${fmt2(w)},${fmt2(c)}]" }.mkString(",")
      s""""top_cold":{$tcm},"warm_echo":{$wem}"""
    }
    var tc = topCold
    var we = warmEcho
    var out = render(tc, we)
    while (out.length > budget && (tc.nonEmpty || we.nonEmpty)) {
      if (we.length >= tc.length && we.nonEmpty) we = we.init
      else tc = tc.init
      out = render(tc, we)
    }
    out
  }

  private def errText(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").take(200)

  private def errField(err: Option[String]): String =
    err.fold("")(e => s""","err":${Jsons.quote(e)}""")

  private def emit(line: String): Unit = {
    println(line)
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional trailing args: query-name filters for local iteration
    // (the driver passes none and gets the full suite)
    val selected = Catalog.select(args.toSeq)
    val spark = graft.engine.Sessions.local("graft-bench")
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    try run(SparkEntry.queries("q01_gold_count")) catch { case _: Throwable => () }
    try graft.queries.EventQueries.prestage(spark, sfDir)
    catch { case _: Throwable => () }

    def timed(body: => Unit): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case e: Throwable => Some(errText(e)) }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      (sec, err)
    }

    val colds = selected.sortBy(_.name).map { q =>
        val (cold, err) = timed(run(q.fn))
        emit(s"""{"progress":"query","name":${Jsons.quote(q.name)},"cold":$cold,"streaming":${q.streaming}${errField(err)}}""")
        (q, cold, err)
      }

    val WarmK = 20
    val warms: Map[String, Double] = colds
      .filter { case (q, _, err) => !q.streaming && err.isEmpty }
      .sortBy { case (_, cold, _) => -cold }
      .take(WarmK)
      .flatMap { case (q, _, _) =>
        val (t, err) = timed(run(q.fn))
        emit(s"""{"progress":"warm","name":${Jsons.quote(q.name)},"warm":$t${errField(err)}}""")
        // a pass that threw measured time-to-failure, not the data path
        if (err.isEmpty) Some(q.name -> t) else None
      }.toMap

    // (name, seconds); None when the write threw (time-to-failure is not
    // an IO measurement)
    val writes: Seq[(String, Option[Double])] = if (args.nonEmpty) Nil else {
      import org.apache.spark.sql.functions.col
      import graft.engine.Sinks
      val tmp = java.nio.file.Files.createTempDirectory("graft-writebench")
      try {
        val gold = SparkEntry.queries("q01_gold_count")(spark, sfDir)
        val lineitem = graft.engine.Tables.load(spark, sfDir, "lineitem")
        Seq[(String, () => Unit)](
          "write_s5_silver_partitioned" -> (() => Sinks.writePartitionedParquet(
            lineitem, s"$tmp/silver_li", Seq("l_returnflag"))),
          // rewrite ONE partition slice in place; siblings must survive
          "write_s5b_dynamic_overwrite" -> (() => Sinks.overwritePartitionsDynamic(
            lineitem.filter(col("l_returnflag") === "R"),
            s"$tmp/silver_li", Seq("l_returnflag"))),
          "write_s7_gold" -> (() => Sinks.writeParquet(gold, s"$tmp/gold"))
        ).map { case (name, body) =>
          val (sec, err) = timed(body())
          emit(s"""{"progress":"write","name":${Jsons.quote(name)},"sec":$sec${errField(err)}}""")
          name -> (if (err.isEmpty) Some(sec) else None)
        }
      } finally graft.engine.Fs.deleteRecursivelyQuietly(tmp)
    }

    val coldRows = colds.map { case (q, c, _) => (q.name, c) }
    val total = coldRows.map(_._2).sum
    val writeNames = writes.map { case (n, _) => Jsons.quote(n) }.mkString(",")
    val writeSecs = writes.map(_._2.fold("null")(fmt2)).mkString(",")
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","total_warm":${warms.values.sum},"total_cold_min":${fmt2(coldMinTotal(coldRows, warms))},"n_warm":${warms.size},"n_queries":${colds.size},"n_errors":${colds.count(_._3.isDefined)},"""
    val rest =
      s""""write_names":[$writeNames],"write_secs":[$writeSecs],"cpus":${Runtime.getRuntime.availableProcessors()},"sf":${Jsons.quote(sfDir)}}"""
    val (topCold, warmEcho) = echoCohorts(coldRows, warms, WarmK)
    val summary = head +
      renderEchoMaps(topCold, warmEcho, SummaryMaxChars - head.length - rest.length - 1) +
      "," + rest
    emit(summary)
    spark.stop()
    emit(summary)
  }
}
