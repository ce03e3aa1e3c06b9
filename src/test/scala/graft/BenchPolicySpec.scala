package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the bench delivery policy.
  *
  *  - the streaming tag drives cold-only timing in [[Bench]]; a new
  *    `readStream` query registered without the tag would be timed with
  *    a warm pass that re-pays state-store provisioning, so the tagged
  *    set is pinned here and any drift fails the build;
  *  - the summary line's echo maps and `total_cold_min`;
  *  - `scripts/benchguard.py --selftest` (the budget guard's own cases)
  *    must exit 0.
  */
class BenchPolicySpec extends AnyFunSuite with Matchers {

  private val expectedStreaming = Set(
    "q64_stream_hourly", "q66_stream_dedup", "q75_stream_sessions",
    "q76_stream_late_drop", "q78_stream_interval_join",
    "q83_stream_static_enrich", "q84_foreachbatch_upsert",
    "q107_stream_outer_join", "q119_stream_running_totals",
    "q265_stream_tws_totals", "q266_stream_tws_sessions",
    "q275_stream_tws_topk", "q276_stream_tws_typecounts",
    "q284_stream_incremental_gold", "q293_manifest_changefeed",
    "q294_manifest_feed_resume")

  test("streaming-tagged queries are exactly the Structured Streaming runs") {
    val tagged = Catalog.all.filter(_.streaming).map(_.name).toSet
    assert(tagged == expectedStreaming,
      s"streaming tag drifted: extra=${tagged -- expectedStreaming}, " +
        s"missing=${expectedStreaming -- tagged} — if a new readStream " +
        "query was added, set `streaming = true` on its Q AND list it here")
  }

  test("every catalog name is unique (bench/verify key into maps by name)") {
    val names = Catalog.all.map(_.name)
    names.distinct.size shouldBe names.size
  }

  test("the semantically-empty allowlist is exactly the two declared " +
      "queries (check.py's zero-row non-degeneracy gate reads it)") {
    // q09: the anti-join is legitimately empty at the small verified
    // SFs (sf0.001/sf0.01; at sf0.1 it returns 1 row — emptiness is
    // scale-dependent, not a fixture invariant, r19 ADVICE); q193: no
    // two generated docs share a token multiset at those SFs. ANY
    // other query returning 0 rows at a verified SF is a degeneracy
    // the oracle cannot see (same SQL, same data — SURVEY §7.10's
    // empty-graph lesson), so growth of this set needs the same
    // scrutiny as a new query
    Catalog.emptyOkNames shouldBe Set("q09_anti_join",
      "q193_tokenset_dedup")
  }

  // ---- round-17 summary echo (VERDICT r16 ask #1a) ----

  test("echoCohorts gives every warm_echo row its own cold as a " +
      "[warm, cold] pair (r18: the trim dropped union-extra colds)") {
    // a heavy streaming query occupies a global top-K slot, pushing the
    // lightest warm-cohort member out of the global top-K: its cold
    // must still travel — now INSIDE the pair, where no trim of the
    // other map can detach it (rounds ≤18 unioned it into top_cold and
    // r18's 1,883/1,900-char line trimmed exactly those 7 extras away);
    // top_cold keeps only the NON-warm heavies (the pair already
    // carries the cold for warm names — a duplicate entry would spend
    // the budget the pair shape exists to save)
    val colds = Seq(("q_stream_heavy", 9.0), ("qa", 5.0), ("qb", 4.0),
      ("qc", 3.0), ("qd", 2.0))
    val warms = Map("qa" -> 4.0, "qb" -> 3.1, "qc" -> 2.4, "qd" -> 1.9)
    val (topCold, warmEcho) = Bench.echoCohorts(colds, warms, k = 4)
    topCold.map(_._1) shouldBe Seq("q_stream_heavy")
    warmEcho shouldBe Seq(("qa", 4.0, 5.0), ("qb", 3.1, 4.0),
      ("qc", 2.4, 3.0), ("qd", 1.9, 2.0))
    // both value-descending so the budget trim drops the lightest first
    topCold.map(_._2) shouldBe topCold.map(_._2).sorted.reverse
    warmEcho.map(_._2) shouldBe warmEcho.map(_._2).sorted.reverse
    // rows rank by max over their samples: an anomalous heavy WARM (the
    // r16 q79 shape) and a heavy COLD both outlive a trim against rows
    // light on both numbers — neither the run's heaviest cold nor a
    // warm anomaly can be dropped first
    val anom = Bench.echoCohorts(
      Seq(("q_warm_anom", 1.5), ("qa", 5.0), ("qz", 4.0)),
      Map("q_warm_anom" -> 11.0, "qa" -> 4.0, "qz" -> 0.2), k = 3)._2
    anom.map(_._1) shouldBe Seq("q_warm_anom", "qa", "qz")
  }

  test("renderEchoMaps renders both keys, 2-decimal, warm as [warm,cold] " +
      "pairs, and never exceeds its budget (drops lightest entries first)") {
    val tc = Seq(("q110_wedge", 6.312), ("q107_stream", 4.818))
    val we = Seq(("q110_wedge", 4.1, 6.312))
    val full = Bench.renderEchoMaps(tc, we, budget = 10000)
    full shouldBe
      """"top_cold":{"q110_wedge":6.31,"q107_stream":4.82},""" +
        """"warm_echo":{"q110_wedge":[4.10,6.31]}"""
    // squeezed: the LIGHTEST entries go first, keys always remain
    val squeezed = Bench.renderEchoMaps(tc, we, budget = full.length - 1)
    squeezed.length should be <= (full.length - 1)
    squeezed should include(""""top_cold":{""")
    squeezed should include(""""warm_echo":{""")
    squeezed should include("q110_wedge") // heaviest cold survives longest
    // starved budget: degrades to empty maps rather than a broken line
    Bench.renderEchoMaps(tc, we, budget = 0) shouldBe
      """"top_cold":{},"warm_echo":{}"""
  }

  test("the echo maps for the REAL catalog nearly fit the summary " +
      "budget: at most 2 lightest entries trimmed") {
    // worst realistic shape: every name at its true length, all K slots
    // filled. The rest of the summary (totals, counts, the write echo,
    // cpus, sf) measures ~340 chars, so nothing is trimmed; an 800-char
    // base keeps headroom and may trim only the LIGHTEST couple of
    // entries (see Bench.SummaryMaxChars)
    val colds = Catalog.all.map(q => (q.name, 10.0))
    val warms = colds.filterNot(c =>
      Catalog.all.find(_.name == c._1).exists(_.streaming))
      .sortBy { case (n, c) => (-c, n) }.take(20)
      .map { case (n, _) => n -> 9.99 }.toMap
    val (tc, we) = Bench.echoCohorts(colds, warms, k = 20)
    val entries = tc.size + we.size + 2
    Bench.renderEchoMaps(tc, we, Bench.SummaryMaxChars - 400)
      .count(_ == ':') shouldBe entries
    val baseOverhead = 800
    val rendered =
      Bench.renderEchoMaps(tc, we, Bench.SummaryMaxChars - baseOverhead)
    // at most the 2 lightest entries may be dropped
    rendered.count(_ == ':') should be >= (entries - 2)
    (rendered.length + baseOverhead) should be <= Bench.SummaryMaxChars
  }

  // ---- round-18 cold_min (VERDICT r17 ask #2) ----

  test("coldMinTotal takes the per-query min over the second samples") {
    val colds = Seq(("qa", 90.0), ("qb", 5.0), ("qc", 7.0))
    // qa's second sample recovered the clean cost (the r17 q174 case:
    // 90 s cold, 4.5 s warm); qb has no second sample; qc's second
    // sample ran WORSE (contention hit the re-run instead) — min keeps
    // whichever execution was clean
    Bench.coldMinTotal(colds,
      Map("qa" -> 4.5, "qc" -> 9.0)) shouldBe (4.5 + 5.0 + 7.0)
    Bench.coldMinTotal(Nil, Map("qa" -> 1.0)) shouldBe 0.0
  }

  test("bench-budget guard selftest passes") {
    import scala.sys.process._
    val out = new StringBuilder
    val rc = Seq("python3", "scripts/benchguard.py", "--selftest")
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(rc == 0, s"benchguard --selftest exited $rc:\n$out")
  }
}
