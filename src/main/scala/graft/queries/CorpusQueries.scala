package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.Tables
import graft.engine.ext.Text

/** Corpus-preparation operators a training-data pipeline needs beyond
  * filtering and dedup: context-window chunking, subword-merge statistics,
  * rarity scoring against the corpus unigram model, and collocation
  * mining. (The reference — a brewery medallion pipeline,
  * `dags/dag-brewery_pipeline.py` — has no text surface at all; this
  * module extends SURVEY.md §2's LLM-pipeline families.)
  *
  * Scale design notes (100 TB):
  *  - chunking (q88) is a map-only 1→many explosion: the chunk index set
  *    is computed per row from `n_chars`, no shuffle before the final
  *    oracle-mandated sort;
  *  - pair/unigram statistics (q91–q93) are explode → partial-agg
  *    group-bys: the exploded token stream never shuffles raw — map-side
  *    combine reduces it to one row per distinct key per partition;
  *  - the corpus VOCABULARY grows sublinearly with corpus size (Heaps'
  *    law), so the vocabulary-sized tables (cf/rarity in q92, unigram
  *    counts in q93) are broadcast back to the token/bigram stream the
  *    same way q63 broadcasts its boilerplate set — the token-side
  *    stream is never shuffled on the token key;
  *  - all scores are exact-integer arithmetic with a single final double
  *    op tree (Catalog determinism contract): integer `div` rarity,
  *    integer lift numerator/denominator, one IEEE division at the end.
  */
object CorpusQueries {

  private val DuckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '')"

  /** Context-window chunking with overlap: width 120 chars, stride 90
    * (30-char overlap) — the fixed-window document splitter that feeds
    * embedding/context-window pipelines. One output row per chunk with
    * its exact bounds and content digest (md5, comparator contract —
    * binary/raw text stays out of the output).
    */
  val q88ChunkOverlap: Q = Q(
    "q88_chunk_overlap",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs
        .filter(col("n_chars") >= 1)
        // chunk index set derived from n_chars alone: ceil-division via
        // (n-1) div stride, always >= 0 here so engine floor/truncate
        // integer-division differences cannot bite
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0L, (n_chars - 1) div 90)")).as("ci"))
        .select(col("doc_id"), col("ci").as("chunk_idx"),
          (col("ci") * 90 + 1).as("chunk_start"),
          expr("substring(text, CAST(ci * 90 + 1 AS INT), 120)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          length(col("chunk")).cast("bigint").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH d AS (SELECT doc_id, text, n_chars FROM documents
                       WHERE n_chars >= 1),
            i AS (SELECT doc_id, text,
                    unnest(generate_series(0, (n_chars - 1) // 90)) AS ci
                  FROM d),
            c AS (SELECT doc_id, ci,
                    substring(text, CAST(ci * 90 + 1 AS INT), 120) AS chunk
                  FROM i)
            SELECT doc_id, ci AS chunk_idx, ci * 90 + 1 AS chunk_start,
              length(chunk) AS chunk_len, md5(chunk) AS chunk_md5
            FROM c ORDER BY doc_id, chunk_idx"""))

  /** BPE-style merge statistics: frequency of adjacent character pairs
    * inside tokens — the candidate table the first byte-pair-encoding
    * merge step ranks. Top 20 pairs, count-desc with a total tie-break.
    */
  val q91BpePairs: Q = Q(
    "q91_bpe_pairs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs
        .select(explode(Text.regexTokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(col("tok"),
          explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
        .select(expr("substring(tok, i, 2)").as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    },
    Some(s"""WITH tok AS (SELECT unnest($DuckToks) AS tok FROM documents),
             t2 AS (SELECT tok FROM tok WHERE length(tok) >= 2),
             p AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair
                   FROM (SELECT tok,
                           unnest(generate_series(1, length(tok) - 1)) AS i
                         FROM t2))
             SELECT pair, count(*) AS cnt FROM p
             GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20"""))

  /** Rarity scoring against the corpus unigram model: each token's
    * rarity is `n_total div cf(tok)` (EXACT integer division — the
    * order-independent stand-in for -log p that keeps the per-doc sum
    * bit-stable under any partitioning); a doc's score is one final
    * double division of that sum by its token count. High score = rare
    * vocabulary — the cheap "surprisal" signal quality filters threshold.
    */
  val q92UnigramRarity: Q = Q(
    "q92_unigram_rarity",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(Text.regexTokens(col("text"))).as("tok"))
      val cf = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      val tot = toks.agg(count(lit(1)).as("n_total")) // 1 row
      // vocabulary ~ Heaps' law: sublinear in corpus size, broadcast-safe
      // at 100 TB the same way q63's boilerplate set is
      val rar = cf.crossJoin(broadcast(tot))
        .select(col("tok"), expr("n_total div cf").as("rar"))
      toks.join(broadcast(rar), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("rar").as("rarity_sum"))
        .select(col("doc_id"), col("n_tokens"), col("rarity_sum"),
          (col("rarity_sum").cast("double") / col("n_tokens")).as("rarity"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS tok
                           FROM documents),
             cf AS (SELECT tok, count(*) AS cf FROM toks GROUP BY tok),
             tot AS (SELECT count(*) AS n_total FROM toks),
             rar AS (SELECT tok, n_total // cf AS rar
                     FROM cf CROSS JOIN tot)
             SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(rar) AS BIGINT) AS rarity_sum,
               CAST(sum(rar) AS DOUBLE) / count(*) AS rarity
             FROM toks JOIN rar USING (tok)
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Collocation mining: pointwise lift of adjacent word pairs,
    * `lift = n_bigrams * c(x,y) / (c(x) * c(y))` — > 1 means the pair
    * co-occurs more than independence predicts (the PMI argument without
    * the engine-dependent log). Numerator and denominator are EXACT
    * bigint products; the division is the single double op. The support
    * floor is corpus-relative (`c_xy * 5000 >= n_bigrams`) so the query
    * means the same thing at any scale.
    */
  val q93BigramLift: Q = Q(
    "q93_bigram_lift",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val arr = docs.select(Text.regexTokens(col("text")).as("t"))
      val big = arr
        .filter(size(col("t")) >= 2)
        .select(col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(expr("element_at(t, i)").as("x"),
          expr("element_at(t, i + 1)").as("y"))
      val cxy = big.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val uni = arr.select(explode(col("t")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val nb = big.agg(count(lit(1)).as("n_big")) // 1 row
      cxy
        .join(broadcast(uni.select(col("tok").as("x"), col("c").as("c_x"))),
          "x")
        .join(broadcast(uni.select(col("tok").as("y"), col("c").as("c_y"))),
          "y")
        .crossJoin(broadcast(nb))
        .filter(col("c_xy") * 5000 >= col("n_big"))
        .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
          ((col("n_big") * col("c_xy")).cast("double") /
            (col("c_x") * col("c_y")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("x").asc, col("y").asc)
        .limit(20)
    },
    Some(s"""WITH d AS (SELECT $DuckToks AS t FROM documents),
             big AS (SELECT t[i] AS x, t[i + 1] AS y
                     FROM (SELECT t,
                             unnest(generate_series(1, len(t) - 1)) AS i
                           FROM d WHERE len(t) >= 2)),
             cxy AS (SELECT x, y, count(*) AS c_xy FROM big GROUP BY x, y),
             uni AS (SELECT unnest(t) AS tok FROM d),
             cu AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
             nb AS (SELECT count(*) AS n_big FROM big)
             SELECT x, y, c_xy, cx.c AS c_x, cy.c AS c_y,
               CAST(n_big * c_xy AS DOUBLE) /
                 CAST(cx.c * cy.c AS DOUBLE) AS lift
             FROM cxy JOIN cu cx ON x = cx.tok
             JOIN cu cy ON y = cy.tok CROSS JOIN nb
             WHERE c_xy * 5000 >= n_big
             ORDER BY lift DESC, x ASC, y ASC LIMIT 20"""))

  /** Content-defined chunking (CDC): a chunk boundary falls AFTER any
    * token whose portable 32-bit hash is ≡ 0 (mod 16) — so an insertion
    * early in a document shifts only the chunk it lands in, not every
    * later boundary (the property fixed-stride q88 lacks, and the reason
    * dedup systems chunk this way). Expected chunk length is the modulus
    * (16 tokens).
    *
    * Shape at scale: posexplode is partition-local; the only exchange is
    * the per-doc window cumsum that numbers chunks (shuffle on doc_id,
    * state = one running count), then a partial-agg group-by on
    * (doc_id, chunk_id) riding the same partitioning.
    */
  val q94CdcChunks: Q = Q(
    "q94_cdc_chunks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tk = TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), col("pos"), col("tok"))
      val flagged = tk.select(col("doc_id"), col("pos"),
        when(pmod(Text.hash32(col("tok")), lit(16)) === 0, 1)
          .otherwise(0).as("b"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      flagged
        .select(col("doc_id"), col("pos"),
          coalesce(sum(col("b")).over(w), lit(0L)).as("chunk_id"))
        .groupBy("doc_id", "chunk_id")
        .agg(min("pos").as("start_pos"), count(lit(1)).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH tk AS (SELECT doc_id, u.pos AS pos, u.tok AS tok
                        FROM (SELECT doc_id,
                                unnest(list_transform(range(0, len(toks)),
                                  i -> struct_pack(pos := i,
                                                   tok := toks[i + 1]))) AS u
                              FROM (SELECT doc_id,
                                      string_split(text, ' ') AS toks
                                    FROM documents))),
            fl AS (SELECT doc_id, pos,
                     CASE WHEN ('0x' || substring(md5(tok), 1, 8))::BIGINT
                            % 16 = 0 THEN 1 ELSE 0 END AS b
                   FROM tk),
            ch AS (SELECT doc_id, pos,
                     CAST(coalesce(sum(b) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
                   FROM fl)
            SELECT doc_id, chunk_id, min(pos) AS start_pos,
              count(*) AS n_tokens
            FROM ch GROUP BY doc_id, chunk_id
            ORDER BY doc_id, chunk_id"""))

  /** Per-source quantile normalization of the shared quality score
    * (TextQueries.qualityScoreCol — the exact column q21/q82 emit):
    * the per-source percent rank maps raw scores onto [0,1], the
    * rank-based calibration that makes cross-source thresholds
    * comparable when sources have different score distributions. The
    * rank order is (score, doc_id) — total, so the rational
    * `(rank-1)/(n-1)` is engine-independent.
    *
    * ## 100 TB notes
    * Round 20: `percent_rank() OVER (PARTITION BY source ...)` would
    * shuffle EVERY document into |sources| window partitions — each a
    * single-task sort of billions of rows (the collapsed-window class
    * the GlobalWindowPolicySpec gate flags). The per-source rank now
    * comes from [[graft.engine.Cumulative.groupedRankedCumSums]] —
    * range-partitioned per-(partition, source) cell windows plus a
    * broadcast per-source offset — and the percent is the same
    * `(rank-1)/(n-1)` division of exact integers, so the result is
    * row-identical to the window form at any partitioning. Round 21:
    * the per-source doc count rides the helper's `totalName` (computed
    * from its bounded cell table), so the old full-data re-aggregate +
    * join-back over the ranked output is gone — the ranked table is
    * consumed exactly once (VERDICT r20 #2).
    */
  val q96QuantileNorm: Q = Q(
    "q96_quantile_norm",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val scored = docs
        .select(col("doc_id"), col("source"),
          TextQueries.qualityScoreCol.as("score"))
      graft.engine.Cumulative.groupedRankedCumSums(
        scored, Seq(col("source")),
        Seq(col("score").asc, col("doc_id").asc), rkName = "rk_s",
        totalName = Some("n_src"))
        .select(col("doc_id"), col("source"), col("score"),
          when(col("n_src") === 1L, lit(0.0))
            .otherwise((col("rk_s") - 1L).cast("double") /
              (col("n_src") - 1L).cast("double")).as("pct"))
        .orderBy("source", "doc_id")
    },
    Some(s"""SELECT doc_id, source, score,
               percent_rank() OVER (PARTITION BY source
                 ORDER BY score, doc_id) AS pct
             FROM (SELECT doc_id, source,
                     ${TextQueries.duckScore} AS score
                   FROM documents)
             ORDER BY source, doc_id"""))

  /** Temperature-scaled mixture allocation: sampling weights ∝ sqrt of
    * each source's doc count (alpha = 0.5 — the standard flattening that
    * up-samples small sources), then a 10k-doc budget split
    * proportionally. INTEGER arithmetic throughout: `floor(sqrt(n))` is
    * exact for n < 2^52 because IEEE sqrt is correctly rounded, and the
    * allocation is one integer multiply-divide — no double sum anywhere,
    * so the result is bit-stable at any scale and partitioning.
    */
  val q97MixtureWeights: Q = Q(
    "q97_mixture_weights",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val perSrc = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          floor(sqrt(col("n_docs").cast("double"))).cast("bigint"))
      val tot = perSrc.agg(sum("w").as("w_total")) // 1 row
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("w"),
          expr("(10000 * w) div w_total").as("alloc"))
        .orderBy("source")
    },
    Some("""WITH s AS (SELECT source, count(*) AS n_docs,
                         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                           AS BIGINT) AS w
                       FROM documents GROUP BY source),
            t AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM s)
            SELECT source, n_docs, w,
              CAST((10000 * w) // w_total AS BIGINT) AS alloc
            FROM s CROSS JOIN t ORDER BY source"""))

  /** Probability-proportional-to-size systematic sampling over the
    * corpus: a document whose weight interval `(start, cum]` in the
    * global cumulative-weight line crosses a multiple of
    * `stride = total div k` is selected (`n_hits` times if its weight
    * spans several multiples — the classic PPS weight-capping signal).
    * Pure integer arithmetic end to end, so both engines pick the
    * identical sample.
    *
    * ## 100 TB notes
    * The global prefix sum is [[graft.engine.Cumulative.rankedCumSum]]
    * — range-repartitioned per-partition running sums plus a broadcast
    * offset table — because a single-partition global window is the
    * canonical scale-killer. The oracle computes the SAME numbers with
    * one flat window (two-phase prefix summation is exactly associative
    * regrouping of integer addition — identical values, proven by the
    * hash match).
    */
  val q125PpsSample: Q = Q(
    "q125_pps_sample",
    (s, dir) => {
      val k = 20L
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("w"))
      val cum = graft.engine.Cumulative
        .rankedCumSum(docs, Seq(col("doc_id").asc), col("w"),
          rkName = "__rk")
      val total = docs.agg(sum(col("w")).as("tw")) // 1 row
      cum.crossJoin(broadcast(total))
        .select(col("doc_id"), col("w"), col("cum"),
          expr(s"tw div $k").as("stride"))
        // multiples of stride inside (cum - w, cum] — integer div only
        .select(col("doc_id"), col("w"),
          (expr("cum div stride") - expr("(cum - w) div stride"))
            .as("n_hits"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, n_chars AS w FROM documents),
            c AS (SELECT doc_id, w,
                    sum(w) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum,
                    (SELECT sum(w) FROM d) // 20 AS stride
                  FROM d)
            SELECT doc_id, w,
              CAST(cum // stride - (cum - w) // stride AS BIGINT) AS n_hits
            FROM c WHERE cum // stride - (cum - w) // stride > 0
            ORDER BY doc_id"""))

  /** Inverted-index posting-list construction — the physical structure
    * behind BM25/tf-idf serving (q162/q45 score WITH an index; this
    * query BUILDS one): per token, the document frequency and the first
    * 10 postings (doc_ids ascending), for the 20 highest-df tokens.
    * Postings are emitted as a comma-joined string: a canonical scalar
    * encoding both engines produce byte-identically (array columns
    * would ride on arrow list-type naming differences in the compare).
    *
    * Scale shape: one explode + distinct-pair aggregate (the same
    * (doc, tok) relation the tf-idf family shares), then a per-token
    * agg whose state is CAPPED — count + a 10-element sorted prefix —
    * so no posting list ever materializes unbounded; top-20 is
    * TakeOrderedAndProject. A full index build replaces the cap with a
    * partitioned sink; the per-token shape is identical.
    */
  val q169PostingLists: Q = Q(
    "q169_posting_lists",
    (s, dir) => {
      val pairs = TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), col("tok"))
        .distinct()
      pairs.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(
              slice(sort_array(collect_list(col("doc_id"))), 1, 10),
              _.cast("string"))).as("postings"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(20)
    },
    Some("""WITH pairs AS (SELECT DISTINCT doc_id,
                unnest(string_split(text, ' ')) AS tok
              FROM documents)
            SELECT tok, count(*) AS df,
              array_to_string(list_transform(
                list_slice(list(doc_id ORDER BY doc_id), 1, 10),
                x -> CAST(x AS VARCHAR)), ',') AS postings
            FROM pairs GROUP BY tok
            ORDER BY df DESC, tok ASC LIMIT 20"""))

  /** Token burstiness (Church–Gale) — cf/df, the mean within-document
    * repetition of a term among documents that contain it at all.
    * Content words "burst" (a doc about a topic repeats its terms);
    * function words spread evenly (cf/df ≈ corpus-wide average rate) —
    * the signal behind keyword extraction and stop-list induction,
    * complementary to q92's corpus-frequency rarity. Exact rational:
    * one double division of two exact counts per token; df >= 5 bounds
    * the denominator so hapax noise never tops the ranking.
    *
    * Scale shape: one explode + (tok, doc) aggregate with map-side
    * partials, then a per-token rollup; top-20 is
    * TakeOrderedAndProject. No joins.
    */
  val q173Burstiness: Q = Q(
    "q173_burstiness",
    (s, dir) => {
      TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), col("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("tok"))
        .agg(sum(col("tf")).cast("long").as("cf"),
          count(lit(1)).as("df"))
        .filter(col("df") >= 5)
        .select(col("tok"), col("cf"), col("df"),
          (col("cf").cast("double") / col("df").cast("double")).as("burst"))
        .orderBy(col("burst").desc, col("tok").asc)
        .limit(20)
    },
    Some("""WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents) GROUP BY doc_id, tok)
            SELECT tok, CAST(sum(tf) AS BIGINT) AS cf, count(*) AS df,
              CAST(sum(tf) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS burst
            FROM tf GROUP BY tok HAVING count(*) >= 5
            ORDER BY burst DESC, tok ASC LIMIT 20"""))

  /** Positional phrase search — the retrieval operation q169's
    * document-level postings cannot answer: "the tokens are adjacent
    * AND in order", resolved by intersecting POSITIONAL posting lists
    * (term_a at position i, term_b at i+1, equi-join on (doc, i+1)).
    * The phrase itself is chosen from the data (the corpus's most
    * frequent adjacent bigram, ties broken lexicographically) so the
    * query is self-contained at any SF; output is the phrase, its
    * occurrence count and the matching docs (top-10 by hits) — the
    * shape a phrase-scoring retrieval stage consumes.
    *
    * ## 100 TB notes
    * The positional index is one posexplode projection (map-only); the
    * adjacency resolution is an equi-join of two single-term posting
    * streams on (doc_id, position) — each side is first FILTERED to its
    * term by a 1-row broadcast, so the join carries only the two terms'
    * postings, never the full index. Same plan a real inverted index
    * executes: seek two postings, merge on position.
    */
  val q191PhraseSearch: Q = Q(
    "q191_phrase_search",
    (s, dir) => {
      val pos = TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), col("pos").as("i"), col("tok"))
      val next = pos.select(col("doc_id"), (col("i") - 1).as("i"),
        col("tok").as("tok_b"))
      val big = pos.join(next, Seq("doc_id", "i"))
      val top = big.groupBy(col("tok").as("pa"), col("tok_b").as("pb"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pa").asc, col("pb").asc)
        .limit(1)
      big.join(broadcast(top),
          col("tok") === col("pa") && col("tok_b") === col("pb"))
        .groupBy(col("doc_id"), col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_hits"), min(col("i")).as("first_pos"))
        .select(concat(col("pa"), lit(" "), col("pb")).as("phrase"),
          col("doc_id"), col("n_hits"), col("first_pos"))
        .orderBy(col("n_hits").desc, col("doc_id").asc)
        .limit(10)
    },
    Some("""WITH pos AS (SELECT doc_id, i - 1 AS i, tok
              FROM (SELECT doc_id,
                      unnest(string_split(text, ' ')) AS tok,
                      generate_subscripts(string_split(text, ' '), 1) AS i
                    FROM documents)),
            nxt AS (SELECT doc_id, i - 1 AS i, tok AS tok_b FROM pos),
            big AS (SELECT pos.doc_id, pos.i, pos.tok, nxt.tok_b
                    FROM pos JOIN nxt
                      ON pos.doc_id = nxt.doc_id AND pos.i = nxt.i),
            top AS (SELECT tok AS pa, tok_b AS pb, count(*) AS c
                    FROM big GROUP BY 1, 2
                    ORDER BY c DESC, pa ASC, pb ASC LIMIT 1)
            SELECT pa || ' ' || pb AS phrase, doc_id,
              count(*) AS n_hits, CAST(min(i) AS INT) AS first_pos
            FROM big JOIN top ON big.tok = top.pa AND big.tok_b = top.pb
            GROUP BY 1, doc_id
            ORDER BY n_hits DESC, doc_id ASC LIMIT 10"""))

  /** IDF drift between corpus snapshots — which terms' document
    * frequencies moved most between two crawls? The fixture has no
    * crawl timestamps, so the two "snapshots" are the doc_id parity
    * classes (documented model, like q121's derived versions); the
    * DRIFT MACHINERY is the operator: per token, df in each snapshot,
    * and the SYMMETRIC fold ratio max(df2*n1/(df1*n2), df1*n2/(df2*n1))
    * computed by exact integer cross-multiplication in ppm — no
    * logarithm, no float ratio, identical ranking on any engine. Terms
    * must clear df >= 5 in BOTH snapshots (hapax noise never tops the
    * list); top-15 movers, ties by token. A real ingestion pipeline
    * runs exactly this against last month's vocabulary before
    * retraining a tokenizer.
    *
    * ## 100 TB notes
    * One explode -> (token, snapshot) distinct -> vocabulary-sized
    * aggregate (Heaps-law bounded); the ratio ranking is
    * TakeOrderedAndProject over that vocabulary table. No joins wider
    * than the vocabulary.
    */
  val q205IdfDrift: Q = Q(
    "q205_idf_drift",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(2L)).as("epoch"),
          explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      val df = docs.groupBy(col("tok"))
        .agg(count(when(col("epoch") === 0, 1)).as("df1"),
          count(when(col("epoch") === 1, 1)).as("df2"))
        .filter(col("df1") >= 5 && col("df2") >= 5)
      val totals = Tables.load(s, dir, "documents")
        .agg(count(when(pmod(col("doc_id"), lit(2L)) === 0, 1)).as("n1"),
          count(when(pmod(col("doc_id"), lit(2L)) === 1, 1)).as("n2"))
      df.crossJoin(broadcast(totals))
        .select(col("tok"), col("df1"), col("df2"),
          greatest(expr("df2 * n1 * 1000000 div (df1 * n2)"),
            expr("df1 * n2 * 1000000 div (df2 * n1)")).as("drift_ppm"))
        .orderBy(col("drift_ppm").desc, col("tok").asc)
        .limit(15)
    },
    Some("""WITH ex AS (SELECT doc_id, doc_id % 2 AS epoch,
                unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents),
            df AS (SELECT tok,
                count(CASE WHEN epoch = 0 THEN 1 END) AS df1,
                count(CASE WHEN epoch = 1 THEN 1 END) AS df2
              FROM ex GROUP BY tok
              HAVING count(CASE WHEN epoch = 0 THEN 1 END) >= 5
                AND count(CASE WHEN epoch = 1 THEN 1 END) >= 5),
            t AS (SELECT
                count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n1,
                count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n2
              FROM documents)
            SELECT tok, df1, df2,
              greatest(df2 * n1 * 1000000 // (df1 * n2),
                df1 * n2 * 1000000 // (df2 * n1)) AS drift_ppm
            FROM df, t
            ORDER BY drift_ppm DESC, tok ASC LIMIT 15"""))

  /** Per-source hapax profile — the share of each source's vocabulary
    * that occurs exactly ONCE. High hapax share is the classic tell of
    * OCR noise, tokenizer damage, or un-deduplicated boilerplate being
    * the minority (healthy natural text runs ~40-60 %; near-0 means
    * heavy templating, near-1 means garbage) — the single-number check
    * corpus triage runs per source before any quality modeling. Type
    * and token counts ride along so the type-token ratio is readable
    * off the row.
    *
    * ## 100 TB notes
    * Explode -> (source, term) partial-agg group-by: map-side combine
    * collapses the token stream to per-partition distinct keys; the
    * second rollup to per-source is vocabulary-sized (Heaps-sublinear).
    * hapax_share is one double division of exact counts.
    */
  val q219HapaxProfile: Q = Q(
    "q219_hapax_profile",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tf = TextQueries.tokenTable(s, dir)
        .select(col("source"), col("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val perDoc = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
        .join(perDoc, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"),
          col("hapax"),
          (col("hapax").cast("double") / col("vocab").cast("double"))
            .as("hapax_share"))
        .orderBy(col("source"))
    },
    Some("""WITH tf AS (SELECT source, tok, count(*) AS cnt
              FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              GROUP BY source, tok),
            pd AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
            v AS (SELECT source, count(*) AS vocab,
                CAST(sum(cnt) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS hapax
              FROM tf GROUP BY source)
            SELECT v.source, n_docs, n_tokens, vocab, hapax,
              CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_share
            FROM v JOIN pd ON v.source = pd.source
            ORDER BY v.source"""))

  /** Proximity search — docs where the corpus's two most frequent terms
    * co-occur within a 5-token window, with the exact minimum gap. The
    * generalization of q191's adjacency (positional phrase search):
    * ranked retrieval scores "near" matches (NEAR/5 in classic IR
    * syntax), and the merge-scan here is the textbook way to answer it
    * WITHOUT the quadratic positions x positions join: per document,
    * both terms' positions interleave into one ordered stream, and a
    * single lag pass takes the min gap at every tag ALTERNATION — any
    * closer pair would have to be adjacent in the merged order, so the
    * scan is exact and linear in occurrences. Terms are chosen from
    * the data (count desc, term asc), so the query is self-contained
    * at any SF.
    *
    * ## 100 TB notes
    * The 2-row term table broadcasts into the exploded-positions
    * stream (a semi-join that prunes ~all tokens at the scan); the lag
    * window shuffles once on doc_id; everything after is per-doc
    * aggregation on that same exchange. Linear in matched positions,
    * never quadratic.
    */
  val q220ProximitySearch: Q = Q(
    "q220_proximity_search",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pos = TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), col("pos"), col("tok"))
      val top2 = pos.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(2)
        .select(col("tok"),
          row_number().over(Window.orderBy(col("cnt").desc,
            col("tok").asc)).cast("long").as("tag"))
      val tagged = pos.join(broadcast(top2), Seq("tok"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("pos").asc)
      val gaps = tagged
        .withColumn("prev_pos", lag(col("pos"), 1).over(w))
        .withColumn("prev_tag", lag(col("tag"), 1).over(w))
        .filter(col("prev_tag").isNotNull && col("prev_tag") =!= col("tag"))
        .select(col("doc_id"), (col("pos") - col("prev_pos")).as("gap"))
      val counts = tagged.groupBy(col("doc_id"))
        .agg(sum(when(col("tag") === 1, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("tag") === 2, 1L).otherwise(0L)).as("n_b"))
      gaps.groupBy(col("doc_id"))
        .agg(min(col("gap")).cast("long").as("min_gap"))
        .filter(col("min_gap") <= 5)
        .join(counts, Seq("doc_id"))
        .select(col("doc_id"), col("n_a"), col("n_b"), col("min_gap"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH p AS (SELECT doc_id,
                  generate_subscripts(string_split(text, ' '), 1) AS pos,
                  unnest(string_split(text, ' ')) AS tok
                FROM documents),
            t2 AS (SELECT tok,
                CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC)
                  AS BIGINT) AS tag
              FROM (SELECT tok, count(*) AS cnt FROM p GROUP BY tok)
              ORDER BY cnt DESC, tok ASC LIMIT 2),
            tg AS (SELECT doc_id, pos, tag FROM p JOIN t2 USING (tok)),
            g AS (SELECT doc_id, pos - prev_pos AS gap
                  FROM (SELECT doc_id, pos, tag,
                          lag(pos) OVER w AS prev_pos,
                          lag(tag) OVER w AS prev_tag
                        FROM tg
                        WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
                  WHERE prev_tag IS NOT NULL AND prev_tag != tag),
            c AS (SELECT doc_id,
                CAST(sum(CASE WHEN tag = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_a,
                CAST(sum(CASE WHEN tag = 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_b
              FROM tg GROUP BY doc_id),
            m AS (SELECT doc_id, CAST(min(gap) AS BIGINT) AS min_gap
                  FROM g GROUP BY doc_id)
            SELECT m.doc_id, n_a, n_b, min_gap
            FROM m JOIN c ON m.doc_id = c.doc_id
            WHERE min_gap <= 5 ORDER BY m.doc_id"""))

  /** Prefix-duplication curve — how much of the corpus is "same opening,
    * different tail"? For k in {1, 2, 3, 5, 8}, fingerprint every doc by
    * its first k tokens (md5 of the space-joined prefix; docs shorter
    * than k use the whole doc) and report: distinct prefixes, docs whose
    * prefix is shared with at least one other doc, the largest prefix
    * group, and the shared-prefix doc fraction. The curve's shape is the
    * boilerplate-opening signal (news wires, licence headers, template
    * intros) that full-text dedup (q23) and shingle near-dup (q24/q25)
    * both miss when tails diverge — and the k where the curve knees is
    * the right prefix length for a prefix-cache or template-stripping
    * pass. NULL text would fingerprint to one bogus NULL group (the q207
    * lesson), so it is filtered identically on both engines.
    *
    * ## 100 TB notes
    * One projection computes all five fingerprints per doc (a bounded
    * x5 literal explode — q177's pattern), then one shuffle on
    * (k, prefix-fp) with map-side partials and a 5-group rollup. No
    * joins, no windows; the prefix groups are the only state and each
    * is a count.
    */
  val q258PrefixDupCurve: Q = Q(
    "q258_prefix_dup_curve",
    (s, dir) => {
      val ks = Seq(1, 2, 3, 5, 8)
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(array(ks.map(k => lit(k)): _*)).as("k"),
          col("toks"))
        .select(col("k"),
          md5(array_join(slice(col("toks"), lit(1), col("k")), " "))
            .as("fp"))
      docs.groupBy(col("k"), col("fp"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("k"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_shared_docs"),
          max(col("c")).as("max_group"))
        .select(col("k").cast("long").as("k"), col("n_docs"),
          col("n_prefixes"), col("n_shared_docs"), col("max_group"),
          (col("n_shared_docs").cast("double") /
            col("n_docs").cast("double")).as("shared_frac"))
        .orderBy(col("k"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE text IS NOT NULL),
            f AS (SELECT k,
                md5(array_to_string(list_slice(toks, 1, k), ' ')) AS fp
              FROM d, unnest([1, 2, 3, 5, 8]) u(k)),
            g AS (SELECT k, fp, count(*) AS c FROM f GROUP BY k, fp)
            SELECT CAST(k AS BIGINT) AS k,
              CAST(sum(c) AS BIGINT) AS n_docs,
              count(*) AS n_prefixes,
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                AS n_shared_docs,
              CAST(max(c) AS BIGINT) AS max_group,
              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                / CAST(sum(c) AS DOUBLE) AS shared_frac
            FROM g GROUP BY k ORDER BY k"""))

  /** Context-window truncation-loss audit — before any packing (q62) or
    * budget split (q82) decision: if every document is clipped to a
    * C = 64 token context, what does each source lose? Per source:
    * docs, docs over budget, total tokens, tokens kept
    * (sum of min(n_tok, C)), and the exact truncation loss in ppm
    * (integer cross-division — no double rate). The per-source spread
    * is the decision input: a source losing 30 % of its tokens to
    * clipping needs chunking (q88) rather than truncation, while a
    * source under budget everywhere can skip the chunker entirely.
    *
    * ## 100 TB notes
    * One map-side token count per doc, one map-side-combined rollup on
    * the (small) source key. No joins, no windows, nothing bigger than
    * |sources| rows after the scan.
    */
  val q259TruncationLoss: Q = Q(
    "q259_truncation_loss",
    (s, dir) => {
      val c = 64L
      val docs = Tables.load(s, dir, "documents")
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_tok") > c, 1)).as("n_over"),
          sum(col("n_tok")).as("total_tokens"),
          sum(least(col("n_tok"), lit(c))).as("kept_tokens"))
        .select(col("source"), col("n_docs"), col("n_over"),
          col("total_tokens"), col("kept_tokens"),
          expr("(total_tokens - kept_tokens) * 1000000 div total_tokens")
            .as("loss_ppm"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (SELECT source,
                len(string_split(text, ' '))::BIGINT AS n_tok
              FROM documents)
            SELECT source, count(*) AS n_docs,
              count(CASE WHEN n_tok > 64 THEN 1 END) AS n_over,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(least(n_tok, 64)) AS BIGINT) AS kept_tokens,
              CAST(sum(n_tok) - sum(least(n_tok, 64)) AS BIGINT) * 1000000
                // CAST(sum(n_tok) AS BIGINT) AS loss_ppm
            FROM d GROUP BY source ORDER BY source"""))

  /** Length-bucket padding-waste table — the batching-policy audit for
    * both training packers and inference servers: documents are padded
    * to their power-of-two length bucket (16/32/64/128, the continuous
    * batching shape), and each bucket reports docs, real tokens, padded
    * tokens, and the exact padding waste in ppm. The per-bucket spread
    * is the knob decision: a bucket wasting 40 % wants a finer bucket
    * edge or packing (q62); near-zero waste means bucketed padding is
    * already cheap and packing complexity buys nothing. Complements
    * q259 (truncation LOSS under one hard cap) with the padding COST
    * side of the same layout decision.
    *
    * ## 100 TB notes
    * One map-side token count + CASE bucket per doc, one
    * map-side-combined rollup on a 4-value key. Nothing bigger than
    * |buckets| rows after the scan.
    */
  val q262PaddingWaste: Q = Q(
    "q262_padding_waste",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      val bucket = when(col("n_tok") <= 16, 16L)
        .when(col("n_tok") <= 32, 32L)
        .when(col("n_tok") <= 64, 64L)
        .when(col("n_tok") <= 128, 128L)
        .otherwise(256L)
      docs.select(bucket.as("bucket"), col("n_tok"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("real_tokens"))
        .select(col("bucket"), col("n_docs"), col("real_tokens"),
          (col("bucket") * col("n_docs")).as("padded_tokens"),
          expr("(bucket * n_docs - real_tokens) * 1000000 " +
            "div (bucket * n_docs)").as("waste_ppm"))
        .orderBy(col("bucket"))
    },
    Some("""WITH d AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tok
              FROM documents),
            b AS (SELECT CASE WHEN n_tok <= 16 THEN 16
                              WHEN n_tok <= 32 THEN 32
                              WHEN n_tok <= 64 THEN 64
                              WHEN n_tok <= 128 THEN 128
                              ELSE 256 END AS bucket, n_tok
                  FROM d)
            SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS real_tokens,
              CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
              (CAST(bucket * count(*) AS BIGINT)
                 - CAST(sum(n_tok) AS BIGINT)) * 1000000
                // CAST(bucket * count(*) AS BIGINT) AS waste_ppm
            FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Largest-remainder (Hamilton) apportionment of a training-token
    * budget across sources: allocate EXACTLY B = 1,000,000 budget
    * tokens proportionally to each source's corpus tokens, entirely in
    * integer arithmetic. `base = (w*B) div W` floors each share;
    * the `L = B - Σ base` leftover units (one per source at most,
    * L < #sources) go to the largest remainders `(w*B) % W`
    * (tie-break: source name asc). The allocation provably sums to B
    * — the invariant every "we trained on exactly N tokens from this
    * mix" claim needs — with no floating-point shares anywhere
    * (q97's mixture weights are the continuous analogue; this is the
    * integer-exact scheduler step downstream of it).
    *
    * The remainder RANK is computed by a triangular broadcast
    * self-join over the |sources|-sized table (count of strictly
    * larger remainders), not a global window — sources are a
    * dimension, so the join is a broadcast nested loop over a handful
    * of rows and no single-partition WindowExec exists in the plan.
    *
    * ## 100 TB notes
    * One explode-free token count (`size(split)`) with map-side
    * partials is the only full scan; everything after runs on
    * |sources| rows. `w * 1,000,000` needs headroom: at real scale
    * (w ~ 1e13 tokens) the product approaches int64's 9.2e18 cap, so
    * the production variant accumulates the product in decimal(38,0)
    * (exact scale-0 integers are sanctioned by the determinism
    * contract); the fixture stays far inside int64.
    */
  val q268TokenApportionment: Q = Q(
    "q268_token_apportionment",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bySrc = docs.groupBy(col("source"))
        .agg(sum(size(Text.tokens(col("text"))).cast("long")).as("w"))
      val tot = bySrc.agg(sum(col("w")).as("wtot")) // 1 row
      val based = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("w"),
          expr("w * 1000000 div wtot").as("base_alloc"),
          expr("(w * 1000000) % wtot").as("rem"))
      val leftover = based
        .agg((lit(1000000L) - sum(col("base_alloc"))).as("leftover"))
      val rhs = based.select(col("source").as("s2"), col("rem").as("rem2"))
      val ranked = based.join(broadcast(rhs),
          col("rem2") > col("rem") ||
            (col("rem2") === col("rem") && col("s2") < col("source")),
          "left")
        .groupBy(col("source"), col("w"), col("base_alloc"), col("rem"))
        .agg(count(col("s2")).as("ahead"))
      val extra = when(col("ahead") < col("leftover"), 1L).otherwise(0L)
      ranked.crossJoin(broadcast(leftover))
        .select(col("source"), col("w").as("tokens"), col("base_alloc"),
          extra.as("extra"), (col("base_alloc") + extra).as("alloc"))
        .orderBy("source")
    },
    Some("""WITH w AS (SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
              FROM documents GROUP BY 1),
            t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM w),
            b AS (SELECT source, w, (w * 1000000) // wtot AS base_alloc,
                    (w * 1000000) % wtot AS rem
                  FROM w, t),
            l AS (SELECT 1000000 - CAST(sum(base_alloc) AS BIGINT)
                    AS leftover FROM b),
            rk AS (SELECT b.source, b.w, b.base_alloc, b.rem,
                     count(b2.source) AS ahead
                   FROM b LEFT JOIN b b2
                     ON b2.rem > b.rem
                        OR (b2.rem = b.rem AND b2.source < b.source)
                   GROUP BY 1, 2, 3, 4)
            SELECT source, w AS tokens, base_alloc,
              CAST(CASE WHEN ahead < leftover THEN 1 ELSE 0 END
                AS BIGINT) AS extra,
              base_alloc + CAST(CASE WHEN ahead < leftover THEN 1 ELSE 0
                END AS BIGINT) AS alloc
            FROM rk, l ORDER BY source"""))

  /** Vocabulary ID assignment + Zipf coverage curve — the
    * tokenizer-vocab-size decision table: every distinct token gets a
    * dense integer id by (collection frequency desc, token asc), and
    * each row carries the EXACT cumulative share of all token
    * occurrences the vocabulary up to that id covers (`cover_ppm`).
    * Reading the curve answers "how many vocab entries cover 95 % of
    * the corpus?" — the question that sizes a tokenizer — and the id
    * column is itself the artifact (the tok→id mapping an embedding
    * table indexes by, frequency-sorted so hot ids are dense and
    * cache-friendly).
    *
    * ## 100 TB notes
    * The vocabulary is Heaps-law sublinear in corpus size, so the
    * ranked table stays small relative to data; the dense rank and
    * running sum use [[graft.engine.Cumulative.rankedCumSum]] (range
    * partition + per-partition windows + broadcast offsets) so even a
    * billion-entry vocabulary never lands on one partition. `df` is an
    * exact distinct-doc count (one (doc, tok)-distinct shuffle);
    * `cover_ppm` is exact BIGINT cross-multiplication, no doubles —
    * `cum * 1e6` holds to ~9.2e12 total tokens; a larger corpus (100 TB
    * of text passes it) widens the product to decimal(38,0), the
    * q268-documented discipline.
    */
  val q272VocabCoverage: Q = Q(
    "q272_vocab_coverage",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(Text.regexTokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("cf"),
          count_distinct(col("doc_id")).as("df"))
      val tot = vocab.agg(sum(col("cf")).as("total")) // 1 row
      graft.engine.Cumulative
        .rankedCumSum(vocab, Seq(col("cf").desc, col("tok").asc),
          col("cf"), rkName = "id", cumName = "cum")
        .crossJoin(broadcast(tot))
        .select(col("tok"), col("id"), col("df"), col("cf"),
          expr("cum * 1000000 div total").as("cover_ppm"))
        .orderBy("id")
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest($DuckToks) AS tok
               FROM documents),
             v AS (SELECT tok, count(*) AS cf,
                     count(DISTINCT doc_id) AS df
                   FROM tok GROUP BY 1),
             t AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM v),
             r AS (SELECT tok, cf, df,
                     row_number() OVER (ORDER BY cf DESC, tok ASC) AS id,
                     CAST(sum(cf) OVER (ORDER BY cf DESC, tok ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
                   FROM v)
             SELECT tok, id, df, cf, cum * 1000000 // total AS cover_ppm
             FROM r, t ORDER BY id"""))

  /** Curriculum staging by corpus-relative difficulty: every document
    * is scored with the exact integer mean-rarity of its tokens (the
    * q92 surprisal proxy: `rar(tok) = n_total div cf(tok)`, doc score
    * = `sum(rar) div n_tok` — order-independent BIGINT throughout),
    * then the corpus is cut into 10 curriculum stages of near-equal
    * document count by GLOBAL difficulty rank (`stage =
    * (rk-1)*10 div n_docs` — the same exact-integer decile formula on
    * both engines, deliberately NOT ntile(), whose remainder placement
    * is engine-defined). Per stage: docs, token budget, and the
    * difficulty range — the table an easy-to-hard training schedule
    * reads ("stage 0 = the easiest tenth, N tokens").
    *
    * ## 100 TB notes
    * Difficulty reuses the broadcast vocabulary rarity table (Heaps-
    * law small); the global rank is
    * [[graft.engine.Cumulative.rankedCumSum]] (range partition +
    * broadcast offsets, no single-partition window); the output is 10
    * rows at any scale. Stage CUTS are by exact rank arithmetic, so
    * the staging is partitioning-invariant and reproducible run to
    * run — the property a resumable curriculum needs.
    */
  val q273CurriculumStages: Q = Q(
    "q273_curriculum_stages",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(Text.regexTokens(col("text"))).as("tok"))
      val cf = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
      val tot = toks.agg(count(lit(1)).as("n_total")) // 1 row
      val rar = cf.crossJoin(broadcast(tot))
        .select(col("tok"), expr("n_total div cf").as("rar"))
      val diff = toks.join(broadcast(rar), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("rar")).as("rsum"))
        .select(col("doc_id"), col("n_tok"),
          expr("rsum div n_tok").as("difficulty"))
      val n = diff.agg(count(lit(1)).as("nd")) // 1 row
      graft.engine.Cumulative
        .rankedCumSum(diff,
          Seq(col("difficulty").asc, col("doc_id").asc), col("n_tok"))
        .crossJoin(broadcast(n))
        .select(expr("((rk - 1) * 10) div nd").as("stage"),
          col("n_tok"), col("difficulty"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("difficulty")).as("min_diff"),
          max(col("difficulty")).as("max_diff"))
        .orderBy("stage")
    },
    Some(s"""WITH toks AS (SELECT doc_id, unnest($DuckToks) AS tok
               FROM documents),
             cf AS (SELECT tok, count(*) AS cf FROM toks GROUP BY 1),
             tot AS (SELECT count(*) AS n_total FROM toks),
             rar AS (SELECT tok, n_total // cf AS rar
                     FROM cf CROSS JOIN tot),
             d AS (SELECT doc_id, count(*) AS n_tok,
                     CAST(sum(rar) AS BIGINT) AS rsum
                   FROM toks JOIN rar USING (tok) GROUP BY 1),
             dd AS (SELECT doc_id, n_tok, rsum // n_tok AS difficulty
                    FROM d),
             r AS (SELECT n_tok, difficulty,
                     row_number() OVER (ORDER BY difficulty ASC,
                       doc_id ASC) AS rk
                   FROM dd),
             n AS (SELECT count(*) AS nd FROM dd)
             SELECT ((rk - 1) * 10) // nd AS stage, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(difficulty) AS min_diff, max(difficulty) AS max_diff
             FROM r, n GROUP BY 1 ORDER BY stage"""))

  /** Hierarchical (two-level) largest-remainder apportionment — real
    * mixture schedulers allocate a budget DOWN A TREE (budget →
    * source → language), and the exactness must hold at EVERY level:
    * each source's allocation is q268's Hamilton apportionment of
    * B = 1,000,000 over source token masses; each source then
    * re-apportions ITS allocation over its languages by the same
    * rule. Both levels are pure BIGINT; the invariants (Σ sources =
    * B; Σ languages within a source = that source's allocation) hold
    * by construction and are spec-pinned — the property a flat
    * per-(source, lang) apportionment does NOT give you (its
    * source-level sums drift from the source allocations by the
    * rounding of each leaf).
    *
    * Level-1 remainder ranks use q268's triangular broadcast join
    * (sources are a dimension); level-2 ranks use a window
    * PARTITIONED BY source (bounded strata — never a global window).
    *
    * ## 100 TB notes
    * One token-count scan with map-side partials to the
    * (source, lang) grain; everything after runs on |source×lang|
    * rows. The tree shape generalizes: each level is one broadcast
    * of the parent allocations plus one bounded rank.
    */
  val q291HierApportion: Q = Q(
    "q291_hier_apportion",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val wsl = docs.groupBy(col("source"), col("lang"))
        .agg(sum(size(Text.tokens(col("text"))).cast("long")).as("w"))
      val ws = wsl.groupBy(col("source")).agg(sum(col("w")).as("ws"))
      val tot = ws.agg(sum(col("ws")).as("wtot")) // 1 row
      // level 1: Hamilton over sources (q268 verbatim shape)
      val based = ws.crossJoin(broadcast(tot))
        .select(col("source"), col("ws"),
          expr("ws * 1000000 div wtot").as("base1"),
          expr("(ws * 1000000) % wtot").as("rem1"))
      val left1 = based.agg((lit(1000000L) - sum(col("base1"))).as("l1"))
      val rhs = based.select(col("source").as("s2"), col("rem1").as("rem2"))
      val srcAlloc = based.join(broadcast(rhs),
          col("rem2") > col("rem1") ||
            (col("rem2") === col("rem1") && col("s2") < col("source")),
          "left")
        .groupBy(col("source"), col("ws"), col("base1"))
        .agg(count(col("s2")).as("ahead"))
        .crossJoin(broadcast(left1))
        .select(col("source"), col("ws"),
          (col("base1") + when(col("ahead") < col("l1"), 1L)
            .otherwise(0L)).as("a_src"))
      // level 2: Hamilton of a_src over the source's languages
      val l2 = wsl.join(broadcast(srcAlloc), Seq("source"))
        .select(col("source"), col("lang"), col("w"), col("ws"),
          col("a_src"),
          expr("a_src * w div ws").as("base2"),
          expr("(a_src * w) % ws").as("rem2"))
      val bySrc = Window.partitionBy(col("source"))
      val ranked = l2
        .withColumn("l2left", col("a_src") - sum(col("base2")).over(bySrc))
        .withColumn("rk", row_number().over(
          bySrc.orderBy(col("rem2").desc, col("lang").asc)))
      ranked
        .select(col("source"), col("lang"), col("w").as("tokens"),
          col("base2").as("base_alloc"),
          when(col("rk") <= col("l2left"), 1L).otherwise(0L).as("extra"),
          (col("base2") + when(col("rk") <= col("l2left"), 1L)
            .otherwise(0L)).as("alloc"),
          col("a_src").as("source_alloc"))
        .orderBy("source", "lang")
    },
    Some("""WITH wsl AS (SELECT source, lang,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
              FROM documents GROUP BY 1, 2),
            ws AS (SELECT source, CAST(sum(w) AS BIGINT) AS ws
                   FROM wsl GROUP BY 1),
            t AS (SELECT CAST(sum(ws) AS BIGINT) AS wtot FROM ws),
            b AS (SELECT source, ws,
                    (ws * 1000000) // wtot AS base1,
                    (ws * 1000000) % wtot AS rem1
                  FROM ws, t),
            l1 AS (SELECT 1000000 - CAST(sum(base1) AS BIGINT) AS l1
                   FROM b),
            rk1 AS (SELECT b.source, b.ws, b.base1,
                      count(b2.source) AS ahead
                    FROM b LEFT JOIN b b2
                      ON b2.rem1 > b.rem1
                         OR (b2.rem1 = b.rem1 AND b2.source < b.source)
                    GROUP BY 1, 2, 3),
            sa AS (SELECT source, ws,
                     base1 + CASE WHEN ahead < l1 THEN 1 ELSE 0 END
                       AS a_src
                   FROM rk1, l1),
            l2 AS (SELECT wsl.source, wsl.lang, wsl.w, sa.ws, sa.a_src,
                     (sa.a_src * wsl.w) // sa.ws AS base2,
                     (sa.a_src * wsl.w) % sa.ws AS rem2
                   FROM wsl JOIN sa USING (source)),
            r AS (SELECT l2.*,
                    a_src - CAST(sum(base2) OVER (PARTITION BY source)
                      AS BIGINT) AS l2left,
                    row_number() OVER (PARTITION BY source
                      ORDER BY rem2 DESC, lang ASC) AS rk
                  FROM l2)
            SELECT source, lang, w AS tokens, base2 AS base_alloc,
              CAST(CASE WHEN rk <= l2left THEN 1 ELSE 0 END AS BIGINT)
                AS extra,
              base2 + CAST(CASE WHEN rk <= l2left THEN 1 ELSE 0 END
                AS BIGINT) AS alloc,
              a_src AS source_alloc
            FROM r ORDER BY source, lang"""))

  val all: Seq[Q] = Seq(q88ChunkOverlap, q91BpePairs, q92UnigramRarity,
    q93BigramLift, q94CdcChunks, q96QuantileNorm, q97MixtureWeights,
    q125PpsSample, q169PostingLists, q173Burstiness, q191PhraseSearch,
    q205IdfDrift, q219HapaxProfile, q220ProximitySearch,
    q258PrefixDupCurve, q259TruncationLoss, q262PaddingWaste,
    q268TokenApportionment, q272VocabCoverage, q273CurriculumStages,
    q291HierApportion)
}
