package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.Tables
import graft.engine.ext.Text

/** Text-analysis suite over `documents` (SURVEY.md §7.4 north-star:
  * language-ID, quality scoring, token counting, term frequency).
  *
  * ## 100 TB notes
  * Every per-doc computation here is a pure projection (codegen'd, no
  * shuffle); the only exchanges are the final group-bys, which aggregate
  * on low-cardinality keys (lang/source/token) with map-side partial
  * aggregation. Term frequency over a 100 TB corpus is explode +
  * partial-agg — the shuffle carries one row per (token, map task), not
  * per token occurrence. Top-k uses orderBy+limit = TakeOrderedAndProject
  * (per-partition heap, no global sort materialization).
  */
object TextQueries {

  // Word lists for the scoring heuristics. The fixture corpus is a
  // synthetic shared vocabulary, so these are drawn from it — on a real
  // corpus they'd be per-language stopword lists; the operator shape
  // (set-membership counting inside a projection) is identical.
  private val wordsDe = Seq("scan", "filter", "merge")
  private val wordsEn = Seq("the", "a", "spark")
  private val wordsEs = Seq("query", "table", "data")
  private val wordsFr = Seq("join", "sort", "group")
  private val wordsZh = Seq("window", "stream", "batch")

  private val duckToks = "string_split(text, ' ')"

  /** Oracle mirror of [[Text.levNearDupPairs]] (blockTokens=3, maxDist=40),
    * shared by q42 and q43's edge construction so both stay in lockstep
    * with the engine helper.
    */
  private[queries] val duckLevPairCtes =
    """keyed AS (SELECT doc_id, text,
                array_to_string(string_split(text, ' ')[1:3], ' ') AS blk
              FROM documents),
            lev_pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2,
                levenshtein(x.text, y.text)::BIGINT AS dist
              FROM keyed x JOIN keyed y
                ON x.blk = y.blk AND x.doc_id < y.doc_id
              WHERE levenshtein(x.text, y.text) <= 40)"""
  private def duckHits(set: Seq[String]): String =
    s"len(list_filter($duckToks, t -> t IN (${set.map("'" + _ + "'").mkString(",")})))"

  /** Number of from-scratch token-table computations this JVM has run
    * (spec hook: the whole token-consumer family, one compute).
    */
  private[queries] val tokenComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exploded token stream of `documents` — one row per token
    * occurrence, `(doc_id, source, lang, pos, tok)` — LANDED once per
    * (JVM, documents-fixture signature) via [[Tables.landed]]
    * (round 21; the q81 shingle-table / graph edge-list pattern
    * applied to the text family): fifteen token kernels (q18 q19 q20
    * q26 q45 q54 q94 q162 q163 q169 q173 q191 q219 q220 q240) consume
    * this exact relation and previously EACH re-ran the documents scan
    * + split + explode per execution. At 100 TB the exploded token
    * stream IS the landed silver table behind every index/statistics
    * build; consumers prune to the columns they read (the parquet scan
    * serves (doc_id, tok) readers without touching pos/source/lang).
    * `pos` is the 0-based token position ([[posexplode]]), so
    * positional kernels (q94 chunking, q191 phrases, q220 proximity)
    * read the same table.
    */
  private[queries] def tokenTable(s: SparkSession, dir: String): DataFrame =
    Tables.landed(s, "toktab", dir, Seq("documents"),
      tokenComputeCount) {
      // NOT widened before landing (measured, r21): repartitioning the
      // 1M-row sf0.1 stream to the core count landed 32 sub-MB files
      // and every consumer slowed ~45% (per-file open/decode overhead
      // dwarfs the parallelism at fixture scale); at 100 TB the
      // exploded stream inherits the wide scan's partitioning anyway,
      // so the single-file layout is a fixture artifact, not the shape
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
    }

  /** q21's document quality score, single-sourced so the budgeted
    * selection (q82) ranks by EXACTLY the score the scoring query (q21)
    * emits — bounded length score + stopword ratio + bounded mean token
    * length, each term weighted. Raw double by the Catalog contract.
    */
  private[queries] def qualityScoreCol: Column = {
    val toks = Text.tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopRatio = Text.wordSetHits(toks, wordsEn).cast("double") / nTok
    val avgLen = col("n_chars").cast("double") / nTok
    least(lit(1.0), nTok / 200.0) * 0.5 +
      stopRatio * 0.3 +
      least(lit(1.0), avgLen / 8.0) * 0.2
  }

  /** Oracle mirror of [[qualityScoreCol]] (shared by q21/q82/q96). */
  private[queries] val duckScore =
    s"""least(1.0::DOUBLE, len($duckToks) / 200.0) * 0.5
                       + (${duckHits(wordsEn)}::DOUBLE / len($duckToks)) * 0.3
                       + least(1.0::DOUBLE, (n_chars::DOUBLE / len($duckToks)) / 8.0) * 0.2"""

  /** Corpus stats per language: doc/token/vocab counts over the landed
    * token stream ([[tokenTable]]). */
  val q18TextStats: Q = Q(
    "q18_text_stats",
    (s, dir) => {
      tokenTable(s, dir)
        .select(col("lang"), col("doc_id"), col("tok"))
        .groupBy(col("lang"))
        .agg(
          count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          count_distinct(col("tok")).as("vocab"),
          (count(lit(1)).cast("double") / count_distinct(col("doc_id")))
            .as("avg_tokens"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(DISTINCT doc_id) AS n_docs,
            count(*) AS n_tokens, count(DISTINCT tok) AS vocab,
            count(*)::DOUBLE / count(DISTINCT doc_id) AS avg_tokens
            FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY lang ORDER BY lang"""))

  /** Global term frequency, top 20 (count desc, token asc tie-break). */
  val q19TermFreq: Q = Q(
    "q19_term_freq",
    (s, dir) => {
      tokenTable(s, dir)
        .select(col("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(20)
    },
    Some("""SELECT tok, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 20"""))

  /** Language-ID heuristic: word-set hit counts per candidate language,
    * argmax with alphabetical tie-break; output is the confusion matrix
    * against the labeled `lang` column.
    *
    * Hit counts come from explode -> conditional-sum aggregates, not the
    * size(filter(...)) array HOF: the argmax when-chain references each
    * count up to 4 times, and interpreted HOFs have no common-
    * subexpression elimination — the projection re-scanned the token
    * array ~15x per doc and its timing swung 1-8 s at sf0.1. Plain
    * aggregates codegen once and read each count as a column.
    *
    * NULL-text documents are excluded on BOTH sides (explode emits no
    * row; the oracle filters explicitly) — the one row-dropping
    * difference explode introduces vs the old per-row projection.
    */
  val q20LangId: Q = Q(
    "q20_langid",
    (s, dir) => {
      def hits(set: Seq[String]) =
        sum(when(col("tok").isin(set.map(lit): _*), 1L).otherwise(0L))
      val perDoc = tokenTable(s, dir)
        .select(col("doc_id"), col("lang"), col("tok"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(hits(wordsDe).as("s_de"), hits(wordsEn).as("s_en"),
          hits(wordsEs).as("s_es"), hits(wordsFr).as("s_fr"),
          hits(wordsZh).as("s_zh"))
      val (sDe, sEn, sEs, sFr, sZh) =
        (col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"))
      val predicted =
        when(sDe >= sEn && sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
          .when(sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
          .when(sEs >= sFr && sEs >= sZh, "es")
          .when(sFr >= sZh, "fr")
          .otherwise("zh")
      perDoc.select(col("lang"), predicted.as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },
    Some(s"""SELECT lang, predicted, count(*) AS n_docs FROM (
               SELECT lang,
                 CASE
                   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                   WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                   WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                   WHEN s_fr >= s_zh THEN 'fr'
                   ELSE 'zh' END AS predicted
               FROM (SELECT lang,
                       ${duckHits(wordsDe)} AS s_de, ${duckHits(wordsEn)} AS s_en,
                       ${duckHits(wordsEs)} AS s_es, ${duckHits(wordsFr)} AS s_fr,
                       ${duckHits(wordsZh)} AS s_zh
                     FROM documents WHERE text IS NOT NULL))
             GROUP BY lang, predicted ORDER BY lang, predicted"""))

  /** Per-document quality score: bounded length score + stopword ratio +
    * mean token length, pure IEEE arithmetic (bit-identical across
    * engines, no transcendental functions).
    */
  val q21QualityScore: Q = Q(
    "q21_quality_score",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // raw double: the op tree is identical on both engines, so the
      // value is bit-identical; a round() here could flip on ties
      val score = qualityScoreCol
      docs.select(
          col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
          score.as("score"),
          floor(score * 10).cast("long").as("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, n_tokens, score, floor(score * 10)::BIGINT AS bucket
             FROM (SELECT doc_id, len($duckToks)::BIGINT AS n_tokens,
                     $duckScore
                       AS score
                   FROM documents)
             ORDER BY doc_id"""))

  /** Regex (BPE-ish pre-tokenizer) token counting + vocab per source. */
  val q22RegexTokens: Q = Q(
    "q22_regex_tokens",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs
        .select(col("source"), col("doc_id"),
          explode(Text.regexTokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          count_distinct(col("tok")).as("vocab"))
        .orderBy("source")
    },
    Some("""SELECT source, count(DISTINCT doc_id) AS n_docs,
            count(*) AS n_tokens, count(DISTINCT tok) AS vocab
            FROM (SELECT source, doc_id,
                    unnest(list_filter(
                      string_split_regex(lower(text), '[^a-z0-9]+'),
                      t -> t != '')) AS tok
                  FROM documents)
            GROUP BY source ORDER BY source"""))

  /** Winnowing document fingerprints (MOSS-style, Schleimer et al. 2003):
    * hash every k-token gram IN ORDER, slide a w-hash window over the
    * stream, keep the minimum hash of each window; the distinct kept
    * hashes are the doc's fingerprint set. Guarantees any match of
    * k+w-1 tokens or longer shares at least one fingerprint.
    *
    * Shape at scale: posexplode keeps the gram stream partition-local;
    * the per-window minimum is a bounded-frame window function over
    * (doc_id, pos) — one shuffle on doc_id, state bounded by w rows; the
    * fingerprint summary is an ordinary partial-agg group-by. Output is
    * one summary row per doc (never the fingerprint set itself).
    */
  val q39WinnowFp: Q = Q(
    "q39_winnow_fp",
    (s, dir) => {
      // widen: the per-gram hashing of the whole corpus happens BEFORE
      // the doc_id window shuffle, and the single-row-group fixture
      // scan would run it on one thread (q114's pattern; no-op at
      // scale, result unchanged — the window re-shuffles on doc_id)
      val docs = Tables.widen(s, Tables.load(s, dir, "documents"))
      Text.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          count_distinct(col("wmin")).as("n_fp"),
          min(col("wmin")).as("fp_min"),
          max(col("wmin")).as("fp_max"))
        .orderBy("doc_id")
    },
    Some("""WITH shs AS (SELECT doc_id,
                list_transform(range(1, greatest(len(toks) - 3, 1) + 1),
                  i -> array_to_string(toks[i:i+3], ' ')) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
            exu AS (SELECT doc_id,
                unnest(list_transform(range(0, len(sh)), i -> struct_pack(
                  pos := i,
                  h := ('0x' || substring(md5(sh[i + 1]), 1, 8))::BIGINT))) AS u
              FROM shs),
            ex AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM exu),
            wm AS (SELECT doc_id, pos,
                count(*) OVER (PARTITION BY doc_id) AS n,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
              FROM ex)
            SELECT doc_id, count(*) AS n_windows,
              count(DISTINCT wmin) AS n_fp,
              min(wmin) AS fp_min, max(wmin) AS fp_max
            FROM wm WHERE pos <= n - 4
            GROUP BY doc_id ORDER BY doc_id"""))

  /** Edit-distance near-dup: candidate pairs blocked on the first three
    * tokens (prefix block), verified with exact Levenshtein distance.
    * Integer DP — bit-identical across engines. Prefix blocking is the
    * scale story: candidates meet only inside a block (equi-join on the
    * block key), never all-pairs; a df-style cap on block size (as in
    * q25) bounds skew at 100 TB. The relation is the landed
    * [[DedupQueries.levPairTable]] shared with q43/q59/q60/q69/q70 —
    * this query's DuckDB hash-check is what certifies that landed
    * table's content for every other consumer.
    */
  val q42EditDistance: Q = Q(
    "q42_edit_distance",
    (s, dir) =>
      DedupQueries.levPairTable(s, dir).orderBy("d1", "d2"),
    Some(s"""WITH $duckLevPairCtes
             SELECT d1, d2, dist FROM lev_pairs ORDER BY d1, d2"""))

  /** TF-IDF term importance, top-3 terms per document. The idf factor is
    * the rational N/df (no logarithm: libm log() implementations are not
    * pinned across engines, a ratio of exact integers is), score =
    * tf * N / df as one fixed IEEE op tree. Ties broken by token.
    *
    * Scale shape: the (doc, tok, tf) table is one aggregate over the
    * landed token table ([[tokenTable]]), so the corpus is tokenized
    * once however many branches consume it — df(tok) is just the
    * per-token row count of tf, and N its distinct doc count. The df
    * table joins back on tok (broadcast while it fits, AQE otherwise);
    * top-k per doc is a bounded window. No global sort of the corpus.
    */
  val q45TfidfTopk: Q = Q(
    "q45_tfidf_topk",
    (s, dir) => {
      val tf = tokenTable(s, dir)
        .select(col("doc_id"), col("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      // tf is distinct on (doc, tok): df = rows per tok, N = distinct docs
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = tf.select(count_distinct(col("doc_id")).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(df, Seq("tok")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"),
          (col("tf").cast("double") * col("n") / col("df")).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf
                   FROM toks GROUP BY doc_id, tok),
            df AS (SELECT tok, count(DISTINCT doc_id) AS df
                   FROM toks GROUP BY tok),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
            scored AS (SELECT doc_id, tok,
                CAST(tf AS DOUBLE) * n / df AS score
              FROM tf JOIN df USING (tok), n),
            ranked AS (SELECT doc_id, tok, score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, tok ASC) AS rank
              FROM scored)
            SELECT doc_id, rank, tok, score FROM ranked
            WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Deterministic train/val/test split by CONTENT hash (80/10/10): the
    * reproducible-split operator every training pipeline needs. Hashing
    * the text (not the id) sends byte-identical duplicates to the same
    * split — the standard guard against train/test leakage through dups.
    * Pure projection + one small group-by; rerunning on a regrown corpus
    * keeps every unchanged document in its old split (no RNG, no seed
    * drift across engines or cluster sizes).
    */
  /** The train/val/test assignment shared by q48 (its definition) and
    * q70 (which audits leakage across it) — one expression so the audit
    * can never drift from the boundary it audits.
    */
  private[queries] def splitCol: Column = {
    val bucket = pmod(Text.hash32(col("text")), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** Oracle mirror of [[splitCol]]: CTE `sp(doc_id, split)`. */
  private[queries] val duckSplitCte =
    """sp AS (SELECT doc_id,
              CASE WHEN b < 80 THEN 'train'
                   WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id,
                    ('0x' || substring(md5(text), 1, 8))::BIGINT % 100 AS b
                  FROM documents))"""

  val q48SplitAssign: Q = Q(
    "q48_split_assign",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(splitCol.as("split"), col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split")
    },
    Some(s"""WITH $duckSplitCte
            SELECT split, count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM (SELECT d.doc_id, sp.split,
                    len(string_split(d.text, ' '))::BIGINT AS n_tokens
                  FROM documents d JOIN sp ON sp.doc_id = d.doc_id)
            GROUP BY split ORDER BY split"""))

  /** Stratified deterministic sampling: per-language keep-rates (e.g.
    * downsample over-represented languages when rebalancing a corpus),
    * implemented as content-hash-mod thresholds — no RNG, no seed, same
    * sample on every engine, cluster size, and rerun, and byte-identical
    * duplicates sample together (consistent with q48's split). Reports
    * kept/total per language. Pure projection + small group-by.
    */
  val q51StratifiedSample: Q = Q(
    "q51_stratified_sample",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // keep-rate percent per language; default 25
      val rates = Map("en" -> 75, "de" -> 50, "es" -> 50)
      val bucket = pmod(Text.hash32(col("text")), lit(100))
      val rate = rates.foldLeft(lit(25)) { case (acc, (l, r)) =>
        when(col("lang") === l, r).otherwise(acc)
      }
      docs
        .select(col("lang"), col("doc_id"),
          (bucket < rate).as("kept"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("kept"), 1)).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_total,
              count(*) FILTER (kept) AS n_kept,
              CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
                AS kept_tokens
            FROM (SELECT lang, doc_id,
                    ('0x' || substring(md5(text), 1, 8))::BIGINT % 100 <
                      (CASE lang WHEN 'en' THEN 75 WHEN 'de' THEN 50
                                 WHEN 'es' THEN 50 ELSE 25 END) AS kept,
                    len(string_split(text, ' '))::BIGINT AS n_tokens
                  FROM documents)
            GROUP BY lang ORDER BY lang"""))

  /** Approximate sketches per language: HyperLogLog++ distinct tokens
    * (`approx_count_distinct`) and t-digest median doc length
    * (`percentile_approx`) — the sub-linear-memory forms of q18's exact
    * vocab count and q40's exact quantiles. At 100 TB these are the ops
    * you actually run first: fixed-size sketch state per group, one
    * partial-agg shuffle, mergeable across partitions.
    *
    * Sketch estimates are implementation-specific, so the raw estimates
    * can't hash-match a DuckDB oracle. Instead the query ALSO computes
    * the exact answers and emits `within_bounds` BOOLEANS — quality
    * checks as data, same ethos as the reference's DQ operator
    * (`plugins/data_quality_operator.py:57-71`):
    *   - `vocab_within_bounds`: |HLL − exact| ≤ 3·rsd·exact (≥3σ of the
    *     HLL guarantee; deterministic for a fixed hash + dataset, so the
    *     check is stable, not flaky);
    *   - `median_within_bounds`: a RANK bound, not a value interval —
    *     the returned value's rank window [n_lt, n_le] must intersect
    *     0.5·n ± (ε·n + 1), ε = 1/accuracy. Robust for tiny groups and
    *     duplicate-heavy columns, where a value-interval check against
    *     interpolated percentiles breaks down.
    * The oracle computes the exact columns and literal `true`s, so the
    * row hash verifies both the exact side and the bounds. The exact
    * side exists only to make the sketch verifiable — production at
    * 100 TB runs the sketch alone. `SketchAccuracySpec` keeps the unit-
    * level error-bound coverage.
    */
  val q54Sketches: Q = Q(
    "q54_sketches",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // two granularities: vocab over exploded tokens, median over DOCS —
      // sketching n_chars on the exploded frame would token-weight it
      // (longer docs counted once per token)
      val rsd = 0.02
      val accuracy = 10000
      val vocab = tokenTable(s, dir)
        .select(col("lang"), col("tok"))
        .groupBy(col("lang"))
        .agg(
          approx_count_distinct(col("tok"), rsd).as("approx_vocab"),
          count_distinct(col("tok")).as("exact_vocab"))
      val med = docs.groupBy(col("lang"))
        .agg(
          percentile_approx(col("n_chars"), lit(0.5), lit(accuracy))
            .as("approx_median"),
          // exact interpolated median: 0.5 over integer n_chars lands on
          // x.0/x.5 — exactly representable, bit-identical to DuckDB's
          // quantile_cont-based median()
          percentile(col("n_chars"), lit(0.5)).as("exact_median_chars"))
      // rank-bound check: broadcast the 5-row per-lang approx medians
      // back over documents and count rows (<, <=) the returned value
      val ranks = docs
        .join(broadcast(med.select(col("lang"), col("approx_median"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("n_chars") <= col("approx_median"), 1L).otherwise(0L))
            .as("n_le"),
          sum(when(col("n_chars") < col("approx_median"), 1L).otherwise(0L))
            .as("n_lt"))
      val eps = 1.0 / accuracy
      vocab.join(med, Seq("lang")).join(ranks, Seq("lang"))
        .select(
          col("lang"), col("exact_vocab"), col("exact_median_chars"),
          (abs(col("approx_vocab") - col("exact_vocab")).cast("double")
            <= col("exact_vocab") * (3 * rsd)).as("vocab_within_bounds"),
          (col("n_le").cast("double") >= col("n") * (0.5 - eps) - 1 &&
            col("n_lt").cast("double") <= col("n") * (0.5 + eps) + 1)
            .as("median_within_bounds"))
        .orderBy("lang")
    },
    Some("""SELECT v.lang, v.exact_vocab, m.exact_median_chars,
              true AS vocab_within_bounds, true AS median_within_bounds
            FROM (SELECT lang, count(DISTINCT tok) AS exact_vocab
                  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  GROUP BY lang) v
            JOIN (SELECT lang, median(n_chars)::DOUBLE AS exact_median_chars
                  FROM documents GROUP BY lang) m USING (lang)
            ORDER BY lang"""))

  /** Sequence-packing accounting: assign documents (per language, in
    * doc_id order) to fixed-capacity context windows of 2048 tokens and
    * report per-window doc/token counts — how many training sequences the
    * corpus yields. Offset-contiguous semantics: a doc belongs to the
    * window containing its FIRST token (docs may straddle boundaries),
    * i.e. bin = floor(preceding_cumulative_tokens / capacity) — the
    * deterministic, relational form of packing; true first-fit bin
    * packing is inherently sequential and buys only ~capacity/2 tokens
    * per partition boundary over this.
    *
    * ## 100 TB notes
    * Round 20: the per-language cumsum rides
    * [[graft.engine.Cumulative.groupedRankedCumSums]] — a window
    * `PARTITION BY lang` is |langs| single-task partitions, the
    * collapsed-window class (this note once proposed a manual
    * (lang, shard) key widening; the grouped prefix-sum primitive IS
    * that decomposition, with exact offsets instead of per-shard
    * boundary waste). Exact BIGINT throughout; row-identical to the
    * window form.
    */
  val q62PackSequences: Q = Q(
    "q62_pack_sequences",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.engine.Cumulative.groupedRankedCumSums(
        docs.select(col("lang"), col("doc_id"),
          coalesce(size(Text.tokens(col("text"))).cast("long"), lit(0L))
            .as("n_tokens")),
        Seq(col("lang")), Seq(col("doc_id").asc),
        values = Seq(col("n_tokens") -> "cum"))
        .withColumn("bin", expr("(cum - n_tokens) div 2048"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy("lang", "bin")
    },
    Some("""WITH toks AS (SELECT lang, doc_id,
              coalesce(len(string_split(text, ' ')), 0)::BIGINT AS n_tokens
              FROM documents),
            cum AS (SELECT lang, doc_id, n_tokens,
              sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
              FROM toks)
            SELECT lang, ((cum - n_tokens) // 2048)::BIGINT AS bin,
              count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
            FROM cum GROUP BY lang, bin ORDER BY lang, bin"""))

  /** Intra-document repetition signals (the Gopher/MassiveText-style
    * quality rules): per doc, the duplicate-unigram fraction
    * (1 − distinct/total tokens) and the top-bigram fraction (occurrences
    * of the most frequent bigram over all bigram slots); a doc is flagged
    * `repetitious` above either threshold (the bigram rule additionally
    * requires a bigram that actually repeats — see the inline note on the
    * short-doc lower bound). Highly repetitive documents
    * (boilerplate loops, degenerate generations) are a standard pre-
    * training filter. Per-doc output keeps the hash check strong.
    *
    * ## 100 TB notes
    * Everything is per-row compute, no exchange at all: unigram stats via
    * size/array_distinct HOFs, the bigram mode via the fused codegen'd
    * [[graft.functions.ArrayModeCount]] (one O(n) hash-map pass per row,
    * map bounded by the doc's own vocabulary). The original shape —
    * explode → groupBy(doc, bigram) → groupBy(doc) max — shuffled one
    * row per distinct (doc, bigram) twice; a per-document property
    * shouldn't cost a cluster-wide aggregation. Thresholds are per-doc
    * ratios, so they are scale-free by construction (the q63 df lesson
    * does not apply).
    */
  /** Per-doc repetition counters (doc_id, n_toks, n_uniq, top_c, n_bg),
    * shared by q67 (which derives the fractions/flag) and q72's funnel
    * stage — the pure two-projection pass described in the 100 TB notes
    * above. The bgs staging select keeps the interpreted shingles HOF
    * evaluated once (CollapseProject refuses to inline non-cheap
    * expressions referenced twice).
    *
    * `dropNullText = true` filters NULL-text docs at the SCAN (a
    * parquet-pushable `text IS NOT NULL`); `false` keeps them, with
    * NULL metric columns. Production consumers go through the landed
    * [[repetitionTable]] (always the `false` variant — q67 filters the
    * NULL-metric rows off the materialized counters); the direct form
    * stays as the from-scratch definition the landing spec compares
    * against.
    */
  private[queries] def repetitionPerDoc(s: SparkSession, dir: String,
      dropNullText: Boolean): DataFrame = {
    // widen: the tokenize + bigram-mode pass is per-row compute-bound
    // on a single-row-group fixture scan (no-op at scale)
    val docs = Tables.widen(s, Tables.load(s, dir, "documents"))
    val base = if (dropNullText) docs.filter(col("text").isNotNull) else docs
    val toks = Text.tokens(col("text"))
    base
      .select(col("doc_id"),
        size(toks).as("n_toks"),
        size(array_distinct(toks)).as("n_uniq"),
        Text.shingles(toks, 2).as("bgs"))
      .select(col("doc_id"), col("n_toks"), col("n_uniq"),
        graft.functions.GraftFunctions.arrayModeCount(col("bgs")).as("top_c"),
        size(col("bgs")).as("n_bg"))
  }

  /** Number of from-scratch repetition-table computations this JVM has
    * run (spec hook, mirrors the shingle tables' counters).
    */
  private[graft] val repetitionComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** [[repetitionPerDoc]] landed once per (JVM, dir) — the repetition
    * counters are a pure per-doc projection consumed by two queries
    * (q67's filter report, q72's funnel gate) and re-tokenizing the
    * corpus per consumer per run was the whole cost of both (q67 was
    * ~4.3 s warm at sf0.1, all of it tokenize+shingle CPU). Landed with
    * NULL-text docs INCLUDED (their metric columns are NULL): q72 needs
    * them for its funnel top line, and q67 recovers its text IS NOT
    * NULL contract by filtering `n_toks IS NOT NULL` on the landed
    * table — equivalent (size() is NULL exactly when text is), and
    * against materialized counters the filter no longer re-tokenizes
    * anything.
    */
  private[queries] def repetitionTable(s: SparkSession,
      dir: String): DataFrame =
    Tables.landed(s, "repetition", dir, Seq("documents"),
      repetitionComputeCount) {
      repetitionPerDoc(s, dir, dropNullText = false)
    }

  /** The q67 flag over [[repetitionPerDoc]]'s columns. Both operands cast
    * to double BEFORE the division: ANSI Spark 4 throws on int division,
    * and n_toks/n_bg are >= 1 by construction (shingles yields one
    * degenerate shingle for short docs). The bigram rule requires
    * top_c >= 2: top_bigram_frac is bounded below by 1/n_bg, so on short
    * docs a NEVER-repeated bigram would clear the ratio threshold by
    * length alone — a bigram that occurs once cannot make a doc
    * repetitious at any length.
    */
  private[queries] def repetitiousCol: Column = {
    val dupUni = (col("n_toks") - col("n_uniq")).cast("double") /
      col("n_toks").cast("double")
    val topBi = col("top_c").cast("double") / col("n_bg").cast("double")
    dupUni > 0.6 || (col("top_c") >= 2 && topBi > 0.06)
  }

  /** Oracle CTE chain mirroring [[repetitionPerDoc]], ending in
    * `per(doc_id, top_c, n_toks, n_uniq, n_bg)`; [[duckRepetitiousExpr]]
    * mirrors [[repetitiousCol]] over it.
    */
  private[queries] val duckRepetitionCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            base AS (SELECT doc_id, len(toks) AS n_toks,
                       len(list_distinct(toks)) AS n_uniq,
                       list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                         i -> array_to_string(toks[i:i+1], ' ')) AS bgs
                     FROM t),
            ex AS (SELECT doc_id, n_toks, n_uniq, len(bgs) AS n_bg,
                     unnest(bgs) AS bg FROM base),
            cnt AS (SELECT doc_id, bg, count(*) AS c, max(n_toks) AS n_toks,
                      max(n_uniq) AS n_uniq, max(n_bg) AS n_bg
                    FROM ex GROUP BY doc_id, bg),
            per AS (SELECT doc_id, max(c) AS top_c, max(n_toks) AS n_toks,
                      max(n_uniq) AS n_uniq, max(n_bg) AS n_bg
                    FROM cnt GROUP BY doc_id)"""

  private[queries] val duckRepetitiousExpr =
    """((n_toks - n_uniq)::DOUBLE / n_toks::DOUBLE > 0.6
                OR (top_c >= 2 AND top_c::DOUBLE / n_bg::DOUBLE > 0.06))"""

  val q67Repetition: Q = Q(
    "q67_repetition",
    (s, dir) =>
      // NULL-text docs have no tokens to judge: dropped via the landed
      // table's NULL metrics (the oracle's unnest drops them
      // identically; see [[repetitionTable]] for the equivalence)
      repetitionTable(s, dir).filter(col("n_toks").isNotNull)
        .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
          ((col("n_toks") - col("n_uniq")).cast("double")
            / col("n_toks").cast("double")).as("dup_uni_frac"),
          (col("top_c").cast("double") / col("n_bg").cast("double"))
            .as("top_bigram_frac"),
          repetitiousCol.as("repetitious"))
        .orderBy("doc_id"),
    Some(s"""WITH $duckRepetitionCtes
            SELECT doc_id, n_toks::BIGINT AS n_toks,
              (n_toks - n_uniq)::DOUBLE / n_toks::DOUBLE AS dup_uni_frac,
              top_c::DOUBLE / n_bg::DOUBLE AS top_bigram_frac,
              $duckRepetitiousExpr AS repetitious
            FROM per ORDER BY doc_id"""))

  /** Mixture rebalancing toward a uniform per-language target with
    * CORPUS-DERIVED keep rates (vs q51's hand-fixed rates): measure the
    * per-language doc counts, set the per-language document budget to
    * total ÷ n_langs, and keep each doc iff its content-hash bucket
    * clears the budget — `bucket · n_lang < budget · M` in pure integer
    * arithmetic, so the keep decision (≈ min(1, budget/n_lang)) is exact
    * and engine-portable: no double rate is ever materialized, no
    * rounding ever disagrees. Under-represented languages keep
    * everything; over-represented ones are deterministically downsampled
    * (content-hashed, so byte-identical duplicates sample together,
    * consistent with q48/q51).
    *
    * ## 100 TB notes
    * Two passes: a count-per-language aggregation (tiny result), then one
    * corpus scan with the ≤#langs-row rate table broadcast back. Both
    * group-bys are low-cardinality with map-side partial aggregation.
    * Integer-overflow headroom: bucket < 10^6 and budget·M needs
    * n_docs·10^6 < 2^63, safe to ~9·10^12 documents.
    */
  val q68MixtureRebalance: Q = Q(
    "q68_mixture_rebalance",
    (s, dir) => {
      val M = 1000000L
      val docs = Tables.load(s, dir, "documents")
        .select(col("lang"),
          pmod(Text.hash32(col("text")), lit(M)).as("b"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      val perLang = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"))
      val budget = perLang
        .agg(sum(col("n_lang")).as("total"), count(lit(1)).as("n_langs"))
        .select(expr("total div n_langs").as("budget"))
      val rates = broadcast(perLang.crossJoin(broadcast(budget)))
      docs.join(rates, Seq("lang"))
        .withColumn("kept", col("b") * col("n_lang") < col("budget") * M)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"), max(col("budget")).as("target_docs"),
          count(when(col("kept"), 1)).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy("lang")
    },
    Some("""WITH d AS (SELECT lang,
                    ('0x' || substring(md5(text), 1, 8))::BIGINT % 1000000 AS b,
                    len(string_split(text, ' '))::BIGINT AS n_tokens
                  FROM documents),
            sc AS (SELECT lang, count(*) AS n_lang FROM d GROUP BY lang),
            t AS (SELECT CAST(sum(n_lang) AS BIGINT) // count(*) AS budget
                  FROM sc)
            SELECT d.lang, count(*) AS n_total, max(budget) AS target_docs,
              count(*) FILTER (b * n_lang < budget * 1000000) AS n_kept,
              CAST(sum(CASE WHEN b * n_lang < budget * 1000000
                            THEN n_tokens ELSE 0 END) AS BIGINT)
                AS kept_tokens
            FROM d JOIN sc USING (lang) CROSS JOIN t
            GROUP BY d.lang ORDER BY d.lang"""))

  /** Split-leakage audit: duplicate-relation pairs that straddle q48's
    * train/val/test boundary. The audited relation is EXACTLY the q43
    * clustering relation ([[DedupQueries.dupEdges]]): fingerprint-exact
    * pairs — which CAN straddle, because the fingerprint normalizes
    * (trim/lower) while the split hashes raw bytes, so case/whitespace
    * variants of one document may split apart — union the prefix-blocked
    * Levenshtein near-dup pairs. Counts pairs per (split, split) cell;
    * the off-diagonal `leaky` rows are the train/eval contamination a
    * pipeline must drive to ~zero (by splitting on the q43 component
    * label instead of the raw doc). Split definition is [[splitCol]],
    * shared with q48, so the audit can never drift from the boundary it
    * audits.
    *
    * ## 100 TB notes
    * The pair relation is bucketed (fingerprint groups / prefix blocks),
    * never all-pairs, and is tiny relative to the corpus; the split
    * column is a pure projection of the scan. Joining corpus-projection
    * to pairs twice on doc_id lets AQE broadcast the pair side; the
    * final group-by has at most 6 cells.
    */
  val q70SplitLeakage: Q = Q(
    "q70_split_leakage",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val splits = docs.select(col("doc_id"), splitCol.as("split"))
      DedupQueries.dupEdges(s, dir)
        .select(col("a").as("d1"), col("b").as("d2"))
        .join(splits.select(col("doc_id").as("d1"), col("split").as("sp1")),
          Seq("d1"))
        .join(splits.select(col("doc_id").as("d2"), col("split").as("sp2")),
          Seq("d2"))
        .select(least(col("sp1"), col("sp2")).as("split_a"),
          greatest(col("sp1"), col("sp2")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaky", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
    Some(s"""WITH ${DedupQueries.duckDupEdgeCtes},
            $duckSplitCte
            SELECT least(x.split, y.split) AS split_a,
                   greatest(x.split, y.split) AS split_b,
                   count(*) AS n_pairs,
                   least(x.split, y.split) <> greatest(x.split, y.split)
                     AS leaky
            FROM edges JOIN sp x ON x.doc_id = a
                       JOIN sp y ON y.doc_id = b
            GROUP BY split_a, split_b ORDER BY split_a, split_b"""))

  /** End-to-end corpus funnel — the accounting a training-data pipeline
    * ships with every corpus build: per language, how many documents
    * survive each gate in sequence (length floor → repetition filter →
    * dedup keep) and how the survivors distribute over the q48 splits.
    * The repetition, dedup, and split gates are the exact predicates of
    * their standalone queries (q67 flag, q59 keep rule, q48 split) via
    * shared helpers — the funnel can't drift from the operators it
    * summarizes; the length floor is q72's own gate, pinned by
    * [[MinDocTokens]] on both engine and oracle sides.
    *
    * Dedup components are computed on the FULL corpus, not on
    * quality-survivors: a near-dup cluster is a cluster regardless of
    * which members fail other gates, and full-corpus components make the
    * keep decision stable as upstream thresholds move (the conservative
    * choice a production funnel wants).
    *
    * ## 100 TB notes
    * The length/repetition columns are q67's no-shuffle projection pass;
    * the component and split columns join
    * on doc_id (component table is |V(edges)|-bounded → broadcast); the
    * funnel itself is one low-cardinality group-by. Nothing here adds a
    * shuffle beyond its standalone constituents.
    */
  /** q72's length floor (tokens). One constant interpolated into BOTH
    * the engine predicate and the oracle SQL — editing a single side
    * cannot diverge them.
    */
  private val MinDocTokens = 30

  val q72CorpusFunnel: Q = Q(
    "q72_corpus_funnel",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // keep NULL-text docs: their metric columns are NULL, so they
      // count in n_total and then fail every gate via NULL predicates
      // rather than vanish from the funnel's top line
      val staged = docs
        .select(col("doc_id"), col("lang"), splitCol.as("split"))
        .join(repetitionTable(s, dir), Seq("doc_id"), "left")
        .join(DedupQueries.componentLabelTable(s, dir), Seq("doc_id"), "left")
        .select(col("lang"), col("split"),
          (col("n_toks") >= MinDocTokens).as("len_ok"),
          (!repetitiousCol).as("not_rep"),
          DedupQueries.dedupKeepCol.as("dedup_keep"))
      val kept = col("len_ok") && col("not_rep") && col("dedup_keep")
      staged.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("len_ok"), 1)).as("n_len_ok"),
          count(when(col("len_ok") && col("not_rep"), 1)).as("n_clean"),
          count(when(kept, 1)).as("n_kept"),
          count(when(kept && col("split") === "train", 1)).as("n_train"),
          count(when(kept && col("split") === "val", 1)).as("n_val"),
          count(when(kept && col("split") === "test", 1)).as("n_test"))
        .orderBy("lang")
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.duckComponentCtes},
            $duckRepetitionCtes,
            $duckSplitCte,
            staged AS (SELECT d.lang, sp.split,
                (per.n_toks >= $MinDocTokens) AS len_ok,
                (NOT $duckRepetitiousExpr) AS not_rep,
                ${DedupQueries.duckDedupKeepExpr} AS dedup_keep
              FROM documents d
              LEFT JOIN per ON per.doc_id = d.doc_id
              JOIN sp ON sp.doc_id = d.doc_id
              LEFT JOIN comp c ON c.doc_id = d.doc_id)
            SELECT lang, count(*) AS n_total,
              count(*) FILTER (len_ok) AS n_len_ok,
              count(*) FILTER (len_ok AND not_rep) AS n_clean,
              count(*) FILTER (len_ok AND not_rep AND dedup_keep) AS n_kept,
              count(*) FILTER (len_ok AND not_rep AND dedup_keep
                AND split = 'train') AS n_train,
              count(*) FILTER (len_ok AND not_rep AND dedup_keep
                AND split = 'val') AS n_val,
              count(*) FILTER (len_ok AND not_rep AND dedup_keep
                AND split = 'test') AS n_test
            FROM staged GROUP BY lang ORDER BY lang"""))

  /** Token budget per source for q82 — sized so the sf0.01 fixture keeps
    * a strict, non-empty subset of every source (each source holds ~25
    * docs x ~100-200 tokens).
    */
  private val TokenBudget = 2000L

  /** Quality-ordered selection under a token budget — the data-selection
    * step between scoring (q21) and mixing (q68): within each source,
    * take documents best-score-first until the source's token budget is
    * exhausted (first-fit on the ordered prefix; a doc that would cross
    * the budget line ends the prefix). Emits the per-source selection
    * ledger: docs kept, tokens kept, and the score of the worst admitted
    * document (the effective quality cutoff that budget buys).
    *
    * ## 100 TB notes
    * Round 20: `sum() OVER (PARTITION BY source ORDER BY ...)` would
    * shuffle every document into |sources| window partitions — each a
    * single-task TB-scale sort (the collapsed-window class the
    * GlobalWindowPolicySpec gate flags; this file's old note proposed
    * manual salting as the escape hatch, but the engine grew the
    * general primitive instead). The per-source running token total now
    * comes from [[graft.engine.Cumulative.groupedRankedCumSums]]:
    * range-partitioned global cumsum over (source, score DESC, doc_id)
    * plus broadcast per-source offsets — exact BIGINT throughout, so
    * the admitted prefix is row-identical to the window form. Ties
    * cannot reorder the prefix: the order is (score DESC, doc_id ASC)
    * and the score is the bit-identical raw double both engines
    * compute.
    */
  val q82TokenBudget: Q = Q(
    "q82_token_budget",
    (s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
          qualityScoreCol.as("score"))
      graft.engine.Cumulative.groupedRankedCumSums(
        scored, Seq(col("source")),
        Seq(col("score").desc, col("doc_id").asc),
        values = Seq(col("n_tokens") -> "cum_tokens"))
        .filter(col("cum_tokens") <= TokenBudget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_tokens")).as("n_tokens_kept"),
          min(col("score")).as("cutoff_score"))
        .orderBy("source")
    },
    Some(s"""WITH sc AS (SELECT doc_id, source,
                           len($duckToks)::BIGINT AS n_tokens,
                           $duckScore AS score
                         FROM documents),
             c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
                     ORDER BY score DESC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_tokens
                   FROM sc)
             SELECT source, count(*) AS n_docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
               min(score) AS cutoff_score
             FROM c WHERE cum_tokens <= $TokenBudget
             GROUP BY source ORDER BY source"""))

  /** Sentence segmentation statistics: split on terminal-punctuation
    * runs (`[.!?]+`), drop whitespace-only fragments, and report per-doc
    * sentence counts and exact-integer length sums with one closing IEEE
    * division for the mean. Map-only until the final oracle sort —
    * the explode multiplies rows before a map-side-combined per-doc
    * re-aggregate, never shuffling raw text. The regex subset
    * (character class + `+`) is valid and identical in java.util.regex
    * and RE2 (the q98 dialect rule).
    */
  val q134SentenceStats: Q = Q(
    "q134_sentence_stats",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), "[.!?]+")).as("frag"))
        .select(col("doc_id"), trim(col("frag")).as("sent"))
        .filter(length(col("sent")) > 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sentences"),
          sum(length(col("sent")).cast("bigint")).as("total_sent_chars"),
          max(length(col("sent")).cast("bigint")).as("max_sent_chars"))
        .select(col("doc_id"), col("n_sentences"), col("total_sent_chars"),
          col("max_sent_chars"),
          (col("total_sent_chars").cast("double")
            / col("n_sentences").cast("double")).as("mean_sent_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
                         trim(unnest(string_split_regex(text, '[.!?]+')))
                           AS sent
                       FROM documents),
            k AS (SELECT doc_id, sent FROM f WHERE length(sent) > 0)
            SELECT doc_id, count(*) AS n_sentences,
              CAST(sum(length(sent)) AS BIGINT) AS total_sent_chars,
              max(length(sent)) AS max_sent_chars,
              CAST(sum(length(sent)) AS DOUBLE) / count(*)
                AS mean_sent_chars
            FROM k GROUP BY doc_id ORDER BY doc_id"""))

  /** SymSpell deletion-neighborhood typo join, PROVEN lossless: two
    * vocabulary tokens are within Levenshtein distance 1 iff their
    * delete-one-character neighborhoods (plus the token itself)
    * intersect, so candidates are an equi-join on the exploded variant
    * key and the `levenshtein <= 1` verify only REMOVES false positives
    * (e.g. rotations like abc/bca share variant "bc" at distance 2).
    * The oracle is the BRUTE all-pairs join over the same vocabulary —
    * the hash match is the losslessness proof, exactly the q102
    * prefix-filter pattern applied to edit distance (and a second,
    * provable blocking scheme beside q42's lossy prefix blocks).
    *
    * ## 100 TB notes
    * The vocabulary is Heaps-law sublinear in corpus size and the df/
    * length gates bound it further; each token emits <= len+1 variants,
    * so the candidate join is equi-key over a ~|vocab|·len table —
    * never all-pairs. The brute O(|vocab|²) side exists ONLY as the
    * DuckDB oracle.
    */
  val q137SymspellJoin: Q = Q(
    "q137_symspell_join",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val base = docs
        .select(explode(Text.regexTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5 && length(col("tok")).between(5, 10))
        .select("tok")
      // the synthetic corpus is a CLEAN fixed wordlist (no natural
      // typos at any SF), so plant one first-char-deletion typo per
      // gated token (q61/q124 planted-fixture idiom) — every plant is a
      // true lev-1 pair the blocking must recover
      val vocab = base
        .unionByName(base.select(expr("substring(tok, 2)").as("tok")))
        .distinct()
      val variants = vocab
        .select(col("tok"),
          explode(sequence(lit(0), length(col("tok")))).as("i"))
        .select(col("tok"),
          when(col("i") === 0, col("tok"))
            .otherwise(concat(expr("substring(tok, 1, i - 1)"),
              expr("substring(tok, i + 1)"))).as("v"))
        .distinct()
      variants.as("a")
        .join(variants.as("b"),
          col("a.v") === col("b.v") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .distinct()
        .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
        .orderBy("tok_a", "tok_b")
    },
    Some(s"""WITH toks AS (SELECT unnest(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> t != '')) AS tok FROM documents),
             base AS (SELECT tok FROM toks
                      GROUP BY tok
                      HAVING count(*) >= 5
                         AND length(tok) BETWEEN 5 AND 10),
             vocab AS (SELECT DISTINCT tok FROM (
                 SELECT tok FROM base
                 UNION ALL SELECT substring(tok, 2) FROM base))
             SELECT a.tok AS tok_a, b.tok AS tok_b
             FROM vocab a JOIN vocab b
               ON a.tok < b.tok
               AND abs(length(a.tok) - length(b.tok)) <= 1
               AND levenshtein(a.tok, b.tok) <= 1
             ORDER BY tok_a, tok_b"""))

  /** Okapi BM25 term scoring, top-3 terms per document — the ranking
    * function behind most sparse retrieval (and the usual relevance
    * filter in front of a training-data pipeline). Rational-idf variant:
    * idf = (N - df + 0.5) / (df + 0.5) — the Robertson idf WITHOUT the
    * log wrapper, for the same reason q45's tf-idf uses N/df: libm log()
    * is not pinned across engines, a ratio of exact integers (+0.5) is
    * one fixed IEEE op tree. Monotone in the logged form at fixed tf, so
    * rankings agree where it matters. k1=1.2, b=0.75 (the textbook
    * defaults), written as one identical left-associated op tree on both
    * engines.
    *
    * Scale shape: same skeleton as q45 — one aggregate over the landed
    * token table builds the (doc, tok, tf) table, persisted because
    * q162 measured slower without it (see Tables.eager); dl(doc) and
    * df(tok) are both group-bys of it; the dl join co-locates with tf's
    * own doc_id grouping, the df join shuffles on tok (broadcast while
    * the vocabulary fits, AQE decides otherwise), corpus-level (N,
    * avgdl) is a 1-row broadcast. Top-3 per doc is a bounded per-doc
    * window, never a global sort.
    */
  val q162Bm25Topk: Q = Q(
    "q162_bm25_topk",
    (s, dir) => {
      val tf = Tables.eager(tokenTable(s, dir)
        .select(col("doc_id"), col("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // one row: N docs + mean doc length (exact integer sum, then one
      // double division — identical op tree in the oracle)
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val score =
        (col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl")))) *
          ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .as("score")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok").asc)
      tf.join(dl, Seq("doc_id")).join(df, Seq("tok"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("tok"), score)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf
                   FROM toks GROUP BY doc_id, tok),
            dls AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
            dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            stats AS (SELECT count(*) AS n,
                CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls),
            scored AS (SELECT tf.doc_id, tf.tok,
                CAST(tf.tf AS DOUBLE) * 2.2
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dls.dl AS DOUBLE) / avgdl)))
                  * ((n - df + 0.5) / (df + 0.5)) AS score
              FROM tf
              JOIN dls USING (doc_id)
              JOIN dfs USING (tok), stats),
            ranked AS (SELECT doc_id, tok, score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, tok ASC) AS rank
              FROM scored)
            SELECT doc_id, rank, tok, score FROM ranked
            WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Reciprocal-rank fusion of two top-100 document rankings — the
    * standard way to merge heterogeneous retrieval signals (sparse +
    * dense, or here: longest-document vs highest type-token-ratio)
    * without score calibration: fused = Σ 1/(60 + rank_i), the k=60
    * constant from the original RRF formulation, summed over the lists
    * a document appears in.
    *
    * Scale shape: RRF is defined over top-K LISTS, not whole-corpus
    * ranks — each list is orderBy+limit(100) = TakeOrderedAndProject
    * (distributed per-partition heaps, no global sort), and the global
    * row_number windows run AFTER the limit, over ≤100 rows, so the
    * single-partition window is bounded by construction at any corpus
    * size. The two lists full-outer-join on doc_id (both tiny →
    * broadcast); docs absent from a list contribute 0 from it.
    */
  val q163RrfFusion: Q = Q(
    "q163_rrf_fusion",
    (s, dir) => {
      val per = tokenTable(s, dir)
        .select(col("doc_id"), col("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dl"), count_distinct(col("tok")).as("uniq"))
      val byLen = per.orderBy(col("dl").desc, col("doc_id").asc).limit(100)
        .withColumn("ra", row_number().over(
          Window.orderBy(col("dl").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("ra"))
      val ttr = (col("uniq").cast("double") / col("dl")).as("ttr")
      val byTtr = per.select(col("doc_id"), ttr)
        .orderBy(col("ttr").desc, col("doc_id").asc).limit(100)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("ttr").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rb"))
      byLen.join(byTtr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            per AS (SELECT doc_id, count(*) AS dl,
                count(DISTINCT tok) AS uniq
              FROM toks GROUP BY doc_id),
            la AS (SELECT doc_id,
                row_number() OVER (ORDER BY dl DESC, doc_id ASC) AS ra
              FROM per ORDER BY dl DESC, doc_id ASC LIMIT 100),
            lb AS (SELECT doc_id,
                row_number() OVER (
                  ORDER BY CAST(uniq AS DOUBLE) / dl DESC, doc_id ASC) AS rb
              FROM per
              ORDER BY CAST(uniq AS DOUBLE) / dl DESC, doc_id ASC LIMIT 100),
            fused AS (SELECT doc_id,
                coalesce(CAST(1 AS DOUBLE) / (60 + ra), CAST(0 AS DOUBLE))
                  + coalesce(CAST(1 AS DOUBLE) / (60 + rb), CAST(0 AS DOUBLE))
                  AS rrf
              FROM la FULL JOIN lb USING (doc_id))
            SELECT doc_id, rrf FROM fused
            ORDER BY rrf DESC, doc_id ASC LIMIT 20"""))

  /** Deterministic epoch sharding — the loader-facing layout step after
    * split/packing: every document gets a reproducible pseudo-random
    * 32-bit key from a seeded content-id hash, shard =
    * key mod 16, within-shard read order = the key itself. No RNG
    * state: the same corpus + seed yields the same shards and the same
    * order on any engine, cluster size, or rerun (change the seed
    * string to reshuffle between epochs). Audit output per shard: doc
    * and token counts (balance), distinct-key count (the permutation's
    * injectivity on this corpus), and the key range.
    *
    * Scale shape: one projection (md5 is per-row, codegen'd) + one
    * 16-group aggregate with map-side partials; the same key is the
    * `repartitionByRange` sort key when materializing actual shard
    * files.
    */
  val q166EpochShard: Q = Q(
    "q166_epoch_shard",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val key = Text.hash32(
        concat(col("doc_id").cast("string"), lit(":epoch1")))
      docs.select(col("doc_id"), key.as("k"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(pmod(col("k"), lit(16L)).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("k")).as("n_keys_distinct"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy(col("shard"))
    },
    Some("""WITH keyed AS (SELECT doc_id,
                ('0x' || substring(md5(doc_id::VARCHAR || ':epoch1'), 1, 8))::BIGINT
                  AS k,
                len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents)
            SELECT k % 16 AS shard, count(*) AS n_docs,
              count(DISTINCT k) AS n_keys_distinct,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              min(k) AS min_key, max(k) AS max_key
            FROM keyed GROUP BY 1 ORDER BY 1"""))

  /** Resharding movement audit: mod-N vs rendezvous (HRW) hashing when
    * a 17th shard joins 16 — the economics of growing a sharded corpus
    * layout (q166's sharding is mod-based; this query measures what
    * that choice costs at reshard time). Under `key mod N`, almost
    * every key moves when N changes (≈ 15/16 expected); under
    * rendezvous hashing — each key goes to argmax over shards of
    * hash(key, shard) — ONLY the keys won by the new shard move
    * (≈ 1/17), which is the consistent-hashing guarantee without a
    * ring. Assignment ties break by shard id, identically on both
    * engines. One row: key count, moved counts and exact moved
    * fractions for both schemes.
    *
    * Scale shape: keys x shards is a broadcast-style bounded expansion
    * (17 rows per key, the shard table is a literal), reduced by a
    * per-key argmax with map-side partial aggregation; no shuffle
    * carries more than one row per (key, scheme).
    */
  val q177ReshardMovement: Q = Q(
    "q177_reshard_movement",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val key = Text.hash32(col("doc_id").cast("string"))
      val base = docs.select(col("doc_id"), key.as("k"))
      val shards17 = (0 until 17).map(lit(_))
      val expanded = base.select(col("doc_id"), col("k"),
          explode(array(shards17: _*)).as("shard"))
        .withColumn("w", Text.hash32(
          concat(col("doc_id").cast("string"), lit(":"), col("shard"))))
      // argmax over (w, shard): struct max — deterministic tiebreak
      def hrw(maxShard: Int) = expanded
        .filter(col("shard") < maxShard)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("w"), col("shard"))).getField("shard")
          .as(s"hrw$maxShard"))
      base
        .join(hrw(16), Seq("doc_id"))
        .join(hrw(17), Seq("doc_id"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(pmod(col("k"), lit(16L)) =!= pmod(col("k"), lit(17L)), 1L)
            .otherwise(0L)).as("moved_mod"),
          sum(when(col("hrw16") =!= col("hrw17"), 1L).otherwise(0L))
            .as("moved_hrw"))
        .select(col("n_keys"), col("moved_mod"), col("moved_hrw"),
          (col("moved_mod").cast("double") / col("n_keys").cast("double"))
            .as("frac_mod"),
          (col("moved_hrw").cast("double") / col("n_keys").cast("double"))
            .as("frac_hrw"))
    },
    Some("""WITH base AS (SELECT doc_id,
                ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS k
              FROM documents),
            ex AS (SELECT doc_id, k, shard,
                ('0x' || substring(md5(doc_id::VARCHAR || ':' || shard), 1, 8))::BIGINT
                  AS w
              FROM base, (SELECT unnest(range(0, 17)) AS shard)),
            h16 AS (SELECT doc_id, shard AS hrw16 FROM (
                SELECT doc_id, shard, row_number() OVER (
                  PARTITION BY doc_id ORDER BY w DESC, shard DESC) AS rn
                FROM ex WHERE shard < 16) WHERE rn = 1),
            h17 AS (SELECT doc_id, shard AS hrw17 FROM (
                SELECT doc_id, shard, row_number() OVER (
                  PARTITION BY doc_id ORDER BY w DESC, shard DESC) AS rn
                FROM ex) WHERE rn = 1)
            SELECT count(*) AS n_keys,
              CAST(sum(CASE WHEN k % 16 != k % 17 THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_mod,
              CAST(sum(CASE WHEN hrw16 != hrw17 THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_hrw,
              CAST(sum(CASE WHEN k % 16 != k % 17 THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_mod,
              CAST(sum(CASE WHEN hrw16 != hrw17 THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_hrw
            FROM base JOIN h16 USING (doc_id) JOIN h17 USING (doc_id)"""))

  /** Nested data ladder for scaling-law runs — the 10 % / 25 % / 50 % /
    * 100 % corpus subsets a data-scaling experiment trains on, with the
    * property that makes the ladder VALID: each rung strictly CONTAINS
    * the previous one, guaranteed by thresholding ONE reproducible
    * per-doc hash (doc in rung r iff hash32 * 100 < 2^32 * pct_r) —
    * never independent samples, whose rungs would overlap only
    * partially and confound the curve. Per rung: doc count, exact token
    * count, and DISTINCT-token vocabulary size — the sublinear
    * vocabulary growth (Heaps' law) visible right in the output.
    *
    * ## 100 TB notes
    * Membership is a per-row hash compare (codegen'd, no RNG state);
    * the x4 rung expansion happens AFTER the per-doc rollup (docs x 4,
    * not tokens x 4); the vocabulary count per rung is the only
    * heavyweight — a (rung, token) distinct then a 4-group count, both
    * map-side combined, shuffling at most 4 x |vocab| rows.
    */
  val q200DataLadder: Q = Q(
    "q200_data_ladder",
    (s, dir) => {
      val pcts = Seq(10L, 25L, 50L, 100L)
      val keyed = Tables.load(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"),
          Text.hash32(concat(col("doc_id").cast("string"), lit(":ladder")))
            .as("k"))
      val rungs = keyed
        .select(col("doc_id"), col("toks"), col("k"),
          explode(array(pcts.map(lit(_)): _*)).as("pct"))
        .filter(col("k") * 100 < lit(4294967296L) * col("pct"))
      val docStats = rungs.groupBy(col("pct"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks")).cast("long")).as("n_tokens"))
      val vocab = rungs
        .select(col("pct"), explode(col("toks")).as("tok"))
        .distinct()
        .groupBy(col("pct")).agg(count(lit(1)).as("n_vocab"))
      docStats.join(vocab, Seq("pct"))
        .orderBy(col("pct"))
    },
    Some("""WITH keyed AS (SELECT doc_id, string_split(text, ' ') AS toks,
                ('0x' || substring(md5(doc_id::VARCHAR || ':ladder'), 1, 8))
                  ::BIGINT AS k
              FROM documents),
            rungs AS (SELECT doc_id, toks, pct
              FROM keyed, (SELECT unnest([10, 25, 50, 100]) AS pct)
              WHERE k * 100 < 4294967296 * pct),
            ds AS (SELECT pct, count(*) AS n_docs,
                CAST(sum(len(toks)) AS BIGINT) AS n_tokens
              FROM rungs GROUP BY pct),
            vc AS (SELECT pct, count(*) AS n_vocab
              FROM (SELECT DISTINCT pct, unnest(toks) AS tok FROM rungs)
              GROUP BY pct)
            SELECT ds.pct, n_docs, n_tokens, n_vocab
            FROM ds JOIN vc ON ds.pct = vc.pct
            ORDER BY ds.pct"""))

  /** Medallion row-provenance waterfall — the observability report the
    * reference's quality layer implies but never emits
    * (plugins/data_quality_operator.py raises on the FIRST failure;
    * this accounts for EVERY row): the corpus flows through the
    * bronze->silver gauntlet — (1) null-or-empty text, (2) too-short
    * (< 150 chars), (3) unsupported language (the tokenizer supports
    * en/es/de/zh; fr is dropped), (4) exact-duplicate (non-first of an
    * identical-fingerprint group, sequenced AFTER the content filters
    * so a short dup counts as short, matching pipeline order) — and
    * every row lands in exactly the FIRST stage that rejects it, or in
    * `kept`. Per stage: rows dropped and rows remaining; the spec
    * asserts the waterfall telescopes (each remaining = previous
    * remaining - dropped; kept = final remaining).
    *
    * ## 100 TB notes
    * One pass computes all reject flags (codegen'd projections); only
    * the survivors of stages 1-3 reach the dedup window (partitioned
    * by fingerprint — bounded groups); the final accounting is a 1-row
    * conditional aggregate expanded to the 5-row report by literal
    * selects, not re-scans.
    */
  val q204MedallionWaterfall: Q = Q(
    "q204_medallion_waterfall",
    (s, dir) => {
      val langs = Seq("en", "es", "de", "zh")
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          Text.fingerprint(col("text")).as("fp"))
        .withColumn("f1", col("text").isNull || col("text") === "")
        .withColumn("f2", !col("f1") && col("n_chars") < 150)
        .withColumn("f3", !col("f1") && !col("f2") &&
          !col("lang").isin(langs: _*))
      val surv = docs.filter(!col("f1") && !col("f2") && !col("f3"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .withColumn("f4", col("rn") > 1)
      val head = docs.agg(count(lit(1)).as("n0"),
        count(when(col("f1"), 1)).as("d1"),
        count(when(col("f2"), 1)).as("d2"),
        count(when(col("f3"), 1)).as("d3"))
      val tail = surv.agg(count(when(col("f4"), 1)).as("d4"),
        count(when(!col("f4"), 1)).as("kept"))
      val w = head.crossJoin(broadcast(tail))
      Seq(
        w.select(lit("1_null_empty").as("stage"), col("d1").as("n_dropped"),
          (col("n0") - col("d1")).as("n_remaining")),
        w.select(lit("2_too_short").as("stage"), col("d2").as("n_dropped"),
          (col("n0") - col("d1") - col("d2")).as("n_remaining")),
        w.select(lit("3_unsupported_lang").as("stage"),
          col("d3").as("n_dropped"),
          (col("n0") - col("d1") - col("d2") - col("d3")).as("n_remaining")),
        w.select(lit("4_exact_dup").as("stage"), col("d4").as("n_dropped"),
          col("kept").as("n_remaining")),
        w.select(lit("5_kept").as("stage"), lit(0L).as("n_dropped"),
          col("kept").as("n_remaining")))
        .reduce(_.unionByName(_))
        .orderBy(col("stage"))
    },
    Some("""WITH d AS (SELECT doc_id, text, lang, n_chars,
                md5(trim(lower(text))) AS fp,
                (text IS NULL OR text = '') AS f1
              FROM documents),
            d2 AS (SELECT *,
                (NOT f1 AND n_chars < 150) AS f2
              FROM d),
            d3 AS (SELECT *,
                (NOT f1 AND NOT f2 AND lang NOT IN ('en','es','de','zh'))
                  AS f3
              FROM d2),
            surv AS (SELECT *, row_number() OVER (PARTITION BY fp
                  ORDER BY doc_id) > 1 AS f4
              FROM d3 WHERE NOT f1 AND NOT f2 AND NOT f3),
            h AS (SELECT count(*) AS n0,
                count(CASE WHEN f1 THEN 1 END) AS d1,
                count(CASE WHEN f2 THEN 1 END) AS d2,
                count(CASE WHEN f3 THEN 1 END) AS d3
              FROM d3),
            t AS (SELECT count(CASE WHEN f4 THEN 1 END) AS d4,
                count(CASE WHEN NOT f4 THEN 1 END) AS kept
              FROM surv)
            SELECT stage, n_dropped, n_remaining FROM (
              SELECT '1_null_empty' AS stage, d1 AS n_dropped,
                n0 - d1 AS n_remaining FROM h, t
              UNION ALL
              SELECT '2_too_short', d2, n0 - d1 - d2 FROM h, t
              UNION ALL
              SELECT '3_unsupported_lang', d3, n0 - d1 - d2 - d3 FROM h, t
              UNION ALL
              SELECT '4_exact_dup', d4, kept FROM h, t
              UNION ALL
              SELECT '5_kept', 0, kept FROM h, t)
            ORDER BY stage"""))

  /** Split balance audit — after q48 assigns train/val/test by content
    * hash, is each split REPRESENTATIVE? A hash split guarantees
    * determinism and leak-freedom (q70), but nothing about balance:
    * a language that hashes unluckily can end up over-represented in
    * val, and every metric computed on that split inherits the skew.
    * One row per (split, lang): document count, exact token count,
    * mean tokens per doc, and the language's share WITHIN its split
    * (the number to compare across rows of the same lang) — shares and
    * means are single double divisions of exact integers, the split
    * totals window over the |splits| x |langs| aggregate.
    *
    * ## 100 TB notes
    * Pure projection (hash + token count) into one map-side-combined
    * group-by on a ~15-cell key; the share window runs over that tiny
    * aggregate. No joins, no data-scale window.
    */
  val q221SplitBalance: Q = Q(
    "q221_split_balance",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val cells = docs.select(splitCol.as("split"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      cells
        .withColumn("split_docs",
          sum(col("n_docs")).over(Window.partitionBy(col("split"))))
        .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("mean_tokens"),
          (col("n_docs").cast("double") / col("split_docs").cast("double"))
            .as("share_in_split"))
        .orderBy(col("split"), col("lang"))
    },
    Some(s"""WITH $duckSplitCte,
            cells AS (SELECT sp.split, d.lang, count(*) AS n_docs,
                CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
                  AS n_tokens
              FROM documents d JOIN sp ON sp.doc_id = d.doc_id
              GROUP BY sp.split, d.lang)
            SELECT split, lang, n_docs, n_tokens,
              CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                AS mean_tokens,
              CAST(n_docs AS DOUBLE)
                / CAST(sum(n_docs) OVER (PARTITION BY split) AS DOUBLE)
                AS share_in_split
            FROM cells ORDER BY split, lang"""))

  /** Cohen's kappa for the langid heuristic — q20 prints the confusion
    * matrix; this is the single number reviewers actually compare:
    * chance-corrected agreement between the labeled language and the
    * stopword-argmax prediction. And the whole statistic is ONE exact
    * integer identity: with D = sum of diagonal cells and
    * P = sum over labels of row_total x col_total,
    * kappa = (N*D - P) / (N^2 - P) — the po/pe fractions cancel into
    * integer cross-multiplication, so the only float is the final
    * division (raw accuracy D/N rides along for the naive-baseline
    * contrast kappa exists to correct).
    *
    * ## 100 TB notes
    * The per-doc prediction is q20's explode + conditional-sum shape;
    * the confusion matrix is |langs|^2 cells, marginals and the moment
    * products are driver-scale arithmetic over that tiny aggregate.
    */
  val q240CohensKappa: Q = Q(
    "q240_cohens_kappa",
    (s, dir) => {
      def hits(set: Seq[String]) =
        sum(when(col("tok").isin(set.map(lit): _*), 1L).otherwise(0L))
      val perDoc = tokenTable(s, dir)
        .select(col("doc_id"), col("lang"), col("tok"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(hits(wordsDe).as("s_de"), hits(wordsEn).as("s_en"),
          hits(wordsEs).as("s_es"), hits(wordsFr).as("s_fr"),
          hits(wordsZh).as("s_zh"))
      val (sDe, sEn, sEs, sFr, sZh) =
        (col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"))
      val predicted =
        when(sDe >= sEn && sDe >= sEs && sDe >= sFr && sDe >= sZh, "de")
          .when(sEn >= sEs && sEn >= sFr && sEn >= sZh, "en")
          .when(sEs >= sFr && sEs >= sZh, "es")
          .when(sFr >= sZh, "fr")
          .otherwise("zh")
      val cells = perDoc.select(col("lang"), predicted.as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("c"))
      val rows = cells.groupBy(col("lang").as("k"))
        .agg(sum(col("c")).as("row_n"))
      val cols = cells.groupBy(col("predicted").as("k"))
        .agg(sum(col("c")).as("col_n"))
      val p = rows.join(cols, Seq("k"))
        .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("p"))
      val dn = cells.agg(sum(col("c")).as("n"),
        sum(when(col("lang") === col("predicted"), col("c"))
          .otherwise(0L)).as("d"))
      dn.crossJoin(broadcast(p))
        .select(col("n").as("n_docs"), col("d").as("d_agree"),
          col("p").as("p_chance_num"),
          (col("d").cast("double") / col("n").cast("double"))
            .as("accuracy"),
          ((col("n") * col("d") - col("p")).cast("double") /
            (col("n") * col("n") - col("p")).cast("double")).as("kappa"))
    },
    Some(s"""WITH pd AS (SELECT lang,
                 CASE
                   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                     AND s_de >= s_zh THEN 'de'
                   WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
                     THEN 'en'
                   WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                   WHEN s_fr >= s_zh THEN 'fr'
                   ELSE 'zh' END AS predicted
               FROM (SELECT lang,
                       ${duckHits(wordsDe)} AS s_de,
                       ${duckHits(wordsEn)} AS s_en,
                       ${duckHits(wordsEs)} AS s_es,
                       ${duckHits(wordsFr)} AS s_fr,
                       ${duckHits(wordsZh)} AS s_zh
                     FROM documents WHERE text IS NOT NULL)),
             cells AS (SELECT lang, predicted, count(*) AS c
                       FROM pd GROUP BY lang, predicted),
             r AS (SELECT lang AS k, CAST(sum(c) AS BIGINT) AS row_n
                   FROM cells GROUP BY lang),
             cl AS (SELECT predicted AS k, CAST(sum(c) AS BIGINT) AS col_n
                    FROM cells GROUP BY predicted),
             p AS (SELECT CAST(coalesce(sum(row_n * col_n), 0) AS BIGINT)
                     AS p
                   FROM r JOIN cl ON r.k = cl.k),
             dn AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN lang = predicted THEN c ELSE 0 END)
                   AS BIGINT) AS d
               FROM cells)
             SELECT n AS n_docs, d AS d_agree, p AS p_chance_num,
               CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
               CAST(n * d - p AS DOUBLE) / CAST(n * n - p AS DOUBLE)
                 AS kappa
             FROM dn, p"""))

  /** Quality x duplication contingency — are near-duplicates DIFFERENT
    * in quality from unique docs? Crosses the dedup-cluster relation
    * (q43/q59's component labels: a doc is a dup iff it belongs to any
    * >= 2-member cluster — the exact+Levenshtein edge closure, read
    * from the landed label table) with the quality gate (q21's score at
    * 0.3, the corpus midpoint) into the 2x2 cell table plus the odds
    * ratio — the interaction audit run before anyone orders "dedup then
    * quality-filter" as if the two were independent (a strong positive
    * association means dedup is already doing much of the quality
    * filter's work, and the filter's measured yield on the deduped
    * corpus will disappoint). Cell counts are exact; each row carries
    * cell_ppm (exact integer) and the one odds ratio (a*d)/(b*c) as a
    * single double op tree, NULL when any off-diagonal cell is empty —
    * identical on both engines.
    *
    * ## 100 TB notes
    * The dup relation is the ALREADY-LANDED clustering (one parquet
    * scan + a left-semi-shaped join on doc_id); the score is a map-side
    * projection; the rollup has 4 groups. The odds ratio attaches from
    * a 1-row broadcast.
    */
  val q263QualityDupMatrix: Q = Q(
    "q263_quality_dup_matrix",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), (qualityScoreCol >= 0.3).as("is_hq"))
      val dupMembers = DedupQueries.componentLabelTable(s, dir)
        .select(col("doc_id"), lit(true).as("is_dup"))
      val cells = docs.join(dupMembers, Seq("doc_id"), "left")
        .select(coalesce(col("is_dup"), lit(false)).as("is_dup"),
          col("is_hq"))
        .groupBy(col("is_dup"), col("is_hq"))
        .agg(count(lit(1)).as("n_docs"))
      val totals = cells.agg(
        sum(col("n_docs")).as("n_total"),
        sum(when(col("is_dup") && col("is_hq"), col("n_docs"))
          .otherwise(0L)).as("a"),
        sum(when(col("is_dup") && !col("is_hq"), col("n_docs"))
          .otherwise(0L)).as("b"),
        sum(when(!col("is_dup") && col("is_hq"), col("n_docs"))
          .otherwise(0L)).as("c"),
        sum(when(!col("is_dup") && !col("is_hq"), col("n_docs"))
          .otherwise(0L)).as("d")) // 1 row
      cells.crossJoin(broadcast(totals))
        .select(col("is_dup"), col("is_hq"), col("n_docs"),
          expr("n_docs * 1000000 div n_total").as("cell_ppm"),
          when(col("b") > 0 && col("c") > 0,
            (col("a") * col("d")).cast("double") /
              (col("b") * col("c")).cast("double"))
            .as("odds_ratio"))
        .orderBy(col("is_dup"), col("is_hq"))
    },
    Some(s"""WITH RECURSIVE ${DedupQueries.duckComponentCtes},
             docs AS (SELECT doc_id, ($duckScore) >= 0.3 AS is_hq
                  FROM documents),
             x AS (SELECT doc_id IN (SELECT doc_id FROM comp) AS is_dup,
                     is_hq
                   FROM docs),
             cells AS (SELECT is_dup, is_hq, count(*) AS n_docs
                       FROM x GROUP BY is_dup, is_hq),
             t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                     CAST(coalesce(sum(n_docs) FILTER (is_dup AND is_hq),
                       0) AS BIGINT) AS a,
                     CAST(coalesce(sum(n_docs) FILTER (is_dup AND NOT is_hq),
                       0) AS BIGINT) AS b,
                     CAST(coalesce(sum(n_docs) FILTER (NOT is_dup AND is_hq),
                       0) AS BIGINT) AS c,
                     CAST(coalesce(sum(n_docs) FILTER
                       (NOT is_dup AND NOT is_hq), 0) AS BIGINT) AS d
                   FROM cells)
             SELECT is_dup, is_hq, n_docs,
               n_docs * 1000000 // n_total AS cell_ppm,
               CASE WHEN b > 0 AND c > 0
                    THEN CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
                    END AS odds_ratio
             FROM cells, t ORDER BY is_dup, is_hq"""))

  /** Fixed-size deterministic stratified sample: EXACTLY k = 50 docs
    * per language (fewer only if the stratum is smaller), chosen by
    * seeded-hash order — the distributed, re-runnable equivalent of
    * per-stratum reservoir sampling. Ranking by `md5(doc_id)` gives a
    * uniform pseudo-random permutation that any worker reproduces
    * byte-for-byte (same doc set → same sample, regardless of
    * partitioning or execution order), unlike a true reservoir pass
    * whose result depends on encounter order. q51 is the keep-RATE
    * (Bernoulli) sampler — its sample size is binomial; this is the
    * fixed-SIZE side of the same coin, the one eval-set builders need
    * ("exactly 50 held-out docs per language").
    *
    * ## 100 TB notes
    * Round 20: the per-stratum rank rides
    * [[graft.engine.Cumulative.groupedRankedCumSums]] — a window
    * `PARTITION BY lang` is |langs| single-task partitions, the
    * collapsed-window class (the old note called it "per-stratum state
    * only", which is exactly the collapse). Range partitioning spreads
    * every stratum across tasks; a per-partition top-k pre-filter
    * (TakeOrderedAndProject shape) remains the further optimization if
    * the rank table itself ever mattered — the output is k·|strata|
    * rows either way, and hash-rank selection is a pure total order so
    * the sample is partitioning-invariant.
    */
  val q269FixedSample: Q = Q(
    "q269_fixed_sample",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val h = md5(col("doc_id").cast("string"))
      graft.engine.Cumulative.groupedRankedCumSums(
        docs.select(col("lang"), col("doc_id"), col("n_chars"),
          h.as("__h")),
        Seq(col("lang")), Seq(col("__h").asc, col("doc_id").asc))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "rk")
    },
    Some("""WITH r AS (SELECT lang, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                  AS rk
              FROM documents)
            SELECT lang, rk, doc_id, n_chars
            FROM r WHERE rk <= 50 ORDER BY lang, rk"""))

  /** Epoch-shuffle mixing audit: after the standard hash-shuffle
    * (global order by `md5(doc_id)` — q166's epoch-shard permutation),
    * does every consecutive 100-doc reader block actually see a MIX of
    * sources, or do stretches of one source survive? Per block the
    * audit takes the top source's share in exact ppm (`max count *
    * 1e6 div block size`) and the distinct-source count, then folds
    * the |blocks|-sized table into a bounded histogram over 10 %
    * share bands: blocks per band, min/max observed top-share, and
    * the worst block's distinct-source count. A well-mixed corpus
    * concentrates in the band around the largest source's global
    * share; mass in high bands means the dataloader would feed
    * single-source runs (the curriculum-breaking failure mode
    * shuffling exists to prevent).
    *
    * ## 100 TB notes
    * The global rank uses [[graft.engine.Cumulative.rankedCumSum]] —
    * range-repartition + per-partition windows + broadcast offsets, no
    * single-partition WindowExec (the q155 discipline). The per-block
    * aggregation is a bounded two-level group-by (block, source) with
    * map-side partials; the histogram is 10 rows no matter the corpus
    * size.
    */
  val q270ShuffleMixing: Q = Q(
    "q270_shuffle_mixing",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
      val ranked = graft.engine.Cumulative.rankedCumSum(
        docs, Seq(col("h").asc, col("doc_id").asc), lit(1L))
      val blocks = ranked
        .select(expr("(rk - 1) div 100").as("block"), col("source"))
        .groupBy(col("block"), col("source"))
        .agg(count(lit(1)).as("cnt"))
      val perBlock = blocks.groupBy(col("block"))
        .agg(sum(col("cnt")).as("bn"), max(col("cnt")).as("maxc"),
          count(lit(1)).as("n_sources"))
        .select(col("block"),
          expr("maxc * 1000000 div bn").as("top_share_ppm"),
          col("n_sources"))
      perBlock
        .select(expr("least(top_share_ppm div 100000, 9L)").as("band"),
          col("top_share_ppm"), col("n_sources"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_blocks"),
          min(col("top_share_ppm")).as("min_share_ppm"),
          max(col("top_share_ppm")).as("max_share_ppm"),
          min(col("n_sources")).as("min_sources"))
        .orderBy("band")
    },
    Some("""WITH r AS (SELECT source,
                row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                  ASC, doc_id ASC) AS rk
              FROM documents),
            bs AS (SELECT (rk - 1) // 100 AS block, source,
                     count(*) AS cnt
                   FROM r GROUP BY 1, 2),
            pb AS (SELECT block, CAST(sum(cnt) AS BIGINT) AS bn,
                     CAST(max(cnt) AS BIGINT) AS maxc,
                     count(*) AS n_sources
                   FROM bs GROUP BY 1),
            sh AS (SELECT block, maxc * 1000000 // bn AS top_share_ppm,
                     n_sources
                   FROM pb)
            SELECT least(top_share_ppm // 100000, 9) AS band,
              count(*) AS n_blocks,
              min(top_share_ppm) AS min_share_ppm,
              max(top_share_ppm) AS max_share_ppm,
              min(n_sources) AS min_sources
            FROM sh GROUP BY 1 ORDER BY band"""))

  /** Deterministic proportional interleaver — stride scheduling for
    * the training dataloader: within each source, docs are ranked by
    * seeded hash; each doc's VIRTUAL TIME is its source-local rank
    * scaled by the source's inverse share (`vt = rk_s * 1e9 div w_s`
    * — exact BIGINT, the classic stride-scheduler pass ticket), and
    * the global read order sorts by (vt, source, rank). That order
    * provably interleaves sources in proportion CONTINUOUSLY — every
    * consecutive 100-doc batch carries each source at close to its
    * corpus share, unlike a plain hash shuffle (q270) whose per-block
    * shares only CONCENTRATE around proportional. The audit emits,
    * per batch, the worst per-source deviation from proportional in
    * exact ppm — the number that stays small here and noisy under
    * q270's hash order.
    *
    * ## 100 TB notes
    * Per-source ranks come from
    * [[graft.engine.Cumulative.groupedRankedCumSums]] (round 20: a
    * window PARTITIONED BY source is |sources| single-task partitions —
    * the collapsed-window class, NOT "bounded strata" as this note
    * once claimed); the global order is
    * [[graft.engine.Cumulative.rankedCumSum]] over the virtual-time
    * key — range partition + broadcast offsets, no single-partition
    * window. The per-batch totals window partitions by `batch`, a key
    * that SCALES with the corpus (one partition per 100-doc batch).
    * The deviation check is a bounded two-level group-by.
    * Everything is integer: `|cnt*W - w_s*bn|` cross-multiplication
    * avoids any rational arithmetic. Headroom: the fixed-point ticket
    * `rk_s * 1e9` stays inside int64 up to ~9.2e9 docs per source;
    * past that (a 100 TB corpus can exceed it) shard each source into
    * sub-sources first or widen the product to decimal(38,0) — the
    * tie-break keeps the order deterministic either way.
    */
  val q274StrideInterleave: Q = Q(
    "q274_stride_interleave",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
      // r21: the per-source weight w_s rides the helper's totalName
      // (computed from its bounded cell table), so the ticket projection
      // below needs no full-data weights join; the standalone `weights`
      // aggregate survives only for the bounded per-batch check
      val rankedSrc = graft.engine.Cumulative.groupedRankedCumSums(
        docs, Seq(col("source")),
        Seq(col("h").asc, col("doc_id").asc), rkName = "rk_s",
        totalName = Some("w_s"))
      val weights = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("w_s"))
      val tot = docs.agg(count(lit(1)).as("w_tot")) // 1 row
      val vt = rankedSrc
        .select(col("source"), col("rk_s"),
          expr("rk_s * 1000000000 div w_s").as("vt"))
      val ordered = graft.engine.Cumulative.rankedCumSum(
        vt, Seq(col("vt").asc, col("source").asc, col("rk_s").asc),
        lit(1L), rkName = "grk")
      val perBatchSrc = ordered
        .select(expr("(grk - 1) div 100").as("batch"), col("source"))
        .groupBy(col("batch"), col("source"))
        .agg(count(lit(1)).as("cnt"))
      perBatchSrc
        .join(broadcast(weights), "source")
        .crossJoin(broadcast(tot))
        .withColumn("bn",
          sum(col("cnt")).over(Window.partitionBy(col("batch"))))
        .groupBy(col("batch"))
        .agg(max(col("bn")).as("batch_size"),
          count(lit(1)).as("n_sources"),
          max(expr("abs(cnt * w_tot - w_s * bn) * 1000000" +
            " div (bn * w_tot)")).as("max_dev_ppm"))
        .orderBy("batch")
    },
    Some("""WITH d AS (SELECT doc_id, source,
                md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
            rs AS (SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY h ASC, doc_id ASC) AS rk_s
                   FROM d),
            w AS (SELECT source, count(*) AS w_s FROM d GROUP BY 1),
            t AS (SELECT count(*) AS w_tot FROM d),
            v AS (SELECT rs.source, rs.rk_s,
                    rs.rk_s * 1000000000 // w.w_s AS vt
                  FROM rs JOIN w USING (source)),
            o AS (SELECT source,
                    row_number() OVER (ORDER BY vt ASC, source ASC,
                      rk_s ASC) AS grk
                  FROM v),
            pb AS (SELECT (grk - 1) // 100 AS batch, source,
                     count(*) AS cnt
                   FROM o GROUP BY 1, 2),
            pbb AS (SELECT batch, source, cnt,
                      CAST(sum(cnt) OVER (PARTITION BY batch) AS BIGINT)
                        AS bn
                    FROM pb)
            SELECT batch, max(bn) AS batch_size,
              count(*) AS n_sources,
              CAST(max(abs(cnt * w_tot - w_s * bn) * 1000000
                // (bn * w_tot)) AS BIGINT) AS max_dev_ppm
            FROM pbb JOIN w USING (source) CROSS JOIN t
            GROUP BY 1 ORDER BY batch"""))

  val all: Seq[Q] =
    Seq(q18TextStats, q19TermFreq, q20LangId, q21QualityScore, q22RegexTokens,
      q39WinnowFp, q42EditDistance, q45TfidfTopk, q48SplitAssign,
      q51StratifiedSample, q54Sketches, q62PackSequences, q67Repetition,
      q68MixtureRebalance, q70SplitLeakage, q72CorpusFunnel,
      q82TokenBudget, q134SentenceStats, q137SymspellJoin,
      q162Bm25Topk, q163RrfFusion, q166EpochShard, q177ReshardMovement,
      q200DataLadder, q204MedallionWaterfall, q221SplitBalance,
      q240CohensKappa, q263QualityDupMatrix, q269FixedSample,
      q270ShuffleMixing, q274StrideInterleave)
}
