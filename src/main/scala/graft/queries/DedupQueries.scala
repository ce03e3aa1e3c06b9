package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.{Fixpoint, Tables}
import graft.engine.ext.Text

/** Deduplication suite over `documents` (SURVEY.md §7.4 north-star):
  * exact (fingerprint), MinHash+LSH, rare-shingle-blocked n-gram Jaccard,
  * and SimHash near-dup detection.
  *
  * ## 100 TB notes
  * The cardinal rule at scale: candidate generation is always BUCKETED —
  * documents only meet inside an LSH band bucket / rare-shingle block /
  * simhash byte-band, so the join is an equi-join Catalyst shuffles on the
  * bucket key (or broadcasts when one side is small). There is no
  * cross join anywhere. Signatures are computed as explode -> flat
  * groupBy aggregates (partial aggregation collapses to one row per doc
  * map-side; see the q24 note for why NOT nested array HOFs); only the
  * signature/band tables and the candidate pairs are ever shuffled.
  * Skewed buckets (a shingle shared by millions of docs) are excluded
  * up-front by the df-bound on blocking shingles — the same technique
  * that bounds bucket size at 100 TB.
  */
object DedupQueries {

  private val K = 3        // shingle width (tokens)
  private val Wd = 3       // SNM window span: pairs <= Wd ranks apart (q180)
  private val NumHashes = 16
  private val Bands = 4    // 4 bands x 4 rows: catches J>=0.8 w.h.p.
  private val RowsPerBand = NumHashes / Bands

  /** doc_id + distinct k-shingle array (the unit near-dup works on),
    * served from the per-JVM landed table ([[docShingleTable]]) so the
    * tokenize+shingle pass over all documents runs once, not once per
    * consumer query.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    docShingleTable(s, dir).select(col("doc_id"), col("sh"))

  /** Number of from-scratch shingle-table computations this JVM has run
    * (spec hook: many consumers, one compute).
    */
  private[graft] val shingleComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Materialized (doc_id, source, sh) distinct-K-shingle table, landed
    * as parquet once per (JVM, dir). The tokenize+shingle projection
    * over every document is the shared prefix of
    * q24/q25/q60/q61/q63/q79/q81/q153/q156/q180/q228/q234/q242 and was
    * recomputed fresh by each — q81 alone re-paid it at ~18 s cold, the
    * suite's heaviest query. Same gold-sink pattern as
    * [[componentLabelTable]] (q59's 2.0 s → 0.23 s precedent): the first
    * consumer computes and writes, every later one scans parquet. At
    * 100 TB this IS the architecture — the shingle projection is a
    * landed silver table shared by the whole dedup family, not a
    * per-query recompute of the corpus tokenization.
    */
  private[queries] def docShingleTable(s: SparkSession,
                                       dir: String): DataFrame =
    Tables.landed(s, "shingles", dir, Seq("documents"),
      shingleComputeCount) {
      // widen: tokenize+shingle is per-row compute-bound, and the
      // single-row-group fixture scan would run it on one thread
      // (no-op at scale — see Tables.widen)
      Tables.widen(s, Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("source"),
          array_distinct(Text.shingles(Text.tokens(col("text")), K))
            .as("sh"))
    }

  /** df-blocked shingle postings (s, doc_id), df(s) ∈ [2, 5] — the
    * candidate-generation relation. Its consumers are
    * [[blockedPairTable]] (the pairs of q25/q171/q172/q228/q234/q242)
    * and q261's anchor-capped self-join. Landed once per (JVM,
    * documents signature) like [[docShingleTable]]: blocking postings
    * are a silver table, not a per-query recompute. (df=1 can't pair;
    * the df cap bounds every block, so the downstream self-join stays
    * skew-safe at scale.)
    */
  private[queries] def rareBlockedShingles(s: SparkSession,
                                           dir: String): DataFrame =
    Tables.landed(s, "rareblk", dir, Seq("documents")) {
      val exploded = shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      val rare = exploded.groupBy(col("s"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 5)
        .select(col("s"))
      exploded.join(rare, Seq("s"))
    }

  /** Number of from-scratch blocked-pair computations this JVM has run
    * (spec hook: many consumers, one compute).
    */
  private[graft] val blockedPairComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The scored rare-shingle candidate pairs (d1, d2, jacc), d1 < d2:
    * every pair of documents sharing a [[rareBlockedShingles]] block,
    * with its exact Jaccard, landed once per (JVM, documents signature)
    * so the candidates are generated and scored once (filter-and-verify).
    * q25, q172 and q234 keep `jacc >= 0.5`; q228 and q242 read it
    * whole; q171 expands both orientations.
    */
  private[queries] def blockedPairTable(s: SparkSession,
                                        dir: String): DataFrame =
    Tables.landed(s, "blkpairs", dir, Seq("documents"),
      blockedPairComputeCount) {
      val blocked = rareBlockedShingles(s, dir)
      val cand = blocked.as("x")
        .join(blocked.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      scorePairs(cand, shingled(s, dir))
    }

  /** The 16-permutation MinHash signature table (doc_id, m0..m15),
    * shared by q24 (banding) and q242 (accuracy audit) — landed once
    * per (JVM, documents signature): signatures are a function of the
    * corpus alone, exactly the artifact a production dedup pipeline
    * computes once and serves to every LSH consumer.
    */
  private[queries] def minhashSigTable(s: SparkSession,
                                       dir: String): DataFrame =
    Tables.landed(s, "minhsig", dir, Seq("documents")) {
      val ex = shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("sch"))
        .select(col("doc_id"), md5(col("sch")).as("m"))
        .select(col("doc_id"),
          conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("h2"))
      val sigCols = (0 until NumHashes).map(i =>
        min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(P))).as(s"m$i"))
      ex.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    }

  private val duckShingled =
    s"""SELECT doc_id,
          list_distinct(list_transform(range(1, greatest(len(toks) - ${K - 1}, 1) + 1),
            i -> array_to_string(toks[i:i+${K - 1}], ' '))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"""

  /** [[duckShingled]] carrying `source` instead of `doc_id` (q81). */
  private val duckShingledSrc =
    s"""SELECT source,
          list_distinct(list_transform(range(1, greatest(len(toks) - ${K - 1}, 1) + 1),
            i -> array_to_string(toks[i:i+${K - 1}], ' '))) AS sh
        FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)"""

  /** Exact set-Jaccard between two distinct-shingle arrays, via the fused
    * codegen'd expression (one pass, no intermediate arrays) — vs the
    * composed size(array_intersect)/size(array_union), which materializes
    * two throwaway arrays per candidate pair. Identical value (double
    * division of the same two integers), so the oracle is unchanged.
    */
  private def jaccard(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.jaccardSim(a, b)

  /** Join (d1, d2) candidate pairs back to the shingle table on both
    * sides and attach their exact Jaccard: the scoring half of
    * [[verifyPairs]] and of [[blockedPairTable]].
    */
  private def scorePairs(cand: DataFrame, base: DataFrame): DataFrame =
    cand
      .join(base.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
      .join(base.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        jaccard(col("sh1"), col("sh2")).as("jacc"))

  /** Candidate verification for the queries whose candidates do not
    * come from the rare-shingle blocks — q24 (LSH bands), q102 (prefix
    * filter) and q180 (sorted neighborhood): score the pairs, keep
    * those with exact Jaccard at or above the threshold.
    */
  private def verifyPairs(cand: DataFrame, base: DataFrame,
                          threshold: Double): DataFrame =
    scorePairs(cand, base)
      .filter(col("jacc") >= threshold)
      .orderBy("d1", "d2")

  /** Oracle mirror of [[verifyPairs]] over CTEs `cand` and `shs`. */
  private def duckVerify(threshold: String): String =
    s"""SELECT d1, d2,
               len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
             FROM cand JOIN shs a ON a.doc_id = d1 JOIN shs b ON b.doc_id = d2
             WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))) >= $threshold
             ORDER BY d1, d2"""

  /** Exact dedup via content fingerprint: md5(normalized text) groups
    * identical docs; keep the lowest doc_id of each group.
    */
  val q23DedupExact: Q = Q(
    "q23_dedup_exact",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val w = Window.partitionBy(col("fp"))
      docs.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .withColumn("rn", row_number().over(w.orderBy(col("doc_id").asc)))
        .withColumn("n_copies", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("fp"), col("n_copies"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, fp, n_copies FROM (
              SELECT doc_id, fp,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
                     count(*) OVER (PARTITION BY fp) AS n_copies
              FROM (SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents))
            WHERE rn = 1 ORDER BY doc_id"""))

  /** Largest 32-bit prime — modulus for the Carter-Wegman hash family. */
  private val P = 4294967291L

  /** MinHash + LSH near-dup, banded 4x4; docs sharing a band bucket become
    * candidates; candidates are verified with exact shingle-set
    * Jaccard >= 0.8.
    *
    * Signature construction is the Carter-Wegman family: ONE md5 per
    * shingle yields (h1, h2) 32-bit halves, and hash_i = (h1 + i*h2) mod P
    * gives 16 independent functions for the price of integer arithmetic —
    * 16x fewer md5 evaluations than hashing (i, shingle) pairs.
    *
    * The signature is computed as explode(shingles) -> hash projection ->
    * groupBy(doc_id) with 16 plain `min` aggregates, NOT as nested
    * higher-order array functions. Nested HOFs build a giant interpreted
    * expression tree whose generated classes took ~11 s of one-time
    * Janino/JIT work at first execution (the data itself computes in
    * <1 s); the flat explode+agg shape is ordinary whole-stage codegen.
    * It is also the scale-correct shape: explode keeps each doc's
    * shingles partition-local, partial aggregation collapses to one row
    * per doc map-side, and only the 5k-rows/partition signature table
    * ever shuffles.
    */
  val q24MinhashLsh: Q = Q(
    "q24_minhash_lsh",
    (s, dir) => {
      val base = shingled(s, dir)
      // the (doc_id, m0..m15) signature table is LANDED once per
      // fixture (shared with q242's accuracy audit) — see
      // [[minhashSigTable]] for the md5-derived permutation family
      val sig = minhashSigTable(s, dir)
      // band table: Bands rows per doc, keyed by the band's joined hashes
      val bkCols = (0 until Bands).map(b =>
        md5(concat_ws(",", (0 until RowsPerBand).map(r =>
          col(s"m${b * RowsPerBand + r}").cast("string")): _*)))
      val bands = sig.select(col("doc_id"),
        posexplode(array(bkCols: _*)).as(Seq("b", "bk")))
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bk") === col("y.bk")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      verifyPairs(cand, base, threshold = 0.8)
    },
    Some(s"""WITH shs AS ($duckShingled),
             sig AS (SELECT doc_id, sh,
                       list_transform(range(0, $NumHashes), i -> list_min(
                         list_transform(
                           list_transform(sh, s -> md5(s)),
                           m -> (('0x' || substring(m, 1, 8))::BIGINT
                             + i * ('0x' || substring(m, 9, 8))::BIGINT) % $P))) AS sig
                     FROM shs),
             bands AS (SELECT doc_id, b,
                         md5(array_to_string(
                           sig[b*$RowsPerBand+1:b*$RowsPerBand+$RowsPerBand], ',')) AS bk
                       FROM sig, range(0, $Bands) t(b)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM bands x JOIN bands y
                        ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id)
             ${duckVerify("0.8")}"""))

  /** N-gram Jaccard with rare-shingle blocking: only shingles with
    * document frequency in [2, 5] generate candidates (df=1 can't pair;
    * a df bound also caps bucket skew at scale), then exact Jaccard >= 0.5.
    */
  val q25JaccardBlocked: Q = Q(
    "q25_jaccard_blocked",
    (s, dir) => {
      blockedPairTable(s, dir).filter(col("jacc") >= 0.5)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id < y.doc_id)
             ${duckVerify("0.5")}"""))

  /** SimHash: 60-bit token-multiset fingerprint per doc; near-dup pairs
    * via 15-bit-band blocking + Hamming distance <= 4. Bit j of the hash
    * is the sign of sum over token occurrences of (+-1 by bit j of the
    * token's 60-bit md5-derived hash) — token frequency weights naturally.
    *
    * The Spark side computes the fingerprint as explode(tokens) ->
    * groupBy(doc_id) with 60 plain conditional-sum aggregates (one per
    * bit), then reassembles the 60-bit hash in a single projection. An
    * earlier version folded the token-hash array with 60 unrolled
    * `aggregate` higher-order functions inside one projection — zero
    * shuffles, but the giant interpreted expression tree cost seconds of
    * one-time codegen/JIT; the flat explode+agg shape is ordinary
    * whole-stage codegen, and partial aggregation collapses the exploded
    * rows to one per doc map-side before the (tiny) shuffle. The oracle
    * computes the same integer math relationally (explode + group-by);
    * all-integer arithmetic makes the two paths bit-identical.
    *
    * Caveats, by design: banding is approximate (a pair with <=4 flipped
    * bits spread over all 4 bands is missed — both engines miss it
    * identically, so parity holds), and on this fixture's shared ~40-word
    * vocabulary simhash separates weakly (random pairs reach hamming 4-5);
    * on a real corpus the hamming gap is far wider.
    */
  val q26Simhash: Q = Q(
    "q26_simhash",
    (s, dir) => {
      // one row per token occurrence (frequency weights naturally), h = 60-bit hash
      val ex = TextQueries.tokenTable(s, dir)
        .select(col("doc_id"), Text.hash60(col("tok")).as("h"))
      // vote_j: +-1 sum over occurrences by bit j of the token hash
      val voteCols = (0 until 60).map { j =>
        sum(when(shiftrightunsigned(col("h"), 59 - j).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"v$j")
      }
      val votes = ex.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      // bit j (weight 2^(59-j)): sign of the vote sum
      val simhash = (0 until 60).map { j =>
        when(col(s"v$j") > 0, lit(1L << (59 - j))).otherwise(0L)
      }.reduce(_ + _)
      val sim = votes.select(col("doc_id"), simhash.as("simhash"))
      // band on each 15-bit quarter: hamming<=4 pairs agree on >=1 band
      // unless the flips cover all 4 bands
      val bvs = array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), 15 * i).bitwiseAND(32767)): _*)
      val bands = sim.select(col("doc_id"), col("simhash"),
          posexplode(bvs).as(Seq("band_i", "bv")))
      val pairs = bands.as("x")
        .join(bands.as("y"),
          col("x.band_i") === col("y.band_i") && col("x.bv") === col("y.bv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.simhash").as("h1"), col("y.simhash").as("h2"))
        .distinct()
      pairs
        .select(col("d1"), col("d2"),
          bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 4)
        .orderBy("d1", "d2")
    },
    Some("""WITH th AS (
              SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents)),
            bits AS (
              SELECT doc_id, j,
                CASE WHEN sum(CASE WHEN (h // power(2, 59-j)::BIGINT) % 2 = 1
                              THEN 1 ELSE -1 END) > 0
                     THEN power(2, 59-j)::BIGINT ELSE 0 END AS w
              FROM th, range(0, 60) r(j) GROUP BY doc_id, j),
            sim AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS simhash
                    FROM bits GROUP BY doc_id),
            bands AS (SELECT doc_id, simhash, b,
                        (simhash // power(2, b*15)::BIGINT) % 32768 AS bv
                      FROM sim, range(0, 4) r(b)),
            pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                        x.simhash AS h1, y.simhash AS h2
                      FROM bands x JOIN bands y
                        ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
            SELECT d1, d2, bit_count(xor(h1, h2))::BIGINT AS hamming
            FROM pairs WHERE bit_count(xor(h1, h2)) <= 4
            ORDER BY d1, d2"""))

  /** From-scratch Levenshtein-pair computations this JVM has run
    * (spec hook, mirrors [[shingleComputeCount]]).
    */
  private[graft] val levPairComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The prefix-blocked Levenshtein near-dup relation (d1, d2, dist) —
    * the suite's most expensive text kernel (blocked self-join + banded
    * edit-distance DP over full document texts), previously recomputed
    * by SIX independent harness entries (q42 directly, q43/q59/q69/q70
    * through the duplicate edge set, q60's admission pass). Landed once
    * per (JVM, documents signature) like the shingle and graph edge
    * tables; its content is itself hash-certified — q42's output IS
    * this table, checked row-for-row against DuckDB's levenshtein().
    */
  private[queries] def levPairTable(s: SparkSession, dir: String): DataFrame =
    Tables.landed(s, "levpairs", dir, Seq("documents"),
      levPairComputeCount) {
      Text.levNearDupPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", blockTokens = 3, maxDist = 40)
    }

  /** From-scratch duplicate-edge-set computations this JVM has run
    * (spec hook).
    */
  private[graft] val dupEdgeComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The duplicate-pair edge set: exact-fingerprint pairs union the
    * prefix-blocked Levenshtein near-dup relation ([[levPairTable]]).
    * Landed once per (JVM, documents signature) — q43, q59 (through
    * [[componentLabels]]), q69 and q70 all cluster exactly this
    * relation, and each previously rebuilt it per invocation. The
    * clustering ITERATIONS still run from scratch where the oracle
    * demands it (q43/q69); only the input silver relation is landed.
    */
  private[queries] def dupEdges(s: SparkSession, dir: String): DataFrame =
    Tables.landed(s, "dupedges", dir, Seq("documents"),
      dupEdgeComputeCount) {
      val docs = Tables.load(s, dir, "documents")
      val fp = docs.select(col("doc_id"),
        Text.fingerprint(col("text")).as("fp"))
      val exactPairs = fp.as("x")
        .join(fp.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      val levPairs = levPairTable(s, dir)
        .select(col("d1").as("a"), col("d2").as("b"))
      exactPairs.union(levPairs).distinct()
    }

  /** Dedup-cluster connected components over [[dupEdges]]: resolve each
    * doc to the minimum doc_id reachable from it (its component id) —
    * the step every dedup pipeline needs between "pairs found" and
    * "keep one per cluster". Shared by q43 (label output) and q59
    * (corpus materialization) so the clustering can never silently
    * diverge between them. The returned table is bounded by |V(edges)| —
    * only docs that appear in some duplicate pair — which is tiny
    * relative to the corpus.
    *
    * Spark side is iterative min-label propagation: each round joins the
    * label table to the (undirected) edges, takes the per-vertex min of
    * self and neighbor labels, and stops when a round changes nothing.
    * Rounds needed = component diameter; dup clusters are near-cliques,
    * so 2-3 in practice. Each round is one equi-join shuffle on a table
    * bounded by |V| — the standard scale-out CC shape, no driver-side
    * graph; [[Fixpoint]] drives the rounds. The oracle computes the same
    * fixpoint declaratively with a recursive CTE.
    *
    * Design note — plain propagation vs large-star/small-star: the
    * Kiveris et al. alternating large-star/small-star rounds REWRITE the
    * edge set each round and converge in O(log^2 n) rounds on
    * pathological long chains. Dedup graphs are the opposite shape
    * (near-cliques of duplicates, diameter 2-3), where plain label
    * propagation converges in as many rounds WITHOUT the edge-rewrite
    * shuffle each round — so plain propagation is the deliberate choice
    * here, and star-contraction is the documented upgrade path if a
    * corpus ever produced chain-shaped near-dup graphs (e.g. drifting
    * boilerplate).
    */
  private[queries] def componentLabels(s: SparkSession, dir: String): DataFrame = {
    val edges = dupEdges(s, dir)
    val undirected = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val init = edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v"))).distinct()
      .select(col("v"), col("v").as("lbl"), lit(false).as("changed"))
    // never emit a partially-propagated clustering: a component whose
    // diameter exceeds the bound would silently split into several
    Fixpoint.iterate(init, 50, "connected components") { (lbl, _) =>
      val nbrMin = undirected
        .join(lbl.select(col("v").as("b"), col("lbl").as("nl")), Seq("b"))
        .groupBy(col("a")).agg(min(col("nl")).as("nbr"))
      lbl.join(nbrMin.select(col("a").as("v"), col("nbr")), Seq("v"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"),
          (coalesce(col("nbr"), col("lbl")) < col("lbl")).as("changed"))
    }.select(col("v").as("doc_id"), col("lbl").as("component"))
  }

  /** Materialize-once-reuse for [[componentLabels]] — the 100 TB posture
    * ("compute the clustering once, land it, let every consumer read the
    * table") as code instead of a comment: the FIRST consumer per
    * (JVM, fixture signature) computes the labels and lands them through
    * [[Tables.landed]]; every later consumer (q59's corpus
    * materialization, q72's funnel) reads that parquet back instead of
    * re-running the iterative clustering. The documents signature in the
    * key makes a fixture rewritten in place recompute; q43/q69 keep
    * computing from scratch — they ARE the definition the oracle checks.
    */
  private[queries] def componentLabelTable(s: SparkSession,
                                           dir: String): DataFrame =
    Tables.landed(s, "labels", dir, Seq("documents"),
      labelComputeCount)(componentLabels(s, dir))

  /** From-scratch label computations this JVM has run (spec hook: two
    * consumers, one compute).
    */
  private[graft] val labelComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Oracle CTE chain shared by q43/q59: same edge set, same fixpoint,
    * declaratively via a recursive CTE, ending in
    * `comp(doc_id, component)`.
    */
  /** Oracle CTEs for [[dupEdges]] alone, ending in `edges(a, b)` —
    * shared with q70's leakage audit so the audited relation is exactly
    * the clustering relation. A `def`, not a `val`: TextQueries and this
    * object reference each other during object init (q70's oracle embeds
    * this string; this string embeds duckLevPairCtes), and a val on both
    * sides of that cycle would be observed as null by whichever object
    * initializes second.
    */
  private[queries] def duckDupEdgeCtes: String =
    s"""fp AS (SELECT doc_id, md5(trim(lower(text))) AS fp
              FROM documents),
            exact_pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
              FROM fp x JOIN fp y ON x.fp = y.fp AND x.doc_id < y.doc_id),
            ${TextQueries.duckLevPairCtes},
            edges AS (SELECT a, b FROM exact_pairs UNION
                      SELECT d1 AS a, d2 AS b FROM lev_pairs)"""

  // a def for the same cross-object-init reason as duckDupEdgeCtes:
  // q72's oracle (in TextQueries) embeds this string while this object's
  // own init embeds TextQueries.duckLevPairCtes
  private[queries] def duckComponentCtes: String =
    s"""$duckDupEdgeCtes,
            und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
            verts AS (SELECT DISTINCT a AS v FROM und),
            reach AS (
              SELECT v, v AS r FROM verts
              UNION
              SELECT und.a AS v, reach.r
              FROM und JOIN reach ON und.b = reach.v),
            comp AS (SELECT v AS doc_id, min(r) AS component
                     FROM reach GROUP BY v)"""

  val q43DedupComponents: Q = Q(
    "q43_dedup_components",
    (s, dir) => componentLabels(s, dir).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $duckComponentCtes
            SELECT doc_id, component FROM comp ORDER BY doc_id"""))

  /** The same clustering as q43, computed by the alternating large-star/
    * small-star algorithm ([[graft.engine.ext.Graph.largeSmallStarComponents]])
    * over the same shared edge set — O(log n) rounds on any component
    * shape vs label propagation's O(diameter). Identical output by
    * construction (same oracle as q43), so the two engine paths
    * cross-check each other; `GraphSpec` additionally pins the algorithm
    * against a driver-side union-find on random graphs and shows the
    * round-count win on a long chain.
    */
  val q69ComponentsStar: Q = Q(
    "q69_components_star",
    (s, dir) =>
      graft.engine.ext.Graph.largeSmallStarComponents(dupEdges(s, dir))
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $duckComponentCtes
            SELECT doc_id, component FROM comp ORDER BY doc_id"""))

  /** Corpus materialization — the step AFTER clustering: keep the
    * canonical doc per duplicate cluster (the component label, i.e. the
    * min doc_id) plus every never-edged singleton, and report per-
    * language kept/dropped counts. This is the actual deliverable of a
    * dedup pipeline: the training corpus that ships.
    *
    * ## 100 TB notes
    * The component table only holds docs that appear in some duplicate
    * pair — orders of magnitude smaller than the corpus — so the
    * left join is broadcast-able at scale; the kept-predicate is then a
    * map-side projection and the only shuffle is the final low-
    * cardinality group-by.
    */
  /** The canonical-doc keep rule over a `left`-joined [[componentLabels]]
    * table: never edged, or the component's min-id representative. Shared
    * by q59 (its definition) and q72's funnel stage so the two can't
    * drift. The oracle mirror assumes aliases `d` (documents) and `c`
    * (comp).
    */
  private[queries] def dedupKeepCol: Column =
    col("component").isNull || col("component") === col("doc_id")

  private[queries] def duckDedupKeepExpr: String =
    "(c.doc_id IS NULL OR c.component = d.doc_id)"

  val q59DedupMaterialize: Q = Q(
    "q59_dedup_materialize",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val comp = componentLabelTable(s, dir)
      docs.join(comp, Seq("doc_id"), "left")
        .select(col("lang"), dedupKeepCol.as("kept"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(col("kept"), 1)).as("n_kept"),
          count(when(!col("kept"), 1)).as("n_dropped"))
        .orderBy("lang")
    },
    Some(s"""WITH RECURSIVE $duckComponentCtes,
            flags AS (SELECT d.lang, $duckDedupKeepExpr AS kept
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
            SELECT lang, count(*) AS n_docs,
              count(*) FILTER (kept) AS n_kept,
              count(*) FILTER (NOT kept) AS n_dropped
            FROM flags GROUP BY lang ORDER BY lang"""))

  /** Incremental dedup — the production ingest path: a NEW batch (here:
    * doc_id % 3 = 0) is admitted against an EXISTING corpus (the rest).
    * A batch doc is rejected if it is a near-dup (the same prefix-blocked
    * Levenshtein relation as q42/q43; exact dups are its dist=0 case) of
    * any corpus doc (`dup_of_corpus`), else if it near-dups an EARLIER
    * batch doc (`dup_in_batch`, by doc_id). Greedy one-pass admission by
    * design: an earlier batch doc blocks its later near-dups regardless
    * of its own fate — the standard streaming-ingest approximation
    * (chained resolution is the clustering path, q43/q59). Output:
    * per-language admission accounting.
    *
    * ## 100 TB notes
    * Candidates come from the same bucketed (prefix-blocked) equi-join as
    * q42 — never batch x corpus. The per-doc flags are one partial-agg
    * `bool_or` shuffle over the (tiny) pair set, and the batch-side left
    * join broadcasts at scale. With an exact-fingerprint relation the
    * corpus side collapses to an fp-only ledger projection plus a
    * broadcast Bloom-filter pre-pass; the near-dup relation shown here is
    * the harder, more realistic case.
    */
  val q60IncrementalDedup: Q = Q(
    "q60_incremental_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      def isBatch(c: Column): Column = c % 3 === 0
      val pairs = levPairTable(s, dir)
      // batch doc -> each near-dup partner, both directions
      val partners = pairs.select(col("d1").as("doc"), col("d2").as("other"))
        .union(pairs.select(col("d2").as("doc"), col("d1").as("other")))
        .filter(isBatch(col("doc")))
      val flags = partners.groupBy(col("doc"))
        .agg(
          bool_or(!isBatch(col("other"))).as("corpus_dup"),
          bool_or(isBatch(col("other")) && col("other") < col("doc"))
            .as("batch_dup"))
      docs.filter(isBatch(col("doc_id")))
        .join(flags, col("doc_id") === col("doc"), "left")
        .select(col("lang"),
          when(coalesce(col("corpus_dup"), lit(false)), "dup_of_corpus")
            .when(coalesce(col("batch_dup"), lit(false)), "dup_in_batch")
            .otherwise("admitted").as("status"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_batch"),
          count(when(col("status") === "admitted", 1)).as("n_admitted"),
          count(when(col("status") === "dup_of_corpus", 1)).as("n_dup_corpus"),
          count(when(col("status") === "dup_in_batch", 1)).as("n_dup_batch"))
        .orderBy("lang")
    },
    Some(s"""WITH ${TextQueries.duckLevPairCtes},
            partners AS (SELECT d1 AS doc, d2 AS other FROM lev_pairs
                         UNION ALL SELECT d2, d1 FROM lev_pairs),
            flags AS (SELECT doc,
                bool_or(other % 3 <> 0) AS corpus_dup,
                bool_or(other % 3 = 0 AND other < doc) AS batch_dup
              FROM partners WHERE doc % 3 = 0 GROUP BY doc),
            status AS (SELECT d.lang,
                CASE WHEN coalesce(f.corpus_dup, false) THEN 'dup_of_corpus'
                     WHEN coalesce(f.batch_dup, false) THEN 'dup_in_batch'
                     ELSE 'admitted' END AS status
              FROM documents d LEFT JOIN flags f ON d.doc_id = f.doc
              WHERE d.doc_id % 3 = 0)
            SELECT lang, count(*) AS n_batch,
              count(*) FILTER (status = 'admitted') AS n_admitted,
              count(*) FILTER (status = 'dup_of_corpus') AS n_dup_corpus,
              count(*) FILTER (status = 'dup_in_batch') AS n_dup_batch
            FROM status GROUP BY lang ORDER BY lang"""))

  /** Benchmark decontamination — detect corpus documents that overlap an
    * evaluation/benchmark set (here: doc_id % 97 = 0) by >= 3 distinct
    * shared k-shingles, the standard n-gram-overlap contamination test a
    * pre-training pipeline runs before shipping a corpus. Emits the
    * (corpus_doc, bench_doc, overlap) evidence pairs.
    *
    * ## 100 TB notes
    * The benchmark side is fixed-size (an eval suite, MBs) — broadcast by
    * construction, so the corpus is scanned ONCE map-side with no shuffle
    * for candidate generation; the only exchange is the partial-agg
    * distinct-count on (corpus_doc, bench_doc). The >= threshold also
    * caps chance matches from a shared vocabulary (measured here:
    * 207 pairs share 1 shingle by chance, 3 pairs share >= 3).
    */
  val q61Decontaminate: Q = Q(
    "q61_decontaminate",
    (s, dir) => {
      val sh = shingled(s, dir)
      val benchEx = sh.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_doc"), explode(col("sh")).as("s"))
      val corpEx = sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      corpEx.join(broadcast(benchEx), Seq("s"))
        .groupBy(col("doc_id"), col("bench_doc"))
        .agg(count_distinct(col("s")).as("shared_shingles"))
        .filter(col("shared_shingles") >= 3)
        .orderBy("doc_id", "bench_doc")
    },
    Some(s"""WITH shs AS ($duckShingled),
            bench AS (SELECT doc_id AS bench_doc, unnest(sh) AS s
              FROM shs WHERE doc_id % 97 = 0),
            corp AS (SELECT doc_id, unnest(sh) AS s
              FROM shs WHERE doc_id % 97 <> 0)
            SELECT doc_id, bench_doc, count(DISTINCT s) AS shared_shingles
            FROM corp JOIN bench USING (s)
            GROUP BY doc_id, bench_doc HAVING count(DISTINCT s) >= 3
            ORDER BY doc_id, bench_doc"""))

  /** Boilerplate detection (C4/RefinedWeb-style): a k-shingle occurring
    * in >= 0.8% of corpus documents is "boilerplate" — a RELATIVE
    * threshold, because an absolute df is meaningless across corpus
    * sizes (an earlier df>=4 flagged 8% of docs at sf0.01 and 100% at
    * sf0.1). Each doc's boilerplate ratio is the fraction of its
    * distinct shingles that are boilerplate; docs with ratio >= 0.2 are
    * flagged. Per-language accounting with the max observed ratio. On
    * this uniform synthetic corpus the relative threshold calibrates to
    * the verification SF (= df 4 at sf0.01, where it splits 41/459);
    * corpora without a heavy df tail correctly flag ~nothing.
    *
    * ## 100 TB notes
    * The naive shape — join every (doc, shingle) row back to the df
    * table on the shingle — is EXACTLY wrong at scale: boilerplate
    * shingles are the high-df keys, so that join is skewed by the very
    * rows being hunted. Instead the df aggregation reduces to the
    * (small) boilerplate SET first, which broadcasts; the per-doc ratio
    * is then a map-side membership count, and the only other exchange is
    * the per-doc group-by. max(ratio) is order-independent (unlike a
    * mean of doubles), keeping the output hash-stable.
    */
  val q63Boilerplate: Q = Q(
    "q63_boilerplate",
    (s, dir) => {
      val ex = shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      // 1-row corpus size, same crossJoin(broadcast) pattern as q45's idf
      val nDocs = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("nd"))
      // floor of 2: df=1 can never be boilerplate, and below ~250 docs
      // the relative bound alone would degenerate to "every shingle"
      val bp = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= greatest(lit(2.0), col("nd") * 0.008))
        .select(col("s"), lit(true).as("bp"))
      val ratio = ex.join(broadcast(bp), Seq("s"), "left")
        .groupBy(col("doc_id"))
        .agg((count(col("bp")).cast("double") / count(lit(1))).as("ratio"))
      Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(ratio, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(col("ratio") >= 0.2, 1)).as("n_flagged"),
          max(col("ratio")).as("max_ratio"))
        .orderBy("lang")
    },
    Some(s"""WITH shs AS ($duckShingled),
            ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
            n AS (SELECT count(*) AS nd FROM documents),
            bp AS (SELECT s FROM ex GROUP BY s
                   HAVING count(*) >= greatest(2, 0.008 * (SELECT nd FROM n))),
            ratio AS (SELECT e.doc_id,
                count(b.s)::DOUBLE / count(*) AS ratio
              FROM ex e LEFT JOIN bp b ON e.s = b.s GROUP BY e.doc_id)
            SELECT d.lang, count(*) AS n_docs,
              count(*) FILTER (ratio >= 0.2) AS n_flagged,
              max(ratio) AS max_ratio
            FROM documents d JOIN ratio r ON d.doc_id = r.doc_id
            GROUP BY d.lang ORDER BY d.lang"""))

  /** Cross-source contamination matrix: for every source pair, the
    * shared k-shingle vocabulary count and the Jaccard between the two
    * sources' shingle vocabularies — the corpus-level view of the
    * per-document overlap machinery (q24/q25/q61 ask "which DOCUMENTS
    * overlap"; this asks "which SOURCES leak into each other", the audit
    * run before mixing crawl snapshots or vendor drops into one corpus).
    *
    * ## 100 TB notes
    * The key move is the DISTINCT (source, shingle) projection before
    * the self-join: after it, a shingle contributes at most
    * |sources|^2/2 pair rows no matter how many billions of documents
    * contain it — the join fan-out is bounded by the (small, known)
    * source count, not by document frequency, so the usual high-df skew
    * bomb cannot arise. The vocabulary projection itself is
    * explode + partial-agg dedup, one shuffle on the shingle. With
    * thousands of sources, drop the exact vocabularies for per-source
    * MinHash signatures (q24's machinery aggregated one level up).
    */
  val q81SourceOverlap: Q = Q(
    "q81_source_overlap",
    (s, dir) => {
      // distinct (source, shingle) vocabulary — reused by both join
      // sides and the per-source size aggregate; shingles come from the
      // landed docShingleTable, not a fresh corpus tokenization
      val sv = docShingleTable(s, dir)
        .select(col("source"), explode(col("sh")).as("sg"))
        .distinct()
      val vocab = sv.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
      sv.as("x").join(sv.as("y"),
          col("x.sg") === col("y.sg") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(vocab.select(col("source").as("src_a"),
          col("n_sh").as("n_a"))), Seq("src_a"))
        .join(broadcast(vocab.select(col("source").as("src_b"),
          col("n_sh").as("n_b"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_shared"),
          (col("n_shared").cast("double")
            / (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""WITH shs AS (SELECT source, sh FROM ($duckShingledSrc)),
             sv AS (SELECT DISTINCT source, unnest(sh) AS sg FROM shs),
             vocab AS (SELECT source, count(*) AS n_sh FROM sv GROUP BY 1),
             ov AS (SELECT x.source AS src_a, y.source AS src_b,
                      count(*) AS n_shared
                    FROM sv x JOIN sv y
                      ON x.sg = y.sg AND x.source < y.source
                    GROUP BY 1, 2)
             SELECT src_a, src_b, a.n_sh AS n_a, b.n_sh AS n_b, n_shared,
               n_shared::DOUBLE / (a.n_sh + b.n_sh - n_shared) AS jaccard
             FROM ov JOIN vocab a ON ov.src_a = a.source
                     JOIN vocab b ON ov.src_b = b.source
             ORDER BY src_a, src_b"""))

  /** Shingle width for the prefix-filter join: WIDER than the K=3 the
    * LSH/blocking queries share, deliberately. Prefix filtering draws its
    * selectivity from the df ordering — the prefix keeps each doc's
    * RAREST shingles — so it needs a shingle space distinctive enough
    * that rarity exists. On this corpus K=3 trigrams over a ~40-word
    * vocabulary are all common (median df in the hundreds at sf0.1: the
    * candidate join degenerated toward all-pairs, measured ~200 s), while
    * K=5 shingles are nearly unique (median df 1, max 4) and the join is
    * instant. Same law at 100 TB: pick the shingle unit so its frequency
    * distribution has a long rare tail, because the filter's correctness
    * theorem is order-agnostic but its COST is entirely df-driven.
    */
  private val PrefixK = 5

  /** Number of from-scratch K=[[PrefixK]] shingle-table computations
    * this JVM has run (spec hook, mirrors [[shingleComputeCount]]).
    */
  private[graft] val prefixShingleComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Materialized (doc_id, sh) distinct-[[PrefixK]]-shingle table,
    * landed once per (JVM, dir) — the K=5 sibling of
    * [[docShingleTable]]. q102 was the one dedup query still paying its
    * shingle projection per run after the family moved to landed tables
    * (the round-10 bench's only warm regression, +21 %): the prefix
    * join needs the WIDER K=5 shingles (see [[PrefixK]]'s df rationale)
    * so it cannot share the K=3 table, but the landing pattern is
    * identical — first consumer computes and writes parquet, every
    * later run scans it.
    */
  private[queries] def docPrefixShingleTable(s: SparkSession,
                                             dir: String): DataFrame =
    Tables.landed(s, s"shingles$PrefixK", dir, Seq("documents"),
      prefixShingleComputeCount) {
      // widen: same single-thread-scan repair as docShingleTable
      Tables.widen(s, Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          array_distinct(
            Text.shingles(Text.tokens(col("text")), PrefixK)).as("sh"))
    }

  /** EXACT set-similarity join via prefix filtering (the AllPairs/PPJoin
    * candidate scheme): order every doc's shingles by ascending global
    * document frequency (ties by shingle), keep only the first
    * `|s| - ceil(t*|s|) + 1` as the doc's PREFIX, and generate candidates
    * from prefix-shingle equality alone. The classic prefix-filter
    * theorem guarantees losslessness: any pair with Jaccard >= t must
    * share a prefix element under a common global order — unlike q25's
    * df-capped blocking (a recall heuristic), this candidate set provably
    * contains every qualifying pair, which is why the ORACLE here is the
    * naive all-pairs join: equality proves zero misses.
    *
    * 100 TB shape: the df attach is a plain equi-join (AQE broadcasts
    * the df table at test scale; at corpus scale the 5-shingle df table
    * outgrows broadcast and it stays a shuffle join — still never
    * all-pairs); the candidate self-join keys on prefix shingles, the
    * rarest of each doc by construction, so bucket fan-out is bounded by
    * the df distribution's rare tail. Verification touches candidate
    * pairs only.
    */
  val q102PrefixJoin: Q = Q(
    "q102_prefix_join",
    (s, dir) => {
      // K=5 shingles from the landed table ([[docPrefixShingleTable]]),
      // not a fresh per-run tokenization; the landed parquet is cheap
      // to scan on each of its three consuming branches below.
      val base = docPrefixShingleTable(s, dir)
      val ex = base.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("g"))
      val dfreq = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val ranked = ex.join(dfreq, "g")
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      // prefix size |s| - ceil(0.6|s|) + 1, exact integer ceil.
      val prefix = ranked
        .filter(col("rk") <= col("sz") - expr("(sz * 6 + 9) div 10") + 1)
        .select(col("doc_id"), col("g"))
      val cand = prefix.as("x")
        .join(prefix.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      verifyPairs(cand, base, threshold = 0.6)
    },
    Some(s"""WITH shs AS (
               SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - ${PrefixK - 1}, 1) + 1),
                   i -> array_to_string(toks[i:i+${PrefixK - 1}], ' '))) AS sh
               FROM (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents)),
             cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
                      FROM shs a JOIN shs b ON a.doc_id < b.doc_id)
             ${duckVerify("0.6")}"""))

  /** q24's minhash signature through the NATIVE Catalyst aggregate
    * ([[graft.functions.MinHashAgg]], a TypedImperativeAggregate): each
    * shingle folds into the k-slot buffer as it is scanned, so the
    * shuffle carries k longs per document per partition instead of the
    * exploded shingle stream — the at-scale form of the signature
    * stage. The oracle recomputes the identical Carter–Wegman/md5
    * arithmetic in DuckDB, so the hash match proves the native buffer
    * path equals the relational min-over-explode (q24's plan keeps the
    * relational form; `MinHashAggSpec` additionally pins the equality
    * in-process under multi-partition merges).
    */
  val q153MinhashNative: Q = Q(
    "q153_minhash_native",
    (s, dir) => {
      shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("sch"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.GraftFunctions
          .minhashAgg(col("sch"), NumHashes).as("sig"))
        .select(col("doc_id"),
          posexplode(col("sig")).as(Seq("i", "sig_value")))
        .select(col("doc_id"), col("i").cast("long").as("i"),
          col("sig_value"))
        .orderBy("doc_id", "i")
    },
    Some(s"""WITH shs AS ($duckShingled),
             sig AS (SELECT doc_id,
                       list_transform(range(0, $NumHashes), i -> list_min(
                         list_transform(
                           list_transform(sh, s -> md5(s)),
                           m -> (('0x' || substring(m, 1, 8))::BIGINT
                             + i * ('0x' || substring(m, 9, 8))::BIGINT)
                             % $P))) AS sig
                     FROM shs)
             SELECT doc_id, i, sig[CAST(i AS INT) + 1] AS sig_value
             FROM sig, range(0, $NumHashes) t(i)
             ORDER BY doc_id, i"""))

  /** Corpus novelty curve: for each document in corpus order, the
    * fraction of its distinct K-shingles NEVER seen in any earlier
    * document — the cross-document repetition signal that complements
    * q67's intra-document rules and q63's boilerplate set (a corpus
    * whose novelty rate collapses is recycling content). The
    * first-seen table keys each shingle to `min(doc_id)` — one
    * vocabulary-sized aggregate, joined back to the exploded stream the
    * q63 way; the novelty rate is one exact-int division.
    */
  val q156NoveltyRate: Q = Q(
    "q156_novelty_rate",
    (s, dir) => {
      val ex = shingled(s, dir)
        .select(col("doc_id"), explode(col("sh")).as("sch"))
      val firstSeen = ex.groupBy(col("sch"))
        .agg(min(col("doc_id")).as("first_doc"))
      ex.join(firstSeen, "sch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double"))
            .as("novelty_rate"))
        .orderBy("doc_id")
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS sch FROM shs),
             fs AS (SELECT sch, min(doc_id) AS first_doc FROM ex
                    GROUP BY 1)
             SELECT doc_id, count(*) AS n_shingles,
               count(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
               CAST(count(CASE WHEN first_doc = doc_id THEN 1 END)
                 AS DOUBLE) / count(*) AS novelty_rate
             FROM ex JOIN fs USING (sch)
             GROUP BY doc_id ORDER BY doc_id"""))

  /** Containment-similarity join — the ASYMMETRIC near-dup measure
    * Jaccard cannot express: C(d1 ⊂ d2) = |sh1 ∩ sh2| / |sh1| flags a
    * document EMBEDDED in a larger one (quotations, concatenated
    * crawls, boilerplate-wrapped reposts) where the union-normalized
    * Jaccard is diluted by the host document's extra content. Pairs are
    * ORDERED (d1 contained-in d2 ≠ d2 contained-in d1); candidates come
    * from the same df-bounded rare-shingle blocks as q25, generated
    * once and expanded to both orientations.
    *
    * Scale shape: identical candidate economics to q25 (df ∈ [2,5]
    * bounds every block, the only join is the block equi-join); the
    * verification join is ordered-pair instead of unordered, i.e. at
    * most 2x q25's verified pairs — still bounded by the block cap.
    */
  val q171ContainmentJoin: Q = Q(
    "q171_containment_join",
    (s, dir) => {
      val base = shingled(s, dir)
      // the ordered x != y blocked pairs are exactly both orientations
      // of the unordered d1 < d2 ones
      val pairs = blockedPairTable(s, dir)
      val cand = pairs.select(col("d1"), col("d2"))
        .unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      cand
        .join(base.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
        .join(base.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          (size(array_intersect(col("sh1"), col("sh2"))).cast("double")
            / size(col("sh1")).cast("double")).as("containment"))
        .filter(col("containment") >= 0.8)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id != y.doc_id)
             SELECT d1, d2,
               len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(a.sh)::DOUBLE AS containment
             FROM cand JOIN shs a ON a.doc_id = d1 JOIN shs b ON b.doc_id = d2
             WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(a.sh)::DOUBLE >= 0.8
             ORDER BY d1, d2"""))

  /** Cross-source near-dup contamination matrix — WHICH sources copy
    * from each other: q25's verified near-dup pairs (blocked candidates,
    * exact Jaccard >= 0.5) rolled up to an unordered source x source
    * count. The diagonal is within-source duplication; off-diagonal
    * cells are the cross-source contamination a mixture-weighting or
    * decontamination pass (q68/q61) needs to know about.
    *
    * Scale shape: everything up to the verified pairs is exactly q25's
    * plan; the rollup adds two broadcast-joinable (doc_id -> source)
    * lookups and a 2-key aggregate over pair rows.
    */
  val q172SourceDupMatrix: Q = Q(
    "q172_source_dup_matrix",
    (s, dir) => {
      val pairs = blockedPairTable(s, dir).filter(col("jacc") >= 0.5)
      val src = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), Seq("d1"))
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), Seq("d2"))
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id < y.doc_id),
             pairs AS (SELECT d1, d2
               FROM cand JOIN shs a ON a.doc_id = d1 JOIN shs b ON b.doc_id = d2
               WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
             SELECT least(sa.source, sb.source) AS src_a,
               greatest(sa.source, sb.source) AS src_b,
               count(*) AS n_pairs
             FROM pairs
             JOIN documents sa ON sa.doc_id = d1
             JOIN documents sb ON sb.doc_id = d2
             GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Sorted-neighborhood dedup (SNM, Hernandez-Stolfo) — the classic
    * record-linkage blocking method the family still lacked: sort the
    * corpus by a domain key (here the first 24 chars of the text —
    * near-dup docs share long prefixes on this corpus), slide a
    * fixed-size window over the SORTED order, and verify only pairs
    * within the window ([[Wd]] rank positions apart). Complements the
    * content-keyed blockers: LSH (q24) buckets by signature, rare
    * shingles (q25) by df, SimHash (q26) by band — SNM buckets by sort
    * ADJACENCY, which also catches pairs whose shared shingles are all
    * too common to be blocking keys. Its documented weakness is real
    * here too: a near-dup pair differing in the first words sorts far
    * apart and is missed — both engines miss it identically.
    *
    * The global rank is NOT a single-partition window: docs are blocked
    * by the key's 2-char prefix (prefix order is consistent with full
    * lexicographic order, so blocks are contiguous rank ranges),
    * per-block counts reduce to a tiny frame whose running sum gives
    * each block's rank offset (broadcast back), and
    * `rank = offset + intra-block row_number` — the distributed
    * zipWithIndex, provably equal to the oracle's flat
    * `row_number() OVER (ORDER BY k, doc_id)`. Window pairs come from
    * an EQUI-join on `g = (rank-1) div Wd`: each row probes its own
    * group and the next (bounded x2 explode), so |rank diff| <= Wd
    * pairs are complete without any band/range join.
    *
    * ## 100 TB notes
    * One shuffle keyed by prefix block for the rank (the same
    * repartitionByRange a sorted materialization would need anyway);
    * the pair join is an equi-join on g with <= 2*Wd rows per group —
    * candidate count is exactly n*Wd minus edge effects, LINEAR in the
    * corpus, the property that made SNM the pre-LSH workhorse.
    * Verification joins shingle arrays only for candidates.
    */
  val q180SortedNeighborhood: Q = Q(
    "q180_sorted_neighborhood",
    (s, dir) => {
      val base = shingled(s, dir)
      val keyed = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          lower(substring(col("text"), 1, 24)).as("k"))
        .withColumn("blk", substring(col("k"), 1, 2))
      val offsets = keyed.groupBy(col("blk")).agg(count(lit(1)).as("c"))
        .withColumn("off", coalesce(sum(col("c")).over(
          Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("blk"), col("off"))
      val ranked = keyed
        .join(broadcast(offsets), Seq("blk"))
        .withColumn("rn", col("off") + row_number().over(
          Window.partitionBy(col("blk"))
            .orderBy(col("k"), col("doc_id"))))
        .select(col("doc_id"), col("rn"),
          expr(s"(rn - 1) div $Wd").as("g"))
      val probes = ranked.select(col("doc_id").as("i1"), col("rn").as("rn1"),
        explode(array(col("g"), col("g") + 1)).as("gp"))
      val cand = probes
        .join(ranked.select(col("doc_id").as("i2"), col("rn").as("rn2"),
          col("g").as("gp")), Seq("gp"))
        .filter(col("rn2") > col("rn1") && col("rn2") <= col("rn1") + Wd)
        .select(least(col("i1"), col("i2")).as("d1"),
          greatest(col("i1"), col("i2")).as("d2"))
      verifyPairs(cand, base, threshold = 0.5)
    },
    Some(s"""WITH shs AS ($duckShingled),
             keyed AS (SELECT doc_id, lower(substring(text, 1, 24)) AS k
                       FROM documents),
             ranked AS (SELECT doc_id,
                 row_number() OVER (ORDER BY k, doc_id) AS rn
               FROM keyed),
             cand AS (SELECT least(a.doc_id, b.doc_id) AS d1,
                 greatest(a.doc_id, b.doc_id) AS d2
               FROM ranked a JOIN ranked b
                 ON b.rn > a.rn AND b.rn <= a.rn + $Wd)
             ${duckVerify("0.5")}"""))

  /** Token-multiset (bag-of-words) dedup — q23's exact fingerprint over
    * the SORTED token multiset instead of the raw text: two documents
    * with the same words in a different order (shuffled boilerplate,
    * reordered list items, template-permuted pages) collapse to one
    * group, which byte-exact dedup can never catch and similarity dedup
    * only catches probabilistically. Sorting happens inside each row
    * (`sort_array` — per-row, codegen'd, no shuffle), so the canonical
    * key is deterministic on any engine; grouping keeps the lowest
    * doc_id as survivor exactly like q23. Output: every collapsed group,
    * with `n_exact_variants` separating byte-identical duplication
    * (= 1) from genuine reorderings (> 1) — on a clean corpus the
    * second kind is absent and the report degrades to q23's groups,
    * which is itself the audit result.
    *
    * ## 100 TB notes
    * One projection (tokenize + in-row sort + md5) and one shuffle on
    * the 128-bit key — q23's scale shape with a different key; the
    * strictly-reordered filter compares two count aggregates computed
    * in the same pass (count + count distinct of the exact fp).
    */
  val q193TokensetDedup: Q = Q(
    "q193_tokenset_dedup",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", sort_array(Text.tokens(col("text")))))
            .as("bag_fp"),
          Text.fingerprint(col("text")).as("exact_fp"))
      docs.groupBy(col("bag_fp"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_docs"),
          count_distinct(col("exact_fp")).as("n_exact_variants"))
        .filter(col("n_docs") > 1)
        .select(col("keep_id"), col("n_docs"), col("n_exact_variants"))
        .orderBy(col("keep_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
                md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
                  AS bag_fp,
                md5(trim(lower(text))) AS exact_fp
              FROM documents)
            SELECT min(doc_id) AS keep_id, count(*) AS n_docs,
              count(DISTINCT exact_fp) AS n_exact_variants
            FROM d GROUP BY bag_fp
            HAVING count(*) > 1
            ORDER BY keep_id"""),
    // semantically empty on these fixtures: no two generated documents
    // share a token MULTISET (the corpus's duplicates live at the
    // shingle/near-dup level the other dedup queries target), so every
    // bag_fp group has n_docs = 1 and the > 1 report's correct answer
    // is no rows — declared here so check.py's zero-row degeneracy
    // gate knows this empty is the oracle truth
    emptyOk = true)

  /** Golden-record survivorship — the step AFTER dedup clustering that
    * every entity-resolution pipeline needs: q23 picks a keeper row,
    * but a real master record SURVIVES attributes from the whole
    * cluster. Records are blocked by the classic ER key — the
    * normalized 5-token title prefix (md5 of the first five
    * trim+lower tokens; the same family as q180's sort-key blocker,
    * chosen over the full-text fingerprint because real masters merge
    * NEAR-identical records, not byte-identical ones) — and each
    * block with >= 2 members elects a canonical document by the
    * survivorship rule "longest text wins, ties to the lowest id"
    * (content-quality preference, unlike q23's pure min-id), then
    * assembles the merged record: member count, the union of sources
    * (sorted, comma-joined — the provenance trail), distinct-source
    * count, and the id span. Every column is deterministic: the
    * election is a total-order row_number and the source list is
    * sorted before joining. NULL-text docs are filtered out BEFORE
    * fingerprinting on both engines: Spark's md5(NULL) is NULL and
    * Window.partitionBy groups all NULL fps into one bogus cluster
    * (a semantically wrong merge of unrelated docs), while DuckDB's
    * equi-join `e.fp = g.fp` silently drops the NULL group — a latent
    * engine/oracle divergence the filter removes identically.
    *
    * ## 100 TB notes
    * One shuffle on the fingerprint does everything: election window,
    * member count, and source collection ride the same hash partition.
    * The collected source set per cluster is bounded by the distinct
    * source universe (tiny), not by cluster size — collect_set, never
    * collect_list.
    */
  val q207GoldenRecord: Q = Q(
    "q207_golden_record",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("n_chars"),
          md5(array_join(
            slice(split(trim(lower(col("text"))), " "), 1, 5), " "))
            .as("fp"))
      val w = Window.partitionBy(col("fp"))
      val elect = Window.partitionBy(col("fp"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      docs
        .withColumn("rn", row_number().over(elect))
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("srcs", sort_array(collect_set(col("source")).over(w)))
        .withColumn("min_id", min(col("doc_id")).over(w))
        .withColumn("max_id", max(col("doc_id")).over(w))
        .filter(col("rn") === 1 && col("n_members") >= 2)
        .select(col("fp"), col("doc_id").as("canon_id"),
          col("n_chars").as("canon_chars"), col("n_members"),
          size(col("srcs")).cast("long").as("n_sources"),
          array_join(col("srcs"), ",").as("sources"),
          col("min_id"), col("max_id"))
        .orderBy(col("canon_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source, n_chars,
                md5(array_to_string(
                  string_split(trim(lower(text)), ' ')[1:5], ' ')) AS fp
              FROM documents WHERE text IS NOT NULL),
            g AS (SELECT fp, count(*) AS n_members,
                    count(DISTINCT source) AS n_sources,
                    string_agg(DISTINCT source, ',' ORDER BY source)
                      AS sources,
                    min(doc_id) AS min_id, max(doc_id) AS max_id
                  FROM d GROUP BY fp HAVING count(*) >= 2),
            e AS (SELECT fp, doc_id, n_chars,
                    row_number() OVER (PARTITION BY fp
                      ORDER BY n_chars DESC, doc_id ASC) AS rn
                  FROM d)
            SELECT g.fp, e.doc_id AS canon_id, e.n_chars AS canon_chars,
              g.n_members, g.n_sources, g.sources, g.min_id, g.max_id
            FROM g JOIN e ON e.fp = g.fp AND e.rn = 1
            ORDER BY canon_id"""))

  /** Dedup threshold sensitivity curve — the tuning table consulted
    * before ANY near-dup threshold ships: from one candidate
    * generation (q25's df-blocked pairs) and ONE exact-Jaccard scoring
    * pass, how many pairs and how many affected documents survive at
    * each candidate threshold {0.5 .. 0.9}? The curve's knee is where
    * the threshold belongs; picking 0.8 blind (the MinHash default)
    * without this table is guesswork. Thresholds that match nothing
    * still emit a zero row (left join from the threshold table), so
    * the curve never silently truncates.
    *
    * ## 100 TB notes
    * Candidates and Jaccards are computed ONCE (q25's bounded blocked
    * join); the 5-row threshold table broadcasts into the scored pairs
    * (a theta join over |pairs| x 5 — pair-scale, not corpus-scale);
    * both rollups are map-side combined on the 5-value key.
    */
  val q228ThresholdCurve: Q = Q(
    "q228_threshold_curve",
    (s, dir) => {
      import s.implicits._
      val scored = blockedPairTable(s, dir)
      val thr = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
      val hits = scored.crossJoin(broadcast(thr))
        .filter(col("jacc") >= col("threshold"))
      val pairs = hits.groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"))
      val docs = hits
        .select(col("threshold"),
          explode(array(col("d1"), col("d2"))).as("doc"))
        .groupBy(col("threshold"))
        .agg(countDistinct(col("doc")).as("n_docs"))
      thr.join(pairs, Seq("threshold"), "left")
        .join(docs, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("threshold"))
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s
                      HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id < y.doc_id),
             scored AS (SELECT d1, d2,
                 len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
               FROM cand JOIN shs a ON a.doc_id = d1
                         JOIN shs b ON b.doc_id = d2),
             thr AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
                       AS threshold),
             hits AS (SELECT threshold, d1, d2 FROM scored JOIN thr
                      ON jacc >= threshold),
             p AS (SELECT threshold, count(*) AS n_pairs
                   FROM hits GROUP BY threshold),
             d AS (SELECT threshold, count(DISTINCT doc) AS n_docs
                   FROM (SELECT threshold, unnest([d1, d2]) AS doc
                         FROM hits)
                   GROUP BY threshold)
             SELECT thr.threshold, coalesce(n_pairs, 0) AS n_pairs,
               coalesce(n_docs, 0) AS n_docs
             FROM thr LEFT JOIN p ON thr.threshold = p.threshold
                      LEFT JOIN d ON thr.threshold = d.threshold
             ORDER BY thr.threshold"""))

  /** Near-dup transitivity audit — "similar" is not transitive, and
    * how badly it fails decides whether connected-component clustering
    * (q43) over the pair graph is safe: if a~b and b~c rarely implies
    * a~c, CC chains unrelated documents through bridges and one
    * cluster keeper deletes text it never matched. The audit computes
    * the global transitivity of q25's verified pair graph — wedges as
    * the exact integer sum d(d-1)/2 (no wedge join at all), triangles
    * via q110's degree-oriented join, closure = 3*tri/wedges: near 1
    * means the relation is effectively an equivalence and CC is safe;
    * near 0 means bridges dominate — cluster by star/medoid instead.
    *
    * ## 100 TB notes
    * Runs on the VERIFIED pair graph — orders of magnitude smaller
    * than the corpus (pairs ~ dup rate x docs). The triangle join is
    * the O(m^1.5) oriented shape; everything downstream is one row.
    */
  val q234DedupTransitivity: Q = Q(
    "q234_dedup_transitivity",
    (s, dir) => {
      val e = blockedPairTable(s, dir).filter(col("jacc") >= 0.5)
        .select(col("d1").as("u"), col("d2").as("v"))
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      // the one shared copy of the degree-oriented triangle kernel
      // (orientation tiebreak + wedge/closing joins) — same code path
      // as the co-occurrence graph's triangleTable, applied to the
      // verified-duplicate pair graph
      val tri = GraphQueries
        .wedgeTriangles(GraphQueries.orientEdges(e, deg), e)
        .agg(count(lit(1)).as("n_tri"))
      val nPairs = e.agg(count(lit(1)).as("n_pairs"))
      val nWedges = deg.agg(
        coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
      nPairs.crossJoin(broadcast(nWedges)).crossJoin(broadcast(tri))
        .select(col("n_pairs"), col("n_wedges"), col("n_tri"),
          when(col("n_wedges") > 0,
            lit(3.0) * col("n_tri").cast("double") /
              col("n_wedges").cast("double")).otherwise(lit(1.0))
            .as("closure_rate"))
    },
    Some(s"""WITH shs AS ($duckShingled),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s
                      HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id < y.doc_id),
             e AS (SELECT d1 AS u, d2 AS v FROM cand
                   JOIN shs a ON a.doc_id = d1 JOIN shs b ON b.doc_id = d2
                   WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
             deg AS (SELECT node, count(*) AS d
                     FROM (SELECT u AS node FROM e
                           UNION ALL SELECT v AS node FROM e)
                     GROUP BY node),
             oe AS (SELECT CASE WHEN (da.d < db.d)
                                  OR (da.d = db.d AND e.u < e.v)
                                THEN e.u ELSE e.v END AS s,
                           CASE WHEN (da.d < db.d)
                                  OR (da.d = db.d AND e.u < e.v)
                                THEN e.v ELSE e.u END AS t
                    FROM e JOIN deg da ON da.node = e.u
                           JOIN deg db ON db.node = e.v),
             tri AS (SELECT count(*) AS n_tri
                     FROM oe e1 JOIN oe e2 ON e1.t = e2.s
                     JOIN e ON e.u = least(e1.s, e2.t)
                           AND e.v = greatest(e1.s, e2.t)),
             wd AS (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0)
                      AS BIGINT) AS n_wedges FROM deg)
             SELECT (SELECT count(*) FROM e) AS n_pairs,
               (SELECT n_wedges FROM wd) AS n_wedges,
               (SELECT n_tri FROM tri) AS n_tri,
               CASE WHEN (SELECT n_wedges FROM wd) > 0
                    THEN 3.0 * (SELECT n_tri FROM tri)::DOUBLE
                         / (SELECT n_wedges FROM wd)::DOUBLE
                    ELSE 1.0 END AS closure_rate"""))

  /** MinHash estimator accuracy audit — the sketch-error envelope
    * behind every q24/q153 decision: for each blocked candidate pair,
    * compare the 16-permutation signature agreement (matches/16, the
    * unbiased Jaccard estimator) against the EXACT shingle Jaccard,
    * and report the error profile per exact-Jaccard decile: pair
    * count, mean estimate (decimal-summed), mean signed error, and the
    * worst absolute error in 256ths (`|n_match*16 - floor(jacc*256)|`:
    * the estimator is exact in 256ths, but flooring the true Jaccard
    * onto the same 1/256 grid quantizes it, so the reported max error
    * carries up to 1/256 of quantization slack — a bound, not an exact
    * residual; integer and deterministic on both engines). This is the
    * table that justifies (or indicts) 16 permutations: theory says
    * sd ~ sqrt(J(1-J)/16) ~ 0.12 at J=0.5; the audit shows what the
    * corpus actually does.
    *
    * ## 100 TB notes
    * Signatures are q24's explode + 16-min-aggregate shape (one doc-id
    * shuffle); candidates are the df-blocked pairs (bounded); the
    * match count per pair is a fixed 16-term integer sum — no
    * additional shuffles beyond the pair join itself.
    */
  val q242MinhashAccuracy: Q = Q(
    "q242_minhash_accuracy",
    (s, dir) => {
      // signatures and scored pairs are both LANDED relations — this
      // audit's own work starts at the signature join
      val sig = minhashSigTable(s, dir)
      val scored = blockedPairTable(s, dir)
      val s1 = sig.select(col("doc_id").as("d1") +:
        (0 until NumHashes).map(i => col(s"m$i").as(s"a$i")): _*)
      val s2 = sig.select(col("doc_id").as("d2") +:
        (0 until NumHashes).map(i => col(s"m$i").as(s"b$i")): _*)
      val matches = (0 until NumHashes).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val paired = scored.join(s1, Seq("d1")).join(s2, Seq("d2"))
        .select(col("jacc"), matches.as("n_match"))
        .withColumn("decile",
          least(floor(col("jacc") * 10).cast("long"), lit(9L)))
      paired.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          (round(sum((col("n_match").cast("double") / 16.0)
            .cast("decimal(30,10)")), 6).cast("double") /
            count(lit(1))).as("mean_est"),
          (round(sum(((col("n_match").cast("double") / 16.0) - col("jacc"))
            .cast("decimal(30,10)")), 6).cast("double") /
            count(lit(1))).as("mean_signed_err"),
          max(abs(col("n_match") * lit(16L) -
            floor(col("jacc") * 256.0).cast("long")))
            .as("max_abs_err_256ths"))
        .orderBy(col("decile"))
    },
    Some(s"""WITH shs AS ($duckShingled),
             sig AS (SELECT doc_id,
                       list_transform(range(0, $NumHashes), i -> list_min(
                         list_transform(
                           list_transform(sh, s -> md5(s)),
                           m -> (('0x' || substring(m, 1, 8))::BIGINT
                             + i * ('0x' || substring(m, 9, 8))::BIGINT)
                             % $P))) AS sig
                     FROM shs),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s
                      HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                      FROM blocked x JOIN blocked y
                        ON x.s = y.s AND x.doc_id < y.doc_id),
             scored AS (SELECT d1, d2,
                 len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
               FROM cand JOIN shs a ON a.doc_id = d1
                         JOIN shs b ON b.doc_id = d2),
             pm AS (SELECT jacc,
                 CAST(len(list_filter(range(1, $NumHashes + 1),
                   i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_match
               FROM scored JOIN sig sa ON sa.doc_id = d1
                           JOIN sig sb ON sb.doc_id = d2),
             dd AS (SELECT least(CAST(floor(jacc * 10) AS BIGINT), 9)
                      AS decile, jacc, n_match FROM pm)
             SELECT decile, count(*) AS n_pairs,
               CAST(round(sum(CAST(CAST(n_match AS DOUBLE) / 16.0
                   AS DECIMAL(30,10))), 6) AS DOUBLE) / count(*)
                 AS mean_est,
               CAST(round(sum(CAST(CAST(n_match AS DOUBLE) / 16.0 - jacc
                   AS DECIMAL(30,10))), 6) AS DOUBLE) / count(*)
                 AS mean_signed_err,
               CAST(max(abs(n_match * 16
                 - CAST(floor(jacc * 256.0) AS BIGINT))) AS BIGINT)
                 AS max_abs_err_256ths
             FROM dd GROUP BY decile ORDER BY decile"""))

  /** Contrastive negative mining — the pair-generation step of
    * embedding/reranker training data: for each anchor document, HARD
    * negatives (similar but below the q24 dup threshold — the pairs
    * that actually teach a contrastive model) and EASY negatives (a
    * deterministic hash-picked sample from OTHER sources — the
    * baseline). Hard candidates come from the df-bounded rare-shingle
    * blocking the dedup pipeline already uses (q25's generator — at
    * this corpus's similarity profile the 4x4 LSH bands only fire at
    * dup-level Jaccard, exactly the pairs a negative set must EXCLUDE):
    * any shared rare shingle makes a candidate, pairs at or above the
    * 0.8 dup threshold are excluded (a dup is a false negative, not a
    * hard one), and each anchor keeps its top-3 remaining by (jacc
    * desc, id) — the MOST similar non-duplicates available, whatever
    * their absolute score. Easy negatives: top-3 by md5(anchor:cand)
    * from OTHER sources — reproducible on any engine, no RNG. Both
    * kinds carry their exact Jaccard so the audit can verify the
    * hard/easy separation.
    *
    * ## 100 TB notes
    * Hard candidates are the df-capped shingle equi-join,
    * anchor-filtered on one side — bucket fan-out is bounded by the df
    * cap, cost by the anchors' shingle rows. Easy negatives stream the
    * corpus once against the broadcast anchor set (the q27
    * exhaustive-baseline shape — run on an anchor sample in
    * production; the per-anchor top-3 is a bounded window heap).
    */
  val q261ContrastiveMining: Q = Q(
    "q261_contrastive_mining",
    (s, dir) => {
      val anchorCap = 30L
      val base = docShingleTable(s, dir)
      val blocked = rareBlockedShingles(s, dir)
      val hardCand = blocked.as("x")
        .join(blocked.as("y"),
          col("x.s") === col("y.s")
            && col("x.doc_id") < lit(anchorCap)
            && col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("neg_id"))
        .distinct()
      val aSh = base.select(col("doc_id").as("a_id"),
        col("source").as("a_src"), col("sh").as("a_sh"))
      val nSh = base.select(col("doc_id").as("neg_id"),
        col("source").as("n_src"), col("sh").as("n_sh"))
      val hard = hardCand
        .join(aSh.drop("a_src"), Seq("a_id"))
        .join(nSh.drop("n_src"), Seq("neg_id"))
        .select(col("a_id"), col("neg_id"),
          jaccard(col("a_sh"), col("n_sh")).as("jacc"))
        .filter(col("jacc") < 0.8)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("a_id"))
            .orderBy(col("jacc").desc, col("neg_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("a_id"), lit("hard").as("kind"),
          col("rank").cast("long").as("rank"), col("neg_id"), col("jacc"))
      val anchors = aSh.filter(col("a_id") < anchorCap)
      val easy = nSh
        .join(broadcast(anchors),
          col("n_src") =!= col("a_src") && col("neg_id") =!= col("a_id"))
        .withColumn("pick", md5(concat(col("a_id").cast("string"),
          lit(":"), col("neg_id").cast("string"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("a_id"))
            .orderBy(col("pick").asc, col("neg_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("a_id"), lit("easy").as("kind"),
          col("rank").cast("long").as("rank"), col("neg_id"),
          jaccard(col("a_sh"), col("n_sh")).as("jacc"))
      hard.unionAll(easy).orderBy("a_id", "kind", "rank")
    },
    Some(s"""WITH shs AS ($duckShingled),
             src AS (SELECT doc_id, source FROM documents),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
             rare AS (SELECT s FROM ex GROUP BY s
                      HAVING count(*) BETWEEN 2 AND 5),
             blocked AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
             hc AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS neg_id
                    FROM blocked x JOIN blocked y ON x.s = y.s
                    WHERE x.doc_id < 30 AND x.doc_id != y.doc_id),
             hs AS (SELECT a_id, neg_id,
                      len(list_intersect(a.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(a.sh, b.sh)))
                        AS jacc
                    FROM hc JOIN shs a ON a.doc_id = a_id
                            JOIN shs b ON b.doc_id = neg_id),
             ht AS (SELECT a_id, 'hard' AS kind, CAST(rank AS BIGINT)
                        AS rank, neg_id, jacc
                    FROM (SELECT *, row_number() OVER (PARTITION BY a_id
                            ORDER BY jacc DESC, neg_id ASC) AS rank
                          FROM hs WHERE jacc < 0.8)
                    WHERE rank <= 3),
             ec AS (SELECT a.doc_id AS a_id, c.doc_id AS neg_id,
                      md5(a.doc_id::VARCHAR || ':' || c.doc_id::VARCHAR)
                        AS pick
                    FROM src a JOIN src c
                      ON a.source <> c.source AND a.doc_id != c.doc_id
                    WHERE a.doc_id < 30),
             et AS (SELECT a_id, neg_id, rank FROM (
                      SELECT *, row_number() OVER (PARTITION BY a_id
                        ORDER BY pick ASC, neg_id ASC) AS rank
                      FROM ec)
                    WHERE rank <= 3),
             ee AS (SELECT a_id, 'easy' AS kind, CAST(rank AS BIGINT)
                        AS rank, neg_id,
                      len(list_intersect(a.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(a.sh, b.sh)))
                        AS jacc
                    FROM et JOIN shs a ON a.doc_id = a_id
                            JOIN shs b ON b.doc_id = neg_id)
             SELECT * FROM (SELECT * FROM ht UNION ALL SELECT * FROM ee)
             ORDER BY a_id, kind, rank"""))

  val all: Seq[Q] = Seq(q23DedupExact, q24MinhashLsh, q25JaccardBlocked,
    q26Simhash, q43DedupComponents, q59DedupMaterialize, q60IncrementalDedup,
    q61Decontaminate, q63Boilerplate, q69ComponentsStar, q81SourceOverlap,
    q102PrefixJoin, q153MinhashNative, q156NoveltyRate, q171ContainmentJoin,
    q172SourceDupMatrix, q180SortedNeighborhood, q193TokensetDedup,
    q207GoldenRecord, q228ThresholdCurve, q234DedupTransitivity,
    q242MinhashAccuracy, q261ContrastiveMining)
}
