package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.Tables
import graft.functions.GraftFunctions.cosineSim

/** Similarity search over `embeddings` (64-dim float vectors): brute-force
  * top-k cosine, sign-LSH bucketed ANN, bucketed near-dup pairs, and an
  * IVF-style centroid assignment. All cosine math runs through the custom
  * codegen'd [[graft.functions.CosineSimilarity]] expression.
  *
  * ## 100 TB notes
  *  - Brute-force kNN broadcasts the (small) query set and STREAMS the
  *    candidate corpus (BroadcastNestedLoopJoin): one scan, no shuffle of
  *    the big side, per-partition heap via the rank filter. That is the
  *    correct exhaustive baseline at any scale; its cost is one full pass.
  *  - The ANN path buckets both sides with sign-LSH so candidate
  *    generation is an equi-join on the bucket key — the only shuffled
  *    payload is (bucket, id, vector), and a probe touches ~1/2^bits of
  *    the corpus. More planes (or multi-probe) trades recall for cost
  *    without changing the plan shape.
  *  - Near-dup runs the same bucket equi-join both-sides; never all-pairs.
  *  - IVF: centroids are tiny (clusters x dims) and broadcast; assignment
  *    is a map-side argmax — no shuffle of the vector corpus at all.
  *  - Scores are emitted as RAW doubles: the cosine op tree (sequential
  *    per-element sums, dot/(sqrt*sqrt)) is bit-identical on both engines
  *    (verified against DuckDB's sequential list_sum), while round() tie
  *    algorithms are not; id tie-breaks keep the top-k cut stable.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** 4-bit sign-LSH bucket from the leading dims (axis-aligned planes). */
  private def signBucket(e: Column): Column =
    (0 until 4).map(i => when(element_at(e, i + 1) >= 0, 1 << i).otherwise(0))
      .reduce(_ + _)

  private val duckBucket =
    "(CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END" +
      " + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)"

  /** DuckDB mirror of CosineSimilarity's pinned math: per-element double
    * products, sequential sums, dot / (sqrt(na)*sqrt(nb)).
    */
  private def duckCos(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2]))
        / (sqrt(list_sum(list_transform($a, v -> v*v)))
           * sqrt(list_sum(list_transform($b, v -> v*v)))))"""

  /** Exhaustive top-5 cosine neighbors for a fixed query set. */
  val q27KnnBrute: Q = Q(
    "q27_knn_brute",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("cand_id"), col("score"))
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                        FROM embeddings WHERE vec_id < 3),
             c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings),
             s AS (SELECT q_id, cand_id,
                     ${duckCos("qe", "ce")} AS score
                   FROM c, q WHERE cand_id != q_id),
             r AS (SELECT q_id, cand_id, score,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, cand_id ASC) AS rank
                   FROM s)
             SELECT q_id, rank, cand_id, score FROM r
             WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** ANN: probe only the query's sign-LSH bucket, top-3 within it. */
  val q28AnnLsh: Q = Q(
    "q28_ann_lsh",
    (s, dir) => {
      val e = emb(s, dir)
      val withB = e.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding")).as("bucket"))
      val q = withB.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("bucket"))
      val c = withB.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("bucket"))
      val scored = c.join(broadcast(q), Seq("bucket"))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("cand_id"), col("score"))
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                          $duckBucket AS bucket
                        FROM embeddings),
             q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM b WHERE vec_id < 10),
             s AS (SELECT q_id, c.vec_id AS cand_id,
                     ${duckCos("qe", "c.e")} AS score
                   FROM b c JOIN q USING (bucket) WHERE c.vec_id != q_id),
             r AS (SELECT q_id, cand_id, score,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, cand_id ASC) AS rank
                   FROM s)
             SELECT q_id, rank, cand_id, score FROM r
             WHERE rank <= 3 ORDER BY q_id, rank"""))

  /** Embedding near-dup: same-bucket pairs with cosine >= 0.4. */
  val q29EmbNearDup: Q = Q(
    "q29_emb_neardup",
    (s, dir) => {
      val e = emb(s, dir)
      val withB = e.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding")).as("bucket"))
      withB.as("x").join(withB.as("y"),
          col("x.bucket") === col("y.bucket")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          cosineSim(col("x.embedding"), col("y.embedding")).as("score"))
        .filter(col("score") >= 0.4)
        .orderBy("v1", "v2")
    },
    Some(s"""WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                          $duckBucket AS bucket
                        FROM embeddings)
             SELECT x.vec_id AS v1, y.vec_id AS v2,
               ${duckCos("x.e", "y.e")} AS score
             FROM b x JOIN b y
               ON x.bucket = y.bucket AND x.vec_id < y.vec_id
             WHERE ${duckCos("x.e", "y.e")} >= 0.4
             ORDER BY v1, v2"""))

  /** Per-label exact-decimal centroids (order-independent means), shaped
    * for broadcast — shared by q30 (assignment audit) and q44 (Lloyd
    * update) so the centroid math can never diverge between them.
    */
  private def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((round(sum(col("v").cast("double").cast("decimal(30,15)")), 9)
        .cast("double") / count(lit(1))).as("cv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("cemb"))
      .select(col("label").as("c_label"), col("cemb"))

  /** Argmax-cosine assignment of every vector to a broadcast centroid,
    * carrying the listed columns through; emits (vec_id, c_label, carry...).
    */
  private def assignToCentroid(e: DataFrame, carry: Seq[String]): DataFrame = {
    val scored = e.crossJoin(broadcast(centroids(e)))
      .select(col("vec_id") +: col("c_label") +:
        cosineSim(col("embedding"), col("cemb")).as("score") +:
        carry.map(col): _*)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("c_label").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** Oracle mirror of [[centroids]]+[[assignToCentroid]] as CTEs
    * pe/cd/cent/s/a (rank rn = 1 is the assignment).
    */
  private def duckAssignCtes(carry: String): String =
    s"""pe AS (SELECT label, j AS pos, embedding[j+1] AS v
               FROM embeddings, range(0, 64) r(j)),
             cd AS (SELECT label, pos,
                      CAST(round(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,15))), 9)
                        AS DOUBLE) / count(*) AS cv
                    FROM pe GROUP BY label, pos),
             cent AS (SELECT label AS c_label, list(cv ORDER BY pos) AS cemb
                      FROM cd GROUP BY label),
             s AS (SELECT vec_id, $carry c_label,
                     ${duckCos("CAST(embedding AS DOUBLE[])", "cemb")} AS score
                   FROM embeddings, cent),
             a AS (SELECT vec_id, $carry c_label,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY score DESC, c_label ASC) AS rn
                   FROM s)"""

  /** IVF-style assignment: per-label centroids (exact decimal mean per
    * dimension), broadcast, each vector assigned to its argmax-cosine
    * centroid; output is the label-vs-assigned confusion matrix.
    */
  val q30IvfCentroid: Q = Q(
    "q30_ivf_centroid",
    (s, dir) => {
      assignToCentroid(emb(s, dir), carry = Seq("label"))
        .groupBy(col("label"), col("c_label").as("assigned"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy("label", "assigned")
    },
    Some(s"""WITH ${duckAssignCtes("label,")}
             SELECT label, c_label AS assigned, count(*) AS n_vecs
             FROM a WHERE rn = 1
             GROUP BY label, assigned ORDER BY label, assigned"""))

  /** One Lloyd (k-means) update step on top of q30's assignment: after
    * each vector picks its argmax-cosine centroid, recompute every
    * centroid as the per-dimension mean of its assigned vectors — the
    * iteration body of distributed k-means. Means are decimal-accumulated
    * (order-independent) then divided once in double, so the refined
    * centroids hash-match the oracle exactly.
    *
    * Scale shape: centroids broadcast (tiny), assignment is a map-side
    * argmax over the streamed corpus, and the recompute is posexplode +
    * one partial-agg shuffle on (cluster, dim) — k*dims result rows. The
    * full algorithm is this step in a [[graft.engine.Fixpoint]] loop,
    * like q43's label propagation.
    */
  val q44KmeansStep: Q = Q(
    "q44_kmeans_step",
    (s, dir) => {
      val assigned = assignToCentroid(emb(s, dir), carry = Seq("embedding"))
        .select(col("vec_id"), col("c_label").as("cluster"), col("embedding"))
      assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(count(lit(1)).as("n"),
          (round(sum(col("v").cast("double").cast("decimal(30,15)")), 9)
            .cast("double") / count(lit(1))).as("cv"))
        .orderBy("cluster", "pos")
    },
    Some(s"""WITH ${duckAssignCtes("embedding,")},
             m AS (SELECT c_label AS cluster, embedding FROM a WHERE rn = 1),
             pe2 AS (SELECT cluster, j AS pos, embedding[j+1] AS v
                     FROM m, range(0, 64) r(j))
             SELECT cluster, pos, count(*) AS n,
               CAST(round(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,15))), 9)
                 AS DOUBLE) / count(*) AS cv
             FROM pe2 GROUP BY cluster, pos
             ORDER BY cluster, pos"""))

  /** ANN index evaluation: recall@3 of the sign-LSH probe (q28's method)
    * against exhaustive ground truth (q27's method) for the same query
    * set — the measurement every ANN deployment needs before trading
    * recall for cost. Both pipelines run inside the query; the hit test
    * is a left-semi join on (q_id, cand_id).
    *
    * Scale shape: ground truth is one streamed pass of the corpus
    * against the broadcast query set (the exhaustive baseline's
    * irreducible cost — run it on a sample in production); the ANN side
    * is the bucket equi-join; the recall join handles k*|Q| rows.
    */
  val q49AnnRecall: Q = Q(
    "q49_ann_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          signBucket(col("embedding")).as("bucket"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val truth = e
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(q.select(col("q_id"), col("qe"))))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("q_id"), col("cand_id"))
      val cb = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        signBucket(col("embedding")).as("bucket"))
      val ann = cb.join(broadcast(q), Seq("bucket"))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("q_id"), col("cand_id"))
      val hits = truth.join(ann, Seq("q_id", "cand_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      truth.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_truth"))
            .as("recall"))
        .orderBy("q_id")
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
                          $duckBucket AS bucket
                        FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce,
                     $duckBucket AS bucket
                   FROM embeddings),
             ts AS (SELECT q_id, cand_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY
                        ${duckCos("qe", "ce")} DESC, cand_id ASC) AS rank
                    FROM c, q WHERE cand_id != q_id),
             truth AS (SELECT q_id, cand_id FROM ts WHERE rank <= 3),
             asr AS (SELECT q_id, cand_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY
                        ${duckCos("qe", "ce")} DESC, cand_id ASC) AS rank
                    FROM c JOIN q USING (bucket) WHERE cand_id != q_id),
             ann AS (SELECT q_id, cand_id FROM asr WHERE rank <= 3),
             hits AS (SELECT t.q_id, count(*) AS n_hit
                      FROM truth t JOIN ann a
                        ON t.q_id = a.q_id AND t.cand_id = a.cand_id
                      GROUP BY t.q_id)
             SELECT t.q_id, count(*) AS n_truth,
               coalesce(max(h.n_hit), 0) AS n_hit,
               coalesce(max(h.n_hit), 0)::DOUBLE / count(*) AS recall
             FROM truth t LEFT JOIN hits h ON t.q_id = h.q_id
             GROUP BY t.q_id ORDER BY t.q_id"""))

  /** The SQL entry path, end-to-end: the same engine capabilities through
    * `spark.sql` with the session-extension-registered `cosine_sim` —
    * what a SQL-only user of the library sees. Semantics and plan are
    * identical to the Column-API q27 (top-1 instead of top-5); the point
    * is that the custom codegen'd expression resolves from the
    * FunctionRegistry inside ordinary SQL.
    */
  val q52SqlSurface: Q = Q(
    "q52_sql_surface",
    (s, dir) => {
      emb(s, dir).createOrReplaceTempView("embeddings_v")
      s.sql("""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                   FROM embeddings_v WHERE vec_id < 5),
             sc AS (SELECT /*+ BROADCAST(q) */ q_id, c.vec_id AS cand_id,
                      cosine_sim(qe, c.embedding) AS score
                    FROM embeddings_v c JOIN q ON c.vec_id != q.q_id),
             r AS (SELECT q_id, cand_id, score,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, cand_id ASC) AS rn
                   FROM sc)
        SELECT q_id, cand_id AS best_id, score AS best_score
        FROM r WHERE rn = 1 ORDER BY q_id""")
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                        FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings),
             sc AS (SELECT q_id, cand_id, ${duckCos("qe", "ce")} AS score
                    FROM c, q WHERE cand_id != q_id),
             r AS (SELECT q_id, cand_id, score,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, cand_id ASC) AS rn
                   FROM sc)
             SELECT q_id, cand_id AS best_id, score AS best_score
             FROM r WHERE rn = 1 ORDER BY q_id"""))

  /** Euclidean (L2) top-3 neighbors via the BUILT-IN higher-order array
    * functions — `zip_with` for the element-wise squared difference and
    * `aggregate` for the sequential fold — the compose-first alternative
    * to a custom expression (SURVEY §7.3 preference (a) before (b)).
    * The custom-codegen route (cosine_sim) exists for the hot path; this
    * query keeps the built-in route exercised and oracle-checked. Fold
    * order is sequential ascending on both engines, so the raw double
    * distances are bit-identical.
    */
  val q57L2Knn: Q = Q(
    "q57_l2_knn",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      def l2(a: Column, b: Column): Column = sqrt(aggregate(
        zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"), l2(col("qe"), col("ce")).as("dist"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("dist").asc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("cand_id"), col("dist"))
        .orderBy("q_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                        FROM embeddings WHERE vec_id < 3),
             c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings),
             s AS (SELECT q_id, cand_id,
                     sqrt(list_sum(list_transform(list_zip(qe, ce),
                       x -> (x[1] - x[2]) * (x[1] - x[2])))) AS dist
                   FROM c, q WHERE cand_id != q_id),
             r AS (SELECT q_id, cand_id, dist,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY dist ASC, cand_id ASC) AS rank
                   FROM s)
             SELECT q_id, rank, cand_id, dist FROM r
             WHERE rank <= 3 ORDER BY q_id, rank"""))

  /** Int8 embedding quantization accounting — the serving-side
    * compression every large-scale vector store applies (4x smaller, SIMD
    * int8 distance kernels). Per vector: symmetric scale = max|x|/127,
    * codes = floor(x/scale), and the audit columns a quantization rollout
    * needs: scale basis, code range (saturation check), and the exact
    * integer code sum.
    *
    * Engine-parity design: floor-quantization instead of round — floor of
    * an identical IEEE double is bit-identical across engines, while
    * round() on doubles is the known half-tie divergence (Catalog notes);
    * and the cross-element reduction is an INTEGER sum of codes —
    * order-independent, so no accumulation-order mirroring is needed.
    * Codes may reach -128 when fl(maxabs/(maxabs/127)) lands above 127 in
    * magnitude on the negative side — kept unclamped (both engines agree
    * bit-for-bit), matching symmetric-int8 hardware ranges.
    *
    * ## 100 TB notes
    * Pure per-row projection over single-level array HOFs — no shuffle at
    * all except the output order; at scale this runs as a map-only pass
    * feeding the quantized sink.
    */
  val q71Int8Quant: Q = Q(
    "q71_int8_quant",
    (s, dir) => {
      // maxabs is PROJECTED before the codes lambda references it:
      // interpreted HOFs get no common-subexpression elimination (the q20
      // lesson), so computing mx inside the per-element lambda would
      // rescan the array per element — O(d^2) per row
      val staged = emb(s, dir).select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x)))
          .cast("double").as("maxabs"))
      val codes = transform(col("embedding"), x =>
        when(col("maxabs") === 0.0, lit(0L))
          .otherwise(floor(x.cast("double") / (col("maxabs") / lit(127.0)))
            .cast("long")))
      staged.select(col("vec_id"), col("maxabs"), codes.as("codes"))
        .select(col("vec_id"), col("maxabs"),
          array_min(col("codes")).as("q_min"),
          array_max(col("codes")).as("q_max"),
          aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          // symmetric full scale: +-127 both saturate (and the floor
          // artifact -128); counting only the endpoints would hide
          // negative-heavy saturation
          size(filter(col("codes"),
            c => abs(c) >= 127L)).cast("long").as("n_sat"))
        .orderBy("vec_id")
    },
    Some("""WITH m AS (SELECT vec_id, embedding,
                    list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                      AS maxabs
                  FROM embeddings),
            q AS (SELECT vec_id, maxabs,
                    CASE WHEN maxabs = 0
                         THEN list_transform(embedding, x -> 0::BIGINT)
                         ELSE list_transform(embedding, x ->
                           floor(x::DOUBLE / (maxabs / 127.0))::BIGINT)
                    END AS codes
                  FROM m)
            SELECT vec_id, maxabs,
              list_min(codes) AS q_min, list_max(codes) AS q_max,
              CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS q_sum,
              len(list_filter(codes, c -> abs(c) >= 127))::BIGINT AS n_sat
            FROM q ORDER BY vec_id"""))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus, then look for near-duplicate
    * pairs ONLY inside a cluster — the clustering is what turns the
    * quadratic all-pairs problem into k independent cluster-local ones.
    * Assignment reuses q30's broadcast-centroid argmax; a vector is
    * DROPPED iff a lower-id vector in its cluster has cosine >= 0.35
    * (the keep-lowest-id rule of q23/q59/q60, applied per pair — a
    * dropped vector can itself justify dropping a higher id, exactly
    * like the EXISTS form of exact dedup). Output is the per-cluster
    * dedup ledger: size, drops, survivors.
    *
    * ## 100 TB notes
    * The pairwise stage is bounded by the LARGEST CLUSTER, not the
    * corpus: pick k so clusters hold ~10^4-10^5 vectors (SemDeDup used
    * k=11k for 1.3e9 embeddings) and each cluster's pair join is a
    * partition-local problem after one shuffle on the cluster key.
    * Centroids stay broadcast; the assignment pass is map-only. A
    * pathological mega-cluster is the same skew problem as q73's hot
    * key — re-split it with a second-level clustering, which changes
    * nothing in this plan shape.
    */
  val q79SemanticDedup: Q = Q(
    "q79_semantic_dedup",
    (s, dir) => {
      val assigned = assignToCentroid(emb(s, dir), carry = Seq("embedding"))
        .select(col("vec_id"), col("c_label").as("cluster"), col("embedding"))
      val dropped = assigned.as("x").join(assigned.as("y"),
          col("x.cluster") === col("y.cluster")
            && col("x.vec_id") < col("y.vec_id"))
        .filter(cosineSim(col("x.embedding"), col("y.embedding")) >= 0.35)
        .select(col("x.cluster").as("cluster"), col("y.vec_id").as("vid"))
        .distinct()
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_dropped"))
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
        .join(dropped, Seq("cluster"), "left")
        .select(col("cluster"), col("n_vecs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy("cluster")
    },
    Some(s"""WITH ${duckAssignCtes("embedding,")},
             m AS (SELECT vec_id, c_label AS cluster,
                     CAST(embedding AS DOUBLE[]) AS e
                   FROM a WHERE rn = 1),
             pr AS (SELECT DISTINCT x.cluster, y.vec_id AS vid
                    FROM m x JOIN m y
                      ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                    WHERE ${duckCos("x.e", "y.e")} >= 0.35),
             d AS (SELECT cluster, count(*) AS n_dropped FROM pr GROUP BY 1),
             v AS (SELECT cluster, count(*) AS n_vecs FROM m GROUP BY 1)
             SELECT v.cluster, v.n_vecs,
               coalesce(d.n_dropped, 0) AS n_dropped,
               v.n_vecs - coalesce(d.n_dropped, 0) AS n_kept
             FROM v LEFT JOIN d ON v.cluster = d.cluster
             ORDER BY v.cluster"""))

  /** Product-quantization codebook assignment — the compression
    * structure production ANN engines layer under IVF (q30): the 64-dim
    * space splits into 4 subspaces of 16 dims, each with its own small
    * codebook (the per-label centroid means restricted to that slice —
    * reusing [[centroids]] so the math cannot diverge from q30/q44), and
    * every vector stores just 4 code ids. Assignment is argmin
    * L2²-per-slice (the q57 fold idiom, no sqrt needed for argmin);
    * the audit rolls up code populations and the decimal-exact
    * quantization error per (subspace, code) — the distortion signal
    * that drives codebook retraining.
    *
    * ## 100 TB notes
    * Codebooks are k x dims/m doubles — broadcast forever; assignment
    * is a map-side argmin over the streamed corpus (cross join with a
    * 5-row build side x 4 subspaces), and the audit aggregate keys on
    * |subspaces| x |codes| groups. The PQ code table this emits is 4
    * bytes/vector — the thing that makes billion-vector indexes fit in
    * memory.
    */
  /** Squared L2 over two (sliced) arrays — the PQ/ADC distance kernel
    * (q57's metric without the sqrt, which argmin doesn't need). */
  private def l2sq(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))),
    lit(0.0), (acc, v) => acc + v)

  private val PqSubDims = 16

  /** PQ code assignment `(vec_id, m, code, err)`: per vector x subspace,
    * the argmin-L2² codebook entry (codebooks = [[centroids]] slices) —
    * shared by q138 (population/distortion audit) and q139 (ADC recall).
    */
  private def pqCodes(e: DataFrame): DataFrame = {
    val cents = centroids(e) // (c_label, cemb), |labels| rows
    val scored = e
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(3))).as("m"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("m"), col("c_label"),
        l2sq(slice(col("embedding"), col("m") * PqSubDims + 1, lit(PqSubDims)),
          slice(col("cemb"), col("m") * PqSubDims + 1, lit(PqSubDims)))
          .as("err"))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("err").asc, col("c_label").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("c_label").as("code"), col("err"))
  }

  /** Oracle mirror of [[pqCodes]] as CTEs sub/codes (expects `cent` from
    * [[duckAssignCtes]] in scope). */
  private val DuckPqCodesCtes: String =
    """sub AS (SELECT e.vec_id, m.m, cent.c_label,
                 list_sum(list_transform(list_zip(
                   CAST(list_slice(e.embedding, m.m * 16 + 1,
                     m.m * 16 + 16) AS DOUBLE[]),
                   list_slice(cent.cemb, m.m * 16 + 1, m.m * 16 + 16)),
                   x -> (x[1] - x[2]) * (x[1] - x[2]))) AS err
               FROM embeddings e,
                    (SELECT unnest(generate_series(0, 3)) AS m) m,
                    cent),
       codes AS (SELECT vec_id, m, c_label AS code, err
                 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                         ORDER BY err ASC, c_label ASC) AS rn
                       FROM sub)
                 WHERE rn = 1)"""

  val q138PqCodebook: Q = Q(
    "q138_pq_codebook",
    (s, dir) => {
      pqCodes(emb(s, dir))
        .groupBy(col("m").cast("long").as("subspace"), col("code"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("err").cast("decimal(30,15)")), 9).cast("double")
            .as("total_err"))
        .orderBy("subspace", "code")
    },
    Some(s"""WITH ${duckAssignCtes("embedding,")},
             $DuckPqCodesCtes
             SELECT CAST(m AS BIGINT) AS subspace, code,
               count(*) AS n_vecs,
               CAST(round(sum(CAST(err AS DECIMAL(30,15))), 9) AS DOUBLE)
                 AS total_err
             FROM codes
             GROUP BY m, code ORDER BY subspace, code"""))

  /** PQ serving path end-to-end — ADC shortlist + exact rerank, with
    * recall@3 against the exhaustive ground truth: a query precomputes a
    * (subspace x code) lookup table of slice distances, every database
    * vector's APPROXIMATE distance is four table lookups summed (the raw
    * vectors are never touched in the scan), the top-50 shortlist is
    * reranked with the exact metric, and the final top-3 is audited like
    * q49 audits sign-LSH. The rerank stage is not optional garnish: with
    * a coarse codebook whole cells tie at identical ADC distance (a
    * first cut WITHOUT rerank measured recall 0.0 — the tie-broken
    * shortlist head was arbitrary ids), which is exactly why production
    * PQ serving always reranks a shortlist.
    *
    * Determinism: the four subspace terms are pivoted into a FIXED-order
    * `d0+d1+d2+d3` chain — a groupBy sum of doubles would be
    * accumulation-order-dependent; a 4-term pivot is not.
    *
    * ## 100 TB notes
    * The LUT is |queries| x 4 x |codes| rows — broadcast; the ADC scan
    * streams the 4-rows-per-vector CODE table (4 bytes/vector at
    * serving time); only the 50-row shortlist per query ever rereads
    * real embeddings. The exhaustive side exists as the labeled recall
    * baseline, exactly like q27 for q28/q49.
    */
  val q139PqAdcRecall: Q = Q(
    "q139_pq_adc_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val cents = centroids(e)
      val lut = queries
        .select(col("q_id"), col("qe"),
          explode(sequence(lit(0), lit(3))).as("m"))
        .crossJoin(broadcast(cents))
        .select(col("q_id"), col("m"), col("c_label").as("code"),
          l2sq(slice(col("qe"), col("m") * PqSubDims + 1, lit(PqSubDims)),
            slice(col("cemb"), col("m") * PqSubDims + 1, lit(PqSubDims)))
            .as("d"))
      val codes = pqCodes(e)
        .select(col("vec_id").as("cand_id"), col("m"), col("code"))
      def term(i: Int) = max(when(col("m") === i, col("d"))).as(s"d$i")
      val adc = codes.join(broadcast(lut), Seq("m", "code"))
        .filter(col("cand_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("cand_id"))
        .agg(term(0), term(1), term(2), term(3))
        .select(col("q_id"), col("cand_id"),
          (col("d0") + col("d1") + col("d2") + col("d3")).as("dist"))
      def topK(df: DataFrame, k: Int) = {
        val w = Window.partitionBy("q_id")
          .orderBy(col("dist").asc, col("cand_id").asc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
          .select(col("q_id"), col("cand_id"))
      }
      // ADC shortlist -> exact rerank (only 50 embeddings reread/query);
      // the |queries| x 50 shortlist is the BROADCAST side — the
      // embedding table is the 100 TB side and must only be probed
      val reranked = e
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
        .join(broadcast(topK(adc, 50)), Seq("cand_id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("cand_id"),
          l2sq(col("qe"), col("ce")).as("dist"))
      val exact = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(queries))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"), l2sq(col("qe"), col("ce")).as("dist"))
      broadcast(topK(exact, 3)
        .join(broadcast(topK(reranked, 3)), Seq("q_id", "cand_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits")))
        .join(queries.select(col("q_id")), Seq("q_id"), "right")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / 3)
            .as("recall_at_3"))
        .orderBy("q_id")
    },
    Some(s"""WITH ${duckAssignCtes("embedding,")},
             $DuckPqCodesCtes,
             q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id < 3),
             lut AS (SELECT q_id, m.m, cent.c_label AS code,
                       list_sum(list_transform(list_zip(
                         list_slice(qe, m.m * 16 + 1, m.m * 16 + 16),
                         list_slice(cent.cemb, m.m * 16 + 1, m.m * 16 + 16)),
                         x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
                     FROM q, (SELECT unnest(generate_series(0, 3)) AS m) m,
                          cent),
             adc AS (SELECT q_id, c.vec_id AS cand_id,
                       max(CASE WHEN l.m = 0 THEN d END)
                       + max(CASE WHEN l.m = 1 THEN d END)
                       + max(CASE WHEN l.m = 2 THEN d END)
                       + max(CASE WHEN l.m = 3 THEN d END) AS dist
                     FROM codes c JOIN lut l
                       ON l.m = c.m AND l.code = c.code
                     WHERE c.vec_id != l.q_id
                     GROUP BY q_id, c.vec_id),
             short AS (SELECT q_id, cand_id FROM (
                         SELECT q_id, cand_id, row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY dist ASC, cand_id ASC) AS rn
                         FROM adc) WHERE rn <= 50),
             rr AS (SELECT s.q_id, s.cand_id,
                      list_sum(list_transform(list_zip(q.qe,
                        CAST(e.embedding AS DOUBLE[])),
                        x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
                    FROM short s
                    JOIN embeddings e ON e.vec_id = s.cand_id
                    JOIN q ON q.q_id = s.q_id),
             rrt AS (SELECT q_id, cand_id FROM (
                       SELECT q_id, cand_id, row_number() OVER (
                         PARTITION BY q_id
                         ORDER BY dist ASC, cand_id ASC) AS rn
                       FROM rr) WHERE rn <= 3),
             ex AS (SELECT q_id, e.vec_id AS cand_id,
                      list_sum(list_transform(list_zip(qe,
                        CAST(e.embedding AS DOUBLE[])),
                        x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
                    FROM embeddings e, q WHERE e.vec_id != q_id),
             ext AS (SELECT q_id, cand_id FROM (
                       SELECT q_id, cand_id, row_number() OVER (
                         PARTITION BY q_id
                         ORDER BY dist ASC, cand_id ASC) AS rn
                       FROM ex) WHERE rn <= 3),
             hits AS (SELECT e.q_id, count(*) AS n_hits
                      FROM ext e JOIN rrt a
                        ON a.q_id = e.q_id AND a.cand_id = e.cand_id
                      GROUP BY e.q_id)
             SELECT q.q_id, coalesce(n_hits, 0) AS n_hits,
               CAST(coalesce(n_hits, 0) AS DOUBLE) / 3 AS recall_at_3
             FROM q LEFT JOIN hits ON hits.q_id = q.q_id
             ORDER BY q.q_id"""))

  /** Mutual nearest neighbors — the symmetric-match filter bitext
    * mining and cross-lingual pair extraction rely on (Artetxe &
    * Schwenk's margin criterion starts from exactly this): a candidate
    * pair survives only if each vector is the OTHER's top-1 neighbor.
    * One-directional top-1 (q27's shape) keeps hub vectors that are
    * "closest" to thousands of points; mutuality kills hubs without any
    * tuned threshold, which is why it is the standard high-precision
    * pairing rule.
    *
    * Scale path: neighbors are computed WITHIN sign-LSH buckets (q28's
    * 4-bit partitioning) — the candidate set is bucket-bounded, never
    * all-pairs. Top-1 election is a total order (score desc, id asc);
    * the mutual join then keeps pairs where a.top1 = b and b.top1 = a,
    * emitted once with a < b. Score is the raw double cosine of one
    * fixed op tree (Catalog contract).
    *
    * ## 100 TB notes
    * The bucket self-join shuffles once on the 4-bit key; per-bucket
    * work is quadratic only in the BUCKET population (the same bound
    * q28 carries). The mutuality check is a self-join of the top-1
    * table on (id, nn) = (nn, id) — one more shuffle of |V| rows.
    * At real scale the bucket bits widen (more planes), keeping
    * per-bucket population constant; the plan shape is unchanged.
    */
  val q208MutualNn: Q = Q(
    "q208_mutual_nn",
    (s, dir) => {
      val e = emb(s, dir)
      val withB = e.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding")).as("bucket"))
      val a = withB.select(col("vec_id").as("id"), col("embedding").as("ae"),
        col("bucket"))
      val b = withB.select(col("vec_id").as("cand"), col("embedding").as("be"),
        col("bucket"))
      val scored = a.join(b, Seq("bucket"))
        .filter(col("id") =!= col("cand"))
        .select(col("id"), col("cand"),
          cosineSim(col("ae"), col("be")).as("score"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("score").desc, col("cand").asc)
      val top1 = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("cand").as("nn"), col("score"))
      val rev = top1.select(col("id").as("r_id"), col("nn").as("r_nn"))
      top1.join(rev,
          col("nn") === col("r_id") && col("id") === col("r_nn"))
        .filter(col("id") < col("nn"))
        .select(col("id").as("a"), col("nn").as("b"), col("score"))
        .orderBy(col("a"))
    },
    Some(s"""WITH wb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                  $duckBucket AS bucket
                FROM embeddings),
             sc AS (SELECT x.vec_id AS id, y.vec_id AS cand,
                      ${duckCos("x.e", "y.e")} AS score
                    FROM wb x JOIN wb y ON x.bucket = y.bucket
                    WHERE x.vec_id != y.vec_id),
             t1 AS (SELECT id, cand AS nn, score FROM (
                      SELECT *, row_number() OVER (PARTITION BY id
                        ORDER BY score DESC, cand ASC) AS rn FROM sc)
                    WHERE rn = 1)
             SELECT p.id AS a, p.nn AS b, p.score
             FROM t1 p JOIN t1 r ON p.nn = r.id AND p.id = r.nn
             WHERE p.id < p.nn ORDER BY a"""))

  /** Cluster cohesion vs separation margin — the silhouette-style
    * health check run before trusting labels (or k-means output) for
    * anything downstream: per label, how similar are members to their
    * OWN centroid (cohesion), how similar is that centroid to its
    * nearest OTHER centroid (cross_sim), and the margin between the
    * two. A label whose margin goes negative is bleeding into a
    * neighbor — the exact failure IVF routing (q30) and semantic dedup
    * (q79) silently inherit. Centroids are q30/q44's exact-decimal
    * means (shared helper, so the math cannot diverge); per-member
    * cosines accumulate in decimal(30,10) (the Catalog double-sum
    * contract); nearest-other election is a total order.
    *
    * ## 100 TB notes
    * Centroids are label-count-sized and broadcast; the cohesion pass
    * streams the corpus once against them (map-side agg on label); the
    * separation pass is a centroid-x-centroid cross join — k^2 rows of
    * driver scale, nothing more.
    */
  val q218ClusterMargin: Q = Q(
    "q218_cluster_margin",
    (s, dir) => {
      val e = emb(s, dir)
      val cents = centroids(e)
      val own = e.join(broadcast(cents), col("label") === col("c_label"))
        .select(col("label"),
          cosineSim(col("embedding"), col("cemb")).as("sim"))
      val coh = own.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (round(sum(col("sim").cast("decimal(30,10)")), 6).cast("double") /
            count(lit(1))).as("cohesion"))
      val c2 = cents.select(col("c_label").as("o_label"),
        col("cemb").as("oemb"))
      val cross = cents.crossJoin(broadcast(c2))
        .filter(col("c_label") =!= col("o_label"))
        .select(col("c_label").as("label"), col("o_label"),
          cosineSim(col("cemb"), col("oemb")).as("xsim"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("xsim").desc, col("o_label").asc)
      val sep = cross.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("label"), col("o_label").as("nearest_other"),
          col("xsim").as("cross_sim"))
      coh.join(sep, Seq("label"))
        .select(col("label"), col("n_vecs"), col("cohesion"),
          col("nearest_other"), col("cross_sim"),
          (col("cohesion") - col("cross_sim")).as("margin"))
        .orderBy(col("label"))
    },
    Some(s"""WITH pe AS (SELECT label, j AS pos, embedding[j+1] AS v
                FROM embeddings, range(0, 64) r(j)),
             cd AS (SELECT label, pos,
                      CAST(round(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,15))), 9)
                        AS DOUBLE) / count(*) AS cv
                    FROM pe GROUP BY label, pos),
             cent AS (SELECT label AS c_label, list(cv ORDER BY pos) AS cemb
                      FROM cd GROUP BY label),
             own AS (SELECT label,
                 ${duckCos("CAST(embedding AS DOUBLE[])", "cemb")} AS sim
               FROM embeddings JOIN cent ON label = c_label),
             coh AS (SELECT label, count(*) AS n_vecs,
                 CAST(round(sum(CAST(sim AS DECIMAL(30,10))), 6) AS DOUBLE)
                   / count(*) AS cohesion
               FROM own GROUP BY label),
             cr AS (SELECT a.c_label AS label, b.c_label AS o_label,
                      ${duckCos("a.cemb", "b.cemb")} AS xsim
                    FROM cent a JOIN cent b ON a.c_label != b.c_label),
             sep AS (SELECT label, o_label AS nearest_other,
                       xsim AS cross_sim
                     FROM (SELECT *, row_number() OVER (PARTITION BY label
                             ORDER BY xsim DESC, o_label ASC) AS rn FROM cr)
                     WHERE rn = 1)
             SELECT coh.label, n_vecs, cohesion, nearest_other, cross_sim,
               cohesion - cross_sim AS margin
             FROM coh JOIN sep ON coh.label = sep.label
             ORDER BY coh.label"""))

  /** ANN plane-count tuning curve — q49 measures recall for ONE sign-LSH
    * configuration; this sweeps the hyperplane count k in {2,3,4} and
    * reports, per k, the recall@3 against exhaustive truth AND the scan
    * fraction (candidates probed / full-scan candidates) — the
    * recall-vs-cost frontier an ANN deployment actually tunes on:
    * every added plane halves the expected bucket (scan cost down),
    * and this table shows exactly what each halving costs in recall.
    * Truth is one subplan shared by all three arms; every
    * election is a total order (score desc, id asc).
    *
    * ## 100 TB notes
    * One exhaustive pass for truth (the benchmark's irreducible cost —
    * sampled in production); each arm is a bucket equi-join whose
    * per-bucket population halves per plane. The three arms read the
    * same embeddings scan; rollups are 1-row each.
    */
  val q241AnnBitsCurve: Q = Q(
    "q241_ann_bits_curve",
    (s, dir) => {
      val e = emb(s, dir)
      val corpusN = e.count().toDouble
      val nQ = 10
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      val wTruth = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val truth = c.crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rn", row_number().over(wTruth))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      def bucketK(e: Column, k: Int): Column =
        (0 until k).map(i =>
          when(element_at(e, i + 1) >= 0, 1 << i).otherwise(0))
          .reduce(_ + _)
      val arms = Seq(2, 3, 4).map { k =>
        val qb = q.select(col("q_id"), col("qe"),
          bucketK(col("qe"), k).as("bucket"))
        val cb = c.select(col("cand_id"), col("ce"),
          bucketK(col("ce"), k).as("bucket"))
        val cand = cb.join(broadcast(qb), Seq("bucket"))
          .filter(col("cand_id") =!= col("q_id"))
        val candCount = cand.agg(count(lit(1)).as("n_candidates"))
        val top3 = cand
          .select(col("q_id"), col("cand_id"),
            cosineSim(col("qe"), col("ce")).as("score"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("score").desc, col("cand_id").asc)))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("cand_id"))
        val hits = top3.join(truth, Seq("q_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        candCount.crossJoin(broadcast(hits))
          .select(lit(k).as("n_planes"), col("n_candidates"), col("n_hits"),
            (col("n_hits").cast("double") / lit(3.0 * nQ)).as("recall_at_3"),
            (col("n_candidates").cast("double") /
              lit(nQ.toDouble) / lit(corpusN)).as("scan_frac"))
      }
      arms.reduce(_ unionByName _).orderBy(col("n_planes"))
    },
    Some {
      def duckBucketK(e: String, k: Int): String =
        (0 until k).map(i =>
          s"(CASE WHEN $e[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
      def arm(k: Int): String =
        s"""SELECT $k AS n_planes,
              (SELECT count(*) FROM cand$k) AS n_candidates,
              (SELECT count(*) FROM top$k t
               JOIN truth ON t.q_id = truth.q_id
                 AND t.cand_id = truth.cand_id) AS n_hits,
              (SELECT count(*) FROM top$k t
               JOIN truth ON t.q_id = truth.q_id
                 AND t.cand_id = truth.cand_id)::DOUBLE / 30.0
                AS recall_at_3,
              (SELECT count(*) FROM cand$k)::DOUBLE / 10.0
                / (SELECT count(*) FROM embeddings)::DOUBLE AS scan_frac"""
      val candCtes = Seq(2, 3, 4).map { k =>
        s"""cand$k AS (SELECT q.q_id, c.vec_id AS cand_id,
               ${duckCos("q.qe", "CAST(c.embedding AS DOUBLE[])")} AS score
             FROM embeddings c JOIN qs q
               ON ${duckBucketK("c.embedding", k)} = q.b$k
             WHERE c.vec_id != q.q_id),
            top$k AS (SELECT q_id, cand_id FROM (
                SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
                  ORDER BY score DESC, cand_id ASC) AS rn FROM cand$k)
              WHERE rn <= 3)"""
      }.mkString(",\n            ")
      s"""WITH qs AS (SELECT vec_id AS q_id,
                CAST(embedding AS DOUBLE[]) AS qe,
                ${duckBucketK("embedding", 2)} AS b2,
                ${duckBucketK("embedding", 3)} AS b3,
                ${duckBucketK("embedding", 4)} AS b4
              FROM embeddings WHERE vec_id < 10),
            tr AS (SELECT q.q_id, c.vec_id AS cand_id,
                ${duckCos("q.qe", "CAST(c.embedding AS DOUBLE[])")} AS score
              FROM embeddings c, qs q WHERE c.vec_id != q.q_id),
            truth AS (SELECT q_id, cand_id FROM (
                SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
                  ORDER BY score DESC, cand_id ASC) AS rn FROM tr)
              WHERE rn <= 3),
            $candCtes
            SELECT * FROM (${Seq(2, 3, 4).map(arm).mkString(
        " UNION ALL ")})
            ORDER BY n_planes"""
    })

  /** Matryoshka truncation-recall curve — can the index serve the FIRST
    * d dims of each embedding and keep the neighbors? (The
    * dimension-reduction counterpart of q241's plane curve and q139's
    * PQ recall: MRL-style models pack information head-first, so
    * truncation is the cheapest storage/bandwidth knob an embedding
    * service has; this measures what it costs on THIS corpus.) For the
    * 10-query probe set: exhaustive top-5 by full 64-dim cosine is
    * ground truth; each arm re-ranks the SAME corpus by cosine over the
    * leading d in {8, 16, 32} dims; recall@5 = |truncated-top-5 ∩
    * full-top-5| / (5 * |Q|) — hit counting is exact integers, the
    * recall is one closing division.
    *
    * ## 100 TB notes
    * Both passes stream the corpus against the broadcast query set (the
    * exhaustive baseline's irreducible cost — sample in production);
    * the three truncation arms ride ONE stream via a literal explode of
    * widths (q177's bounded-explode pattern), so the corpus is scanned
    * twice total (full + arms), never once per arm. Top-5 cuts are
    * per-(width, query) window heaps; the hit join handles
    * 5 * |Q| * |widths| rows.
    */
  val q257MatryoshkaRecall: Q = Q(
    "q257_matryoshka_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      def top5(scored: DataFrame, part: Seq[Column]): DataFrame = {
        val w = Window.partitionBy(part: _*)
          .orderBy(col("score").desc, col("cand_id").asc)
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).drop("rn", "score")
      }
      val truth = top5(
        c.crossJoin(broadcast(q))
          .filter(col("cand_id") =!= col("q_id"))
          .select(col("q_id"), col("cand_id"),
            cosineSim(col("qe"), col("ce")).as("score")),
        Seq(col("q_id")))
      val arms = top5(
        c.crossJoin(broadcast(q))
          .filter(col("cand_id") =!= col("q_id"))
          .select(col("q_id"), col("cand_id"),
            explode(array(lit(8), lit(16), lit(32))).as("d"),
            col("qe"), col("ce"))
          .select(col("d"), col("q_id"), col("cand_id"),
            cosineSim(slice(col("qe"), lit(1), col("d")),
              slice(col("ce"), lit(1), col("d"))).as("score")),
        Seq(col("d"), col("q_id")))
      val nQ = q.agg(count(lit(1)).as("n_queries")) // 1 row
      arms.join(truth.withColumn("hit", lit(1L)), Seq("q_id", "cand_id"),
          "left")
        .groupBy(col("d"))
        .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .crossJoin(broadcast(nQ))
        .select(col("d"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast("double") /
            (col("n_queries") * 5).cast("double")).as("recall_at_5"))
        .orderBy(col("d"))
    },
    Some {
      def armCte(d: Int) =
        s"""a$d AS (SELECT q_id, cand_id FROM (
               SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, cand_id ASC) AS rn
               FROM (SELECT q.q_id, c.vec_id AS cand_id,
                   ${duckCos(s"list_slice(qe, 1, $d)",
          s"list_slice(CAST(c.embedding AS DOUBLE[]), 1, $d)")}
                     AS score
                 FROM embeddings c, qs q WHERE c.vec_id != q.q_id))
             WHERE rn <= 5)"""
      def armRow(d: Int) =
        s"""SELECT $d AS d,
              (SELECT count(*) FROM qs) AS n_queries,
              (SELECT count(*) FROM a$d t JOIN truth
                 ON t.q_id = truth.q_id AND t.cand_id = truth.cand_id)
                AS n_hits,
              (SELECT count(*) FROM a$d t JOIN truth
                 ON t.q_id = truth.q_id AND t.cand_id = truth.cand_id)
                ::DOUBLE / ((SELECT count(*) FROM qs) * 5)::DOUBLE
                AS recall_at_5"""
      s"""WITH qs AS (SELECT vec_id AS q_id,
                CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id < 10),
            tr AS (SELECT q.q_id, c.vec_id AS cand_id,
                ${duckCos("q.qe", "CAST(c.embedding AS DOUBLE[])")} AS score
              FROM embeddings c, qs q WHERE c.vec_id != q.q_id),
            truth AS (SELECT q_id, cand_id FROM (
                SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
                  ORDER BY score DESC, cand_id ASC) AS rn FROM tr)
              WHERE rn <= 5),
            ${Seq(8, 16, 32).map(armCte).mkString(",\n            ")}
            SELECT * FROM (${Seq(8, 16, 32).map(armRow).mkString(
        " UNION ALL ")})
            ORDER BY d"""
    })

  /** Embedding-table intake QA — the gate an embedding column passes
    * before any similarity work is trusted: per label, vector counts,
    * the dimension range (ragged dimensions break every dot product
    * downstream), zero vectors (cosine is undefined on them — q27's
    * scores would go NaN), non-finite vectors (one NaN poisons a
    * centroid mean), and the L2-norm envelope (min/max/rounded sum —
    * unnormalized outliers dominate IVF assignment). On the clean
    * fixture the defect counts are zero — the audit PROVES clean, the
    * same posture as q183's orphan audit.
    *
    * Norms are per-row IEEE op trees (sequential fold, identical on
    * both engines); the only cross-row float reduction is the norm
    * SUM, accumulated in decimal(30,10) and rounded in decimal (the
    * determinism contract); min/max of identical doubles are
    * order-independent. A sum of squares can only be >= 0 or
    * non-finite, so `isnan(ns) OR ns = +Inf` is a complete
    * finiteness test.
    *
    * ## 100 TB notes
    * Map-only per-row arithmetic + one |labels|-sized group-by with
    * map-side partials. This is the profile a vector-lake ingest job
    * emits per shard; mergeable across shards because every measure
    * is a monoid (counts, min/max, decimal sum).
    */
  val q281EmbeddingQa: Q = Q(
    "q281_embedding_qa",
    (s, dir) => {
      val e = emb(s, dir)
      val normSq = aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      val rows = e.select(col("label"),
        size(col("embedding")).cast("long").as("dim"),
        normSq.as("ns"))
        .withColumn("nonfinite",
          isnan(col("ns")) ||
            col("ns") === lit(Double.PositiveInfinity))
        .withColumn("norm",
          when(col("nonfinite"), lit(null)).otherwise(sqrt(col("ns"))))
      rows.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
          count(when(col("ns") === 0.0d, 1)).as("n_zero"),
          count(when(col("nonfinite"), 1)).as("n_nonfinite"),
          min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"),
          round(sum(col("norm").cast("decimal(30,10)")), 6).cast("double")
            .as("norm_sum"))
        .orderBy("label")
    },
    Some("""WITH r AS (SELECT label,
                CAST(len(embedding) AS BIGINT) AS dim,
                coalesce(list_sum(list_transform(
                  CAST(embedding AS DOUBLE[]), v -> v * v)), 0.0) AS ns
              FROM embeddings),
            f AS (SELECT label, dim, ns,
                    (isnan(ns) OR ns = 'Infinity'::DOUBLE) AS nonfinite
                  FROM r),
            n AS (SELECT label, dim, ns, nonfinite,
                    CASE WHEN nonfinite THEN NULL ELSE sqrt(ns) END
                      AS norm
                  FROM f)
            SELECT label, count(*) AS n_vecs,
              min(dim) AS dim_min, max(dim) AS dim_max,
              count(CASE WHEN ns = 0.0 THEN 1 END) AS n_zero,
              count(CASE WHEN nonfinite THEN 1 END) AS n_nonfinite,
              min(norm) AS min_norm, max(norm) AS max_norm,
              CAST(round(sum(CAST(norm AS DECIMAL(30,10))), 6) AS DOUBLE)
                AS norm_sum
            FROM n GROUP BY label ORDER BY label"""))

  /** IVF probe-count tuning curve — the nprobe decision table that
    * completes the ANN tuning set (q241 sweeps the sign-LSH plane
    * count; this sweeps how many inverted-file CELLS a query visits):
    * the corpus is assigned to its argmax-cosine centroid cell (q30's
    * assignment, reused verbatim), each query ranks the centroids,
    * and for nprobe ∈ {1, 2, 4} the probe joins only the top-nprobe
    * cells' vectors, takes top-3 by exact cosine, and scores recall@3
    * against the exhaustive truth. Hits and truth are exact counts,
    * so `recall_ppm = hits*1e6 div truth` is exact integer — the
    * curve shows recall bought per extra cell visited, which is the
    * cost knob (probe work scales ~linearly in nprobe).
    *
    * ## 100 TB notes
    * The probe is the production IVF shape: candidates come from an
    * equi-join on the CELL id (corpus bucketed by cell — bounded
    * probe sets), never a corpus scan; the exhaustive truth pass is
    * the measurement's cost, run on a query SAMPLE in production
    * (10 queries here). Centroids broadcast (k×dims, tiny).
    */
  val q290IvfProbeCurve: Q = Q(
    "q290_ivf_probe_curve",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val cells = assignToCentroid(e, carry = Seq("embedding"))
        .select(col("vec_id").as("cand_id"), col("c_label").as("cell"),
          col("embedding").as("ce"))
      val crank = Window.partitionBy(col("q_id"))
        .orderBy(col("cscore").desc, col("cell").asc)
      val qCells = q.crossJoin(broadcast(centroids(e)))
        .select(col("q_id"), col("qe"), col("c_label").as("cell"),
          cosineSim(col("qe"), col("cemb")).as("cscore"))
        .withColumn("crk", row_number().over(crank))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val truth = e
        .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(q))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("q_id"), col("cand_id"))
      val probes = s.range(0, 1).select(
        explode(array(lit(1), lit(2), lit(4))).as("nprobe"))
      val wm = Window.partitionBy(col("nprobe"), col("q_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val annTop = qCells.crossJoin(broadcast(probes))
        .filter(col("crk") <= col("nprobe"))
        .join(cells, Seq("cell"))
        .filter(col("cand_id") =!= col("q_id"))
        .select(col("nprobe"), col("q_id"), col("cand_id"),
          cosineSim(col("qe"), col("ce")).as("score"))
        .withColumn("rank", row_number().over(wm))
        .filter(col("rank") <= 3)
        .select(col("nprobe"), col("q_id"), col("cand_id"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth")) // 1 row
      annTop.join(truth, Seq("q_id", "cand_id"), "left_semi")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nTruth))
        .select(col("nprobe").cast("long").as("nprobe"),
          col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000 div n_truth").as("recall_ppm"))
        .orderBy("nprobe")
    },
    Some(s"""WITH ${duckAssignCtes("embedding,")},
             cells AS (SELECT vec_id AS cand_id, c_label AS cell,
                         CAST(embedding AS DOUBLE[]) AS ce
                       FROM a WHERE rn = 1),
             q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                   FROM embeddings WHERE vec_id < 10),
             qc AS (SELECT q_id, qe, c_label AS cell,
                      row_number() OVER (PARTITION BY q_id ORDER BY
                        ${duckCos("qe", "cemb")} DESC, c_label ASC) AS crk
                    FROM q, cent),
             ts AS (SELECT q_id, cand_id,
                      row_number() OVER (PARTITION BY q_id ORDER BY
                        ${duckCos("qe", "ce")} DESC, cand_id ASC) AS rank
                    FROM (SELECT vec_id AS cand_id,
                            CAST(embedding AS DOUBLE[]) AS ce
                          FROM embeddings) c, q
                    WHERE cand_id != q_id),
             truth AS (SELECT q_id, cand_id FROM ts WHERE rank <= 3),
             nt AS (SELECT count(*) AS n_truth FROM truth),
             m AS (SELECT unnest([1, 2, 4]) AS nprobe),
             pr AS (SELECT m.nprobe, qc.q_id, qc.qe, qc.cell
                    FROM qc CROSS JOIN m WHERE qc.crk <= m.nprobe),
             ac AS (SELECT pr.nprobe, pr.q_id, cells.cand_id,
                      row_number() OVER (PARTITION BY pr.nprobe, pr.q_id
                        ORDER BY ${duckCos("pr.qe", "cells.ce")} DESC,
                          cells.cand_id ASC) AS rank
                    FROM pr JOIN cells USING (cell)
                    WHERE cells.cand_id != pr.q_id),
             at2 AS (SELECT nprobe, q_id, cand_id FROM ac WHERE rank <= 3),
             h AS (SELECT nprobe, count(*) AS n_hit
                   FROM at2 JOIN truth USING (q_id, cand_id)
                   GROUP BY 1)
             SELECT CAST(nprobe AS BIGINT) AS nprobe,
               CAST(n_truth AS BIGINT) AS n_truth, n_hit,
               n_hit * 1000000 // n_truth AS recall_ppm
             FROM h, nt ORDER BY nprobe"""))

  val all: Seq[Q] = Seq(q27KnnBrute, q28AnnLsh, q29EmbNearDup, q30IvfCentroid,
    q44KmeansStep, q49AnnRecall, q52SqlSurface, q57L2Knn, q71Int8Quant,
    q79SemanticDedup, q138PqCodebook, q139PqAdcRecall, q208MutualNn,
    q218ClusterMargin, q241AnnBitsCurve, q257MatryoshkaRecall,
    q281EmbeddingQa, q290IvfProbeCurve)
}
