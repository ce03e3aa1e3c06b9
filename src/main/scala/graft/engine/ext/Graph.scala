package graft.engine.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Fixpoint

/** Distributed graph primitives for the dedup pipeline.
  *
  * ## 100 TB notes
  * Connected components over a duplicate-pair edge set is the one graph
  * problem a training-data pipeline must solve at scale. Two engine
  * implementations exist, trading round count against per-round cost:
  *
  *  - min-label propagation (`DedupQueries.componentLabels`, q43): one
  *    equi-join shuffle per round, rounds = component DIAMETER. The right
  *    default for dedup graphs, whose components are dense near-cliques
  *    of diameter 2-3.
  *  - alternating large-star/small-star (here, q69): two groupBy+join
  *    shuffles per round, rounds = O(log n) on ANY shape — including the
  *    long chain that would cost label propagation one full shuffle per
  *    hop. Kiveris et al., "Connected Components in MapReduce and
  *    Beyond" (SOCC '14).
  *
  * Both run their rounds through [[graft.engine.Fixpoint]], over the
  * |V(edges)|-bounded vertex set (only docs that appear in some
  * duplicate pair), never the full corpus.
  */
object Graph {

  /** Connected components via alternating large-star/small-star rounds.
    *
    * Input: an edge DataFrame with two numeric columns `a`, `b` (any
    * direction, duplicates and self-loops tolerated). Output:
    * (`doc_id`, `component`) with component = min vertex id of the
    * component, one row per vertex that appears in some edge — the same
    * contract as q43's label propagation.
    *
    * Each round canonicalizes edges as (small, large) pairs:
    *  - large-star: every neighbor v > u re-attaches to m(u) =
    *    min(N(u) ∪ u) — long tails collapse toward minima in parallel;
    *  - small-star: every neighbor v < u re-attaches to m(u), and u
    *    itself attaches to m(u) — stars flatten so the next large-star
    *    sees the merged neighborhood.
    * The edge set strictly shrinks toward a union of min-rooted stars;
    * convergence = the round is a no-op: [[graft.engine.Fixpoint]] stops
    * at the first round that neither adds nor retires an edge. Every
    * round is groupBy/join equi-shuffles on the vertex key — no
    * driver-side data.
    */
  def largeSmallStarComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()

    // min over the closed neighborhood of each vertex of `und`
    def closedMin(und: DataFrame): DataFrame =
      und.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
        .select(col("a").as("u"), col("m"))

    def undirected(df: DataFrame): DataFrame =
      df.union(df.select(col("b").as("a"), col("a").as("b")))

    // `live`: the edge is in this round's output; a retired edge stays
    // one round, flagged, so the round's change count sees it
    val init = canon(edges).select(col("a"), col("b"),
      lit(true).as("live"), lit(false).as("changed"))
    val stars = Fixpoint.iterate(init, maxRounds,
        "large/small-star components") { (state, _) =>
      val cur = state.filter(col("live")).select(col("a"), col("b"))
      // large-star: (u,v) with v > u emits (m(u), v); m <= u < v keeps the
      // pair canonical and can never be a self-loop
      val undCur = undirected(cur)
      val large = undCur
        .join(closedMin(undCur), col("a") === col("u"))
        .filter(col("b") > col("a"))
        .select(col("m").as("a"), col("b"))
        .distinct()
      // small-star over the large-star output: (u,v) with v < u emits
      // (m(u), v), plus (m(u), u) — m <= v < u, so only the u = m(u)
      // self-attachment needs the self-loop filter
      val undL = undirected(large)
      val mL = closedMin(undL)
      val small = undL
        .join(mL, col("a") === col("u"))
        .filter(col("b") < col("a"))
        .select(col("m").as("a"), col("b"))
        .union(mL.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
      // both sides are distinct canonical sets, so the outer join pairs
      // each edge with itself; an edge on one side only was added or
      // retired by this round
      small.withColumn("live", lit(true))
        .join(cur.withColumn("was", lit(true)), Seq("a", "b"), "full_outer")
        .select(col("a"), col("b"), col("live").isNotNull.as("live"),
          (col("live").isNull || col("was").isNull).as("changed"))
    }
    // at the fixpoint the graph is a union of min-rooted stars: every
    // member's closed-neighborhood min IS the root, and the root's is itself
    closedMin(undirected(stars.select(col("a"), col("b"))))
      .select(col("u").as("doc_id"), col("m").as("component"))
  }
}
