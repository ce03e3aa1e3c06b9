package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Catalog.Q
import graft.engine.{Fixpoint, Tables}

/** Graph analytics over an explicit co-occurrence graph (SURVEY.md §2
  * scale extensions — complements connected components q43/q69 and the
  * PageRank step q89 with the remaining classic large-graph kernels:
  * triangle counting and breadth-first search).
  *
  * The graph: users are vertices; an undirected edge joins two users who
  * were active in the same (event_type, 10-minute cell) bucket. Buckets larger
  * than [[MaxBucket]] users are DROPPED before pair generation — the
  * same df-bound that caps q25's blocked Jaccard: a viral hour would
  * otherwise emit O(n^2) pairs for one key (the edge list stays linear
  * in the bounded-bucket count, and the bound doubles as the skew cap
  * for the self-join's hottest key).
  *
  * ## 100 TB notes
  *  - Edge generation is a bucket-keyed self-join AFTER the size filter:
  *    candidates meet only inside a (event_type, cell) key, never
  *    across, and the window count that sizes cells rides the same
  *    exchange the join needs.
  *  - Triangle counting (q110) uses the degree-orientation trick: each
  *    edge points low-degree -> high-degree (ties by id), so every
  *    vertex's out-degree is O(sqrt(m)) and the wedge self-join is the
  *    classic O(m^1.5) bound instead of exploding on hubs — the exact
  *    reason a star vertex with 10^6 neighbors contributes zero wedges
  *    rather than 10^12. The closing-edge probe is a plain equi-join on
  *    the canonical (min,max) pair.
  *  - BFS (q111), k-core peeling (q165) and time-respecting reach
  *    (q176) are [[graft.engine.Fixpoint]] loops of per-round
  *    equi-joins. BFS's visited set is the only growing state and it is
  *    bounded by |V|.
  */
object GraphQueries {

  /** Buckets with more distinct users than this emit no pairs. */
  private val MaxBucket = 8

  /** BFS round bound — must match the oracle CTE's `h < MaxHops`. */
  private val MaxHops = 20

  /** k-core peeling bound — the oracle unrolls exactly this many
    * peeling rounds, so the engine throws (rather than diverges) if the
    * fixpoint needs more. 8 is ~2x the observed peeling depth at sf0.1.
    */
  private val MaxPeelRounds = 8

  /** Time-respecting reachability round bound — label-correcting
    * arrivals strictly improve each round over a finite (node, bucket)
    * domain, so convergence is certain; the bound only turns a
    * would-be-silent runaway into a loud throw.
    */
  private val MaxWaveRounds = 30

  /** q231's per-middle neighborhood cap: each middle generates wedge
    * pairs only among its LinkCap lowest-id neighbors (deterministic
    * sample), bounding candidates at |V| * cap^2 / 2.
    */
  private val LinkCap = 16

  /** Number of from-scratch edge-list computations this JVM has run
    * (spec hook: the whole graph family, one compute).
    */
  private[graft] val edgeComputeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Undirected edge list (u < v), deduplicated — LANDED once per
    * (JVM, events-fixture signature) via [[Tables.landed]]: eight graph
    * kernels (q110/q111/q165/q184/q190/q194/q206/q231) consume this
    * exact relation and previously each re-ran the events scan + bucket
    * window + pair join + distinct. At 100 TB the edge list IS a landed
    * silver table; recomputing it per analytic query would be the
    * pipeline bug, not the architecture.
    */
  private[queries] def cooccurrenceEdges(s: SparkSession,
                                         dir: String): DataFrame =
    Tables.landed(s, "gedges", dir, Seq("events"),
      edgeComputeCount)(computeCooccurrenceEdges(s, dir))

  /** (node, d) vertex degrees of [[cooccurrenceEdges]] — landed with
    * the same fixture-signature key (consumed by q110/q206 directly and
    * by [[orientedEdges]]).
    */
  private[queries] def graphDegrees(s: SparkSession,
                                    dir: String): DataFrame =
    Tables.landed(s, "gdeg", dir, Seq("events")) {
      val e = cooccurrenceEdges(s, dir)
      e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
    }

  /** Degree-orient an ARBITRARY undirected edge list `e` (u, v) given
    * its degrees `deg` (node, d): each edge points low-degree ->
    * high-degree, ties by vertex id — a total order, so each triangle
    * has exactly one wedge s->t1, t1->t2 and every vertex's out-degree
    * is O(sqrt(m)). The one copy of the orientation tiebreak, shared
    * by the co-occurrence graph ([[orientedEdges]]) and any derived
    * graph (q234's verified-duplicate pairs).
    */
  private[queries] def orientEdges(e: DataFrame,
                                   deg: DataFrame): DataFrame = {
    val da = deg.select(col("node").as("u"), col("d").as("du"))
    val db = deg.select(col("node").as("v"), col("d").as("dv"))
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(da, "u").join(db, "v")
      .select(when(lowFirst, col("u")).otherwise(col("v")).as("s"),
        when(lowFirst, col("v")).otherwise(col("u")).as("t"))
  }

  /** The wedge self-join + closing join over oriented edges `oe`
    * (s, t), closing against the undirected list `e` (u, v), u < v —
    * the second half of the O(m^1.5) kernel, one copy for every
    * triangle consumer. Returns one row (a, b, c) per triangle.
    */
  private[queries] def wedgeTriangles(oe: DataFrame,
                                      e: DataFrame): DataFrame = {
    val e1 = oe.select(col("s").as("a"), col("t").as("b"))
    val e2 = oe.select(col("s").as("b2"), col("t").as("c"))
    val closing = e.select(col("u").as("x"), col("v").as("y"))
    e1.join(e2, col("b") === col("b2"))
      .join(closing,
        least(col("a"), col("c")) === col("x") &&
          greatest(col("a"), col("c")) === col("y"))
      .select(col("a"), col("b"), col("c"))
  }

  /** [[orientEdges]] applied to the co-occurrence graph, landed once
    * per (JVM, events signature) — the shared first stage of the
    * wedge-join kernels (q110 triangles, q184 truss, q206 local
    * clustering).
    */
  private[queries] def orientedEdges(s: SparkSession,
                                     dir: String): DataFrame =
    Tables.landed(s, "goedges", dir, Seq("events")) {
      orientEdges(cooccurrenceEdges(s, dir), graphDegrees(s, dir))
    }

  /** The degree-oriented triangle enumeration (a, b, c) — the closing
    * stage of the O(m^1.5) wedge join — landed once per (JVM, events
    * signature). Three kernels (q110 global count, q184 edge truss
    * support, q206 per-vertex clustering) consumed this exact relation
    * and each re-ran the wedge join + closing join per execution;
    * triangles are as much a computed-once silver relation as the edge
    * list itself (the triangle table is what a production graph
    * pipeline materializes before ANY truss/clustering analytics).
    * Size is bounded by the wedge count (O(m^1.5) worst case, far
    * smaller here: the bucket cap bounds cliques at 8 vertices).
    */
  private[queries] def triangleTable(s: SparkSession, dir: String): DataFrame =
    Tables.landed(s, "gtri", dir, Seq("events")) {
      wedgeTriangles(orientedEdges(s, dir), cooccurrenceEdges(s, dir))
    }

  /** TIMED co-occurrence edges (u, v, h), u < v, keeping the 10-minute
    * bucket index that [[cooccurrenceEdges]] drops — landed once per
    * (JVM, events-fixture signature) like the untimed list. q176's
    * label-correcting loop previously re-derived this relation (events
    * scan + bucket window + pair join + distinct) on EVERY run; the
    * temporal kernel's edge list is as much a landed silver table as
    * the static one, and at 100 TB re-deriving it per traversal would
    * be the pipeline bug.
    */
  private[queries] def timedEdges(s: SparkSession, dir: String): DataFrame =
    Tables.landed(s, "gtedges", dir, Seq("events")) {
      val ev = Tables.load(s, dir, "events")
      val b = ev.select(col("event_type"),
          expr("(ts div 1000) div 600000000").as("h"), col("user_id"))
        .distinct()
      val nu = b.withColumn("nu",
        count(lit(1)).over(Window.partitionBy(col("event_type"), col("h"))))
        .filter(col("nu").between(2, MaxBucket))
        .select(col("event_type"), col("h"), col("user_id"))
      nu.as("x")
        .join(nu.as("y"),
          col("x.event_type") === col("y.event_type") &&
            col("x.h") === col("y.h") &&
            col("x.user_id") < col("y.user_id"))
        .select(col("x.user_id").as("u"), col("y.user_id").as("v"),
          col("x.h").as("h"))
        .distinct()
    }

  private def computeCooccurrenceEdges(s: SparkSession,
                                       dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    // ts is an epoch-ns BIGINT (see EventQueries.tsUs); the 10-minute cell index
    // is exact integer division, identical on both engines (all ts > 0)
    val buckets = ev
      .select(col("event_type"),
        expr("(ts div 1000) div 600000000").as("h"), col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("event_type"), col("h"))
    val small = buckets
      .withColumn("nu", count(lit(1)).over(w))
      .filter(col("nu").between(2, MaxBucket))
      .select(col("event_type"), col("h"), col("user_id"))
    val a = small.select(col("event_type"), col("h"), col("user_id").as("u"))
    val b = small.select(col("event_type"), col("h"), col("user_id").as("v"))
    a.join(b, Seq("event_type", "h"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"))
      .distinct()
  }

  /** Shared oracle CTE prefix: the same edge list in DuckDB SQL. */
  private val duckEdges =
    s"""b AS (SELECT DISTINCT event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) // 600000000 AS h, user_id
              FROM events),
        sz AS (SELECT *, count(*) OVER (PARTITION BY event_type, h) AS nu
               FROM b),
        sm AS (SELECT event_type, h, user_id FROM sz
               WHERE nu BETWEEN 2 AND $MaxBucket),
        e AS (SELECT DISTINCT a.user_id AS u, c.user_id AS v
              FROM sm a JOIN sm c
                ON a.event_type = c.event_type AND a.h = c.h
              WHERE a.user_id < c.user_id)"""

  /** Degree-ordered triangle count + global clustering coefficient.
    *
    * Exact integer graph statistics in one row: vertex/edge counts, max
    * degree, wedge count (sum d*(d-1)/2, exact bigint — d*(d-1) is
    * always even so `div 2` is lossless), triangle count via the
    * oriented wedge join, and the global clustering coefficient
    * 3*tri/wedges as ONE double op tree (mul then div — bit-identical
    * across engines per the Catalog determinism contract).
    *
    * Round-9 isolated profile on the regenerated fixtures (sf0.1,
    * 187,938 capped edges, local[32]): 8.5 s cold / 3.6 s warm
    * standalone, 4.6 s cold inside the full suite where codegen/JIT is
    * amortized. The round-8 driver's 16.8 s was the same plan on a
    * ~4x-slower sandbox, not a flip: the executed plan remains
    * BroadcastHashJoin for the wedge (e1 x e2 on the shared middle
    * vertex) and the closing-edge join, plus two 1-row broadcast
    * cross-joins for the stats — the O(m^1.5) shape that survives a
    * 100x scale-up (the joins degrade gracefully to shuffled joins via
    * AQE when `oe` outgrows the broadcast threshold).
    */
  val q110Triangles: Q = Q(
    "q110_triangles",
    (s, dir) => {
      val e = cooccurrenceEdges(s, dir)
      val deg = graphDegrees(s, dir)
      // the wedge + closing joins live in the LANDED triangle table —
      // this query's own work is three tiny aggregates
      val tri = triangleTable(s, dir).agg(count(lit(1)).as("n_tri"))
      val degStats = deg.agg(
        count(lit(1)).as("n_nodes"),
        max(col("d")).as("max_deg"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val edgeCount = e.agg(count(lit(1)).as("n_edges"))
      degStats.crossJoin(broadcast(edgeCount)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("max_deg"),
          col("n_wedges"), col("n_tri"),
          (lit(3.0) * col("n_tri").cast("double") /
            col("n_wedges").cast("double")).as("clustering"))
    },
    Some(s"""WITH $duckEdges,
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
            ds AS (SELECT count(*) AS n_nodes, max(d) AS max_deg,
                     CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
                   FROM deg),
            ec AS (SELECT count(*) AS n_edges FROM e)
            SELECT n_nodes, n_edges, max_deg, n_wedges, n_tri,
              3.0 * CAST(n_tri AS DOUBLE) / CAST(n_wedges AS DOUBLE)
                AS clustering
            FROM ds, ec, tri"""))

  /** BFS hop-distance distribution from the minimum-id vertex.
    *
    * One [[Fixpoint]] round per hop: frontier (the nodes the last round
    * reached) x adjacency -> candidates, anti-join against visited ->
    * novel, stop when a round reaches nothing new. Unreachable vertices
    * are absent on both sides by construction.
    */
  val q111BfsHops: Q = Q(
    "q111_bfs_hops",
    (s, dir) => {
      val e = cooccurrenceEdges(s, dir)
      val adj = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      // every edge has u < v, so the minimum vertex id is min(u)
      val root = e.agg(min(col("u")).as("node"))
        .select(col("node"), lit(0L).as("hops"), lit(true).as("changed"))
      // the oracle's recursive join (`walk.h < MaxHops`) still emits
      // hop-MaxHops nodes (joined FROM h = MaxHops-1 rows), so hop
      // MaxHops is legitimate on both sides; only at MaxHops+1 would the
      // oracle first silently truncate — throw exactly there
      Fixpoint.iterate(root, MaxHops + 1, "BFS") { (dist, round) =>
        // both sides descend from the same edge relation — qualify via
        // aliases so the self-join columns cannot be ambiguous
        val novel = dist.filter(col("changed")).as("f")
          .join(adj.as("a"), col("f.node") === col("a.u"))
          .select(col("a.v").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
        dist.select(col("node"), col("hops"), lit(false).as("changed"))
          .unionByName(novel.select(col("node"),
            lit(round.toLong).as("hops"), lit(true).as("changed")))
      }.groupBy(col("hops"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("hops"))
    },
    Some(s"""WITH RECURSIVE $duckEdges,
            de AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
            walk AS (
              SELECT (SELECT min(u) FROM e) AS node, 0 AS h
              UNION
              SELECT de.v AS node, walk.h + 1 AS h
              FROM walk JOIN de ON de.u = walk.node
              WHERE walk.h < $MaxHops),
            dist AS (SELECT node, min(h) AS hops FROM walk GROUP BY node)
            SELECT CAST(hops AS BIGINT) AS hops, count(*) AS n_users
            FROM dist GROUP BY 1 ORDER BY 1"""))

  /** 3-core decomposition — iteratively peel every vertex of degree
    * < k until the subgraph stabilizes; what survives is the k-core,
    * the standard dense-community filter (spam rings, bot clusters,
    * topic cores) that a degree threshold alone cannot find because
    * peeling CASCADES: removing a weak vertex can drop its neighbors
    * below k.
    *
    * Engine = one [[Fixpoint]] round per peeling step, each two bounded
    * shuffles (degree agg + two degree joins). Converges in
    * O(peeling depth) rounds — typically a handful; throws past
    * [[MaxPeelRounds]] so it can never silently diverge from the
    * oracle, which unrolls EXACTLY MaxPeelRounds peeling rounds as
    * CTEs (post-fixpoint rounds are no-ops, so the two agree iff the
    * engine converged within the bound — which the throw proves).
    * Output: every 3-core vertex with its within-core degree.
    */
  val q165KCore: Q = Q(
    "q165_kcore",
    (s, dir) => {
      val k = 3L
      val init = cooccurrenceEdges(s, dir)
        .select(col("u"), col("v"), lit(false).as("changed"))
      val core = Fixpoint.iterate(init, MaxPeelRounds, "k-core peeling") {
        (state, _) =>
          // an edge peeled last round (`changed`) leaves before this one
          val cur = state.filter(!col("changed"))
          val deg = cur.select(col("u").as("node"))
            .unionAll(cur.select(col("v").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("d"))
          cur
            .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
            .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
            .select(col("u"), col("v"),
              (col("du") < k || col("dv") < k).as("changed"))
      }
      core.select(col("u").as("node"))
        .unionAll(core.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
        .orderBy(col("node"))
    },
    Some {
      // every CTE is MATERIALIZED: each round references its
      // predecessor three times, so DuckDB's default inline expansion
      // would re-evaluate the chain ~3^rounds times (observed as an fd
      // exhaustion on the parquet re-scans)
      val rounds = (1 to MaxPeelRounds).map { i =>
        s"""d${i - 1} AS MATERIALIZED (SELECT node, count(*) AS d FROM (
               SELECT u AS node FROM e${i - 1}
               UNION ALL SELECT v AS node FROM e${i - 1}) GROUP BY node),
            e$i AS MATERIALIZED (SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
               JOIN d${i - 1} da ON da.node = e${i - 1}.u AND da.d >= 3
               JOIN d${i - 1} db ON db.node = e${i - 1}.v AND db.d >= 3)"""
      }.mkString(",\n            ")
      s"""WITH $duckEdges,
            e0 AS MATERIALIZED (SELECT u, v FROM e),
            $rounds
            SELECT node, count(*) AS core_degree FROM (
              SELECT u AS node FROM e$MaxPeelRounds
              UNION ALL SELECT v AS node FROM e$MaxPeelRounds)
            GROUP BY node ORDER BY node"""
    })

  /** Time-respecting reachability — influence/contact propagation from
    * the minimum-id user: an edge (x, y) in time bucket h can only be
    * traversed AFTER x was reached (arrival(x) <= h) — the temporal
    * constraint plain BFS (q111) ignores, and the difference between
    * "connected to" and "could actually have been influenced by".
    * Label-correcting [[Fixpoint]] loop: per round, frontier (the nodes
    * the last round improved) x timed-edges (h >= arrival) propose
    * arrivals, keep strict improvements (min-arrival per node), stop at
    * fixpoint. Arrivals only decrease over a finite domain, so the
    * fixpoint exists; throws past [[MaxWaveRounds]] so the engine can
    * never silently diverge from the oracle's recursive CTE (whose
    * UNION-dedup over finite (node, h) pairs terminates
    * unconditionally). Output: number of users first reached in each
    * time bucket.
    */
  val q176TimeReach: Q = Q(
    "q176_time_reach",
    (s, dir) => {
      // directed closure of the LANDED timed edge table (u < v, h):
      // both orientations are traversable, and expanding the landed
      // relation is a scan + union — the pair join + distinct run once
      // per (JVM, fixture), not once per query execution
      val und = timedEdges(s, dir)
      val te = und.unionByName(
        und.select(col("v").as("u"), col("u").as("v"), col("h")))
      val root = te.agg(min(col("u")).as("node"))
        .select(col("node"), lit(-1L).as("arrival"),
          lit(true).as("changed"))
      Fixpoint.iterate(root, MaxWaveRounds, "time-reach") { (dist, _) =>
        // the frontier starts at one node and stays a small fraction of
        // the vertex set — BROADCAST it so the edge table is scanned in
        // place instead of being shuffled every round (a
        // label-correcting loop's edge relation is loop-invariant;
        // re-shuffling it per round was the dominant per-round cost). A
        // deployment whose frontier outgrows the broadcast threshold
        // would flip this hint off and let AQE pick the shuffled join —
        // same plan shape as BFS.
        val proposals = te.as("e")
          .join(broadcast(dist.filter(col("changed")).as("f")),
            col("f.node") === col("e.u") && col("e.h") >= col("f.arrival"))
          .groupBy(col("e.v").as("node"))
          .agg(min(col("e.h")).as("cand"))
        // a node improves when its best proposal beats its arrival (or
        // it had none); `least` skips the null of an unproposed node
        proposals.join(dist, Seq("node"), "full_outer")
          .select(col("node"),
            least(col("cand"), col("arrival")).as("arrival"),
            (col("cand").isNotNull && (col("arrival").isNull ||
              col("cand") < col("arrival"))).as("changed"))
      }.filter(col("arrival") >= 0)
        .groupBy(col("arrival"))
        .agg(count(lit(1)).as("n_reached"))
        .orderBy(col("arrival"))
    },
    Some(s"""WITH RECURSIVE bb AS (SELECT DISTINCT event_type,
                epoch_us(CAST(ts AS TIMESTAMP)) // 600000000 AS h, user_id
              FROM events),
            sz AS (SELECT *, count(*) OVER (PARTITION BY event_type, h)
                AS nu FROM bb),
            sm AS (SELECT event_type, h, user_id FROM sz
                   WHERE nu BETWEEN 2 AND $MaxBucket),
            te AS (SELECT DISTINCT a.user_id AS u, c.user_id AS v, a.h
                   FROM sm a JOIN sm c
                     ON a.event_type = c.event_type AND a.h = c.h
                   WHERE a.user_id != c.user_id),
            walk AS (
              SELECT (SELECT min(u) FROM te) AS node, CAST(-1 AS BIGINT) AS t
              UNION
              SELECT te.v AS node, te.h AS t
              FROM walk JOIN te ON te.u = walk.node AND te.h >= walk.t),
            arr AS (SELECT node, min(t) AS arrival FROM walk GROUP BY node)
            SELECT arrival, count(*) AS n_reached FROM arr
            WHERE arrival >= 0 GROUP BY arrival ORDER BY arrival"""))

  /** Edge triangle-support distribution — the k-truss criterion (an
    * edge belongs to the k-truss iff it closes >= k-2 triangles), the
    * cohesion measure BETWEEN q110's global triangle count and q165's
    * vertex k-core: cores bound degrees, trusses bound *edge* embedding
    * strength, and truss decomposition peels by exactly this support
    * number. Triangles are enumerated once by q110's degree-oriented
    * wedge join (out-degree O(sqrt(m)), so O(m^1.5) wedges — a hub
    * contributes none); each triangle is then credited to its THREE
    * canonical (min,max) edges and supports are counted per edge, with
    * zero-support edges kept through a left join against the full edge
    * list. Output: one row per support level with its edge count — the
    * exact histogram a truss-peeling scheduler consumes.
    *
    * ## 100 TB notes
    * The wedge join is q110's plan verbatim (broadcast while `oe` fits,
    * AQE-shuffled beyond); the triangle->edge explosion is a bounded x3
    * map BEFORE the support aggregation, which combines map-side on the
    * canonical edge key; the closing left join shuffles edges once.
    * Support values are bounded by the wedge cap, so the final
    * histogram is tiny.
    */
  val q184TrussSupport: Q = Q(
    "q184_truss_support",
    (s, dir) => {
      val e = cooccurrenceEdges(s, dir)
      // triangles come from the LANDED enumeration; this query's own
      // work starts at the corner-edge explosion
      val tri = triangleTable(s, dir)
      val triEdges = tri
        .select(least(col("a"), col("b")).as("p"),
          greatest(col("a"), col("b")).as("q"))
        .unionAll(tri.select(least(col("b"), col("c")).as("p"),
          greatest(col("b"), col("c")).as("q")))
        .unionAll(tri.select(least(col("a"), col("c")).as("p"),
          greatest(col("a"), col("c")).as("q")))
      val support = triEdges.groupBy(col("p"), col("q"))
        .agg(count(lit(1)).as("sup"))
      e.join(support, col("u") === col("p") && col("v") === col("q"),
          "left")
        .select(coalesce(col("sup"), lit(0L)).as("support"))
        .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
        .orderBy(col("support"))
    },
    Some(s"""WITH $duckEdges,
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
            tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                    FROM oe e1 JOIN oe e2 ON e1.t = e2.s
                    JOIN e ON e.u = least(e1.s, e2.t)
                          AND e.v = greatest(e1.s, e2.t)),
            te AS (SELECT least(a, b) AS p, greatest(a, b) AS q FROM tri
                   UNION ALL
                   SELECT least(b, c), greatest(b, c) FROM tri
                   UNION ALL
                   SELECT least(a, c), greatest(a, c) FROM tri),
            sup AS (SELECT p, q, count(*) AS sup FROM te GROUP BY p, q)
            SELECT coalesce(sup.sup, 0) AS support, count(*) AS n_edges
            FROM e LEFT JOIN sup ON sup.p = e.u AND sup.q = e.v
            GROUP BY 1 ORDER BY 1"""))

  /** One HITS iteration (Kleinberg hubs/authorities) on the bipartite
    * customer-part purchase graph — the OTHER classic link-analysis
    * kernel next to q89's PageRank step, and the natural one for
    * bipartite data where PageRank's single-mode walk doesn't apply.
    * From the uniform start the first iteration is exact integer
    * arithmetic: authority(part) = its distinct-buyer count, and
    * hub(customer) = the SUM of the authorities of the parts they
    * bought — a buyer of popular parts scores high. One relation,
    * top-10 of each kind (`kind` in {auth, hub}), deterministic
    * tiebreak by id; scores stay BIGINT so no normalization float ever
    * enters the comparison.
    *
    * ## 100 TB notes
    * The edge list is the lineitem-orders equi-join (bucketable on
    * orderkey) reduced to DISTINCT (customer, part) pairs — one shuffle;
    * the authority pass is a map-side-combined count on part; the hub
    * pass re-joins authorities back to edges on part (AQE picks
    * broadcast while the part dimension fits) and aggregates on
    * customer. Top-10s are TakeOrderedAndProject — no global sort.
    */
  val q190HitsStep: Q = Q(
    "q190_hits_step",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = Tables.eager(li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
        .distinct())
      val auth = edges.groupBy(col("p"))
        .agg(count(lit(1)).as("score"))
      val hub = edges.join(auth, Seq("p"))
        .groupBy(col("u")).agg(sum(col("score")).as("score"))
      val topAuth = auth
        .select(lit("auth").as("kind"), col("p").as("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc).limit(10)
      val topHub = hub
        .select(lit("hub").as("kind"), col("u").as("id"), col("score"))
        .orderBy(col("score").desc, col("id").asc).limit(10)
      topAuth.unionByName(topHub)
        .orderBy(col("kind"), col("score").desc, col("id").asc)
    },
    Some("""WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS p
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            a AS (SELECT p, count(*) AS score FROM e GROUP BY p),
            h AS (SELECT u, CAST(sum(a.score) AS BIGINT) AS score
              FROM e JOIN a ON e.p = a.p GROUP BY u),
            ta AS (SELECT 'auth' AS kind, p AS id, score FROM a
                   ORDER BY score DESC, id ASC LIMIT 10),
            th AS (SELECT 'hub' AS kind, u AS id, score FROM h
                   ORDER BY score DESC, id ASC LIMIT 10)
            SELECT kind, id, score
            FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
            ORDER BY kind, score DESC, id ASC"""))

  /** Degree assortativity — do high-degree users co-occur with other
    * high-degree users (r > 0, social-network-like) or with low-degree
    * ones (r < 0, hub-and-spoke)? Newman's coefficient is the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge list,
    * and symmetrization makes both marginals identical, so the usual
    * sqrt(Var_x)*sqrt(Var_y) denominator collapses to one exact
    * integer: r = (2m*S_xy - S_x^2) / (2m*S_xx - S_x^2) with
    * S_x = sum(du+dv), S_xx = sum(du^2+dv^2), S_xy = sum(2*du*dv) over
    * undirected edges — every term an exact BIGINT (q41/q114's
    * exact-moment discipline), ONE final IEEE division, no sqrt at all.
    *
    * ## 100 TB notes
    * Degrees are one map-side-combined count; attaching them to edges
    * is two joins on the vertex key (AQE-broadcast while the degree
    * table fits); the moment rollup is a 1-row aggregate with map-side
    * partials. Nothing scales worse than the edge list itself.
    */
  val q194Assortativity: Q = Q(
    "q194_assortativity",
    (s, dir) => {
      val e = cooccurrenceEdges(s, dir)
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val withDeg = e
        .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      withDeg.agg(count(lit(1)).as("m"),
          sum(col("du") + col("dv")).as("sx"),
          sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
          sum(col("du") * col("dv") * 2).as("sxy"))
        .select(col("m"), col("sx"), col("sxx"), col("sxy"),
          ((col("m") * 2 * col("sxy") - col("sx") * col("sx"))
            .cast("double") /
            (col("m") * 2 * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("r"))
    },
    Some(s"""WITH $duckEdges,
            deg AS (SELECT node, count(*) AS d
                    FROM (SELECT u AS node FROM e
                          UNION ALL SELECT v AS node FROM e)
                    GROUP BY node),
            wd AS (SELECT da.d AS du, db.d AS dv
                   FROM e JOIN deg da ON da.node = e.u
                          JOIN deg db ON db.node = e.v),
            agg AS (SELECT count(*) AS m,
                CAST(sum(du + dv) AS BIGINT) AS sx,
                CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx,
                CAST(sum(du * dv * 2) AS BIGINT) AS sxy
              FROM wd)
            SELECT m, sx, sxx, sxy,
              CAST(m * 2 * sxy - sx * sx AS DOUBLE)
                / CAST(m * 2 * sxx - sx * sx AS DOUBLE) AS r
            FROM agg"""))

  /** Per-vertex local clustering coefficient — the LOCAL counterpart of
    * q110's single global coefficient: for each vertex with degree >= 2,
    * how many of its d*(d-1)/2 possible neighbor pairs are actually
    * edges? The distribution separates graphs q110's global number
    * cannot: a graph of cliques and a star-heavy graph can share a
    * global coefficient while their local distributions are disjoint —
    * and the local value is the standard per-account feature for
    * spam/bot scoring (bots have star neighborhoods, lcc ~ 0; organic
    * communities have dense ones, lcc -> 1).
    *
    * Triangles are enumerated ONCE by q110's degree-oriented wedge join
    * (O(m^1.5), hub-proof) and credited to all THREE corners; vertices
    * closing no triangle survive via a left join against the degree
    * table. tri_v and wedges_v are exact BIGINTs; lcc is ONE double
    * division (bit-identical across engines per the Catalog contract).
    *
    * ## 100 TB notes
    * The wedge join is q110's plan verbatim; the corner explosion is a
    * bounded x3 map before a map-side-combined count on vertex id; the
    * closing left join shuffles the degree table once. Output is one
    * row per degree->=2 vertex — linear in |V|, never in wedges.
    */
  val q206LocalClustering: Q = Q(
    "q206_local_clustering",
    (s, dir) => {
      val deg = graphDegrees(s, dir)
      // triangles come from the LANDED enumeration; this query's own
      // work is the corner count + the degree left join
      val tri = triangleTable(s, dir)
      val corners = tri.select(col("a").as("node"))
        .unionAll(tri.select(col("b").as("node")))
        .unionAll(tri.select(col("c").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("tri_v"))
      deg.filter(col("d") >= 2)
        .join(corners, Seq("node"), "left")
        .select(col("node"), col("d"),
          coalesce(col("tri_v"), lit(0L)).as("tri_v"),
          expr("d * (d - 1) div 2").as("wedges_v"))
        .withColumn("lcc", col("tri_v").cast("double") /
          col("wedges_v").cast("double"))
        .orderBy(col("node"))
    },
    Some(s"""WITH $duckEdges,
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
            tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
                    FROM oe e1 JOIN oe e2 ON e1.t = e2.s
                    JOIN e ON e.u = least(e1.s, e2.t)
                          AND e.v = greatest(e1.s, e2.t)),
            corners AS (SELECT node, count(*) AS tri_v FROM (
                          SELECT a AS node FROM tri
                          UNION ALL SELECT b FROM tri
                          UNION ALL SELECT c FROM tri)
                        GROUP BY node)
            SELECT deg.node, deg.d, coalesce(corners.tri_v, 0) AS tri_v,
              deg.d * (deg.d - 1) // 2 AS wedges_v,
              CAST(coalesce(corners.tri_v, 0) AS DOUBLE)
                / CAST(deg.d * (deg.d - 1) // 2 AS DOUBLE) AS lcc
            FROM deg LEFT JOIN corners ON corners.node = deg.node
            WHERE deg.d >= 2 ORDER BY deg.node"""))

  /** Link prediction by capped common-neighbor Jaccard — the classic
    * who-should-know-whom baseline: score NON-edge pairs that share a
    * neighbor by cn / (du + dv - cn) and take the top-20. The wedge
    * join is bounded by a DETERMINISTIC per-middle neighborhood cap:
    * each middle vertex generates pairs only among its [[LinkCap]]
    * lowest-id neighbors (row_number, a total order — same sample on
    * every engine and run). An uncapped common-neighbor join emits
    * deg^2 pairs per hub — the blow-up that kills CN joins on dense
    * graphs (this one has NO low-degree vertices to route through:
    * min degree 15 at sf0.01, 133 at sf0.1, so a degree-threshold
    * middle filter selects nothing, and q110's orientation trick is
    * wrong HERE because it can only find pairs whose common neighbor
    * ranks below both endpoints — open wedges through high middles,
    * the typical shape in a clique-union graph, would vanish). The
    * score is therefore the CAPPED common-neighbor count, stated as
    * such. Existing edges are anti-joined away; ranking ties break by
    * (u, v), so top-20 is total-ordered.
    *
    * ## 100 TB notes
    * The capped adjacency is one row_number window over the adjacency
    * shuffle; the wedge join is keyed on the middle with <= cap^2
    * pairs each — total candidates <= |V| * cap^2 / 2, LINEAR in
    * vertices regardless of skew; cn counting is map-side combined on
    * the pair key; the anti-join and two degree attaches shuffle
    * pair-scale rows; top-20 is TakeOrderedAndProject.
    */
  val q231LinkPrediction: Q = Q(
    "q231_link_prediction",
    (s, dir) => {
      val e = cooccurrenceEdges(s, dir)
      val adj = e.select(col("u").as("m"), col("v").as("x"))
        .unionAll(e.select(col("v").as("m"), col("u").as("x")))
      val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("d"))
      val capped = adj
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("m")).orderBy(col("x").asc)))
        .filter(col("rn") <= LinkCap)
        .select(col("m"), col("x"))
      val cn = capped.as("a")
        .join(capped.as("b"),
          col("a.m") === col("b.m") && col("a.x") < col("b.x"))
        .groupBy(col("a.x").as("u"), col("b.x").as("v"))
        .agg(count(lit(1)).as("cn"))
      val nonEdge = cn.join(e, Seq("u", "v"), "left_anti")
      val du = deg.select(col("m").as("u"), col("d").as("du"))
      val dv = deg.select(col("m").as("v"), col("d").as("dv"))
      nonEdge.join(du, Seq("u")).join(dv, Seq("v"))
        .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
          (col("cn").cast("double") /
            (col("du") + col("dv") - col("cn")).cast("double"))
            .as("score"))
        .orderBy(col("score").desc, col("u").asc, col("v").asc)
        .limit(20)
    },
    Some(s"""WITH $duckEdges,
            adj AS (SELECT u AS m, v AS x FROM e
                    UNION ALL SELECT v AS m, u AS x FROM e),
            deg AS (SELECT m, count(*) AS d FROM adj GROUP BY m),
            capped AS (SELECT m, x FROM (
                SELECT m, x, row_number() OVER (PARTITION BY m
                  ORDER BY x ASC) AS rn FROM adj)
              WHERE rn <= $LinkCap),
            cn AS (SELECT a.x AS u, b.x AS v, count(*) AS cn
                   FROM capped a JOIN capped b
                     ON a.m = b.m AND a.x < b.x
                   GROUP BY a.x, b.x),
            ne AS (SELECT cn.* FROM cn LEFT JOIN e
                     ON cn.u = e.u AND cn.v = e.v
                   WHERE e.u IS NULL)
            SELECT ne.u, ne.v, ne.cn, da.d AS du, db.d AS dv,
              CAST(ne.cn AS DOUBLE) / CAST(da.d + db.d - ne.cn AS DOUBLE)
                AS score
            FROM ne JOIN deg da ON da.m = ne.u JOIN deg db ON db.m = ne.v
            ORDER BY score DESC, ne.u ASC, ne.v ASC LIMIT 20"""))

  val all: Seq[Q] = Seq(q110Triangles, q111BfsHops, q165KCore, q176TimeReach,
    q184TrussSupport, q190HitsStep, q194Assortativity, q206LocalClustering,
    q231LinkPrediction)
}
