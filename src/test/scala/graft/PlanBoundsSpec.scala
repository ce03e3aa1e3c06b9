package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** Unit verdicts for [[PlanBounds]] — the review-judgement encoder
  * behind the cross-join policy. Positives pin each rule family the
  * catalog relies on; the NEGATIVES matter more: if a lax edit ever
  * blesses a per-key grouped attach or a raw fact-table broadcast, the
  * policy gate silently stops guarding, so those verdicts are pinned
  * here at unit level.
  */
class PlanBoundsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def verdict(df: DataFrame): Boolean =
    PlanBounds.bounded(df.queryExecution.executedPlan)

  test("bounded: grouping-free aggregate over a fact table") {
    verdict(docs.agg(count(lit(1)).as("n"))) shouldBe true
  }

  test("bounded: grouping by pmod(hash, literal K)") {
    verdict(docs.groupBy(pmod(xxhash64(col("text")), lit(16)).as("b"))
      .agg(count(lit(1)).as("n"))) shouldBe true
  }

  test("NOT bounded: grouping by a per-row key (the per-doc attach)") {
    verdict(docs.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))) shouldBe
      false
  }

  test("NOT bounded: a raw scaling-table scan") {
    verdict(docs.select(col("doc_id"), col("text"))) shouldBe false
  }

  test("bounded: fixed dims, literal range, literal locals") {
    import spark.implicits._
    verdict(spark.read.parquet(s"$sfDir/nation.parquet")) shouldBe true
    verdict(spark.range(10).toDF("k")) shouldBe true
    verdict(Seq((1, "a")).toDF("k", "s")) shouldBe true
  }

  test("bounded: unique-id literal range filter; NOT for non-key columns") {
    verdict(emb.filter(col("vec_id") < 3)) shouldBe true
    // renamed unique key still resolves through the Project
    verdict(emb.select(col("vec_id").as("q_id"), col("embedding"))
      .filter(col("q_id") < 3)) shouldBe true
    // a non-unique column bounds nothing: half the table can pass
    verdict(docs.filter(functions.length(col("text")) < 100)) shouldBe false
    // the comparison must be a top-level CONJUNCT: under Or/Not it keeps
    // most of the table — blessing it would stop the gate from guarding
    verdict(docs.filter(col("doc_id") < 3 ||
      functions.length(col("text")) > 5)) shouldBe false
    verdict(docs.filter(!(col("doc_id") < 3))) shouldBe false
    // but a conjunct alongside other predicates still bounds
    verdict(emb.filter(col("vec_id") < 3 &&
      functions.size(col("embedding")) > 0)) shouldBe true
  }

  test("unique-key casts: numeric up-cast bounds, string cast does NOT") {
    // an order-preserving injective widening keeps `id < k` selecting at
    // most k rows, so it may be looked through...
    verdict(emb.filter(col("vec_id").cast("bigint") < 3)) shouldBe true
    // ...but CAST(id AS STRING) < '3' compares LEXICOGRAPHICALLY — it
    // selects every id whose decimal rendering sorts below "3" ("1",
    // "10", "1999", "299999", ...), an unbounded fraction of the table
    // (the r17 ADVICE lax-cast hole)
    verdict(emb.filter(col("vec_id").cast("string") < "3")) shouldBe false
    // a narrowing numeric cast is not injective (many ids collapse to
    // one value), so it must not be looked through either
    verdict(emb.filter(col("vec_id").cast("tinyint") < 3)) shouldBe false
  }

  test("fixed-dim scan: exact table name only, not a suffix lookalike") {
    // a table whose NAME merely ends with a dim name scales with the
    // data; the old endsWith-on-the-full-path rule blessed it (r17
    // ADVICE). region.parquet itself stays bounded (pinned above via
    // nation); the lookalike must not.
    val dir = java.nio.file.Files.createTempDirectory("graft_fakedim_")
    try {
      val fake = s"$dir/fakeregion.parquet"
      docs.limit(50).write.parquet(fake)
      verdict(spark.read.parquet(fake)) shouldBe false
    } finally engine.Fs.deleteRecursivelyQuietly(dir)
  }

  test("union: bounded only when EVERY branch is (an unbounded side " +
      "cannot hide behind a bounded one)") {
    // the r17 ask-#6 negative: a cross-join attach whose "bounded" side
    // is really union(dim, fact) scales with the fact table — the
    // all-children rule must refuse it regardless of branch order
    val dims = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").as("k"))
    val facts = docs.select(col("doc_id").as("k"))
    verdict(dims.union(facts)) shouldBe false
    verdict(facts.union(dims)) shouldBe false
    verdict(dims.union(dims)) shouldBe true
  }

  test("join: bounded only when BOTH sides are (|A JOIN B| <= |A|x|B| " +
      "is code-bounded only if each factor is)") {
    // same shape as the union negative, one level up: an attach whose
    // "bounded" side is really dim-join-fact scales with the fact table
    // whichever side the fact sits on — the all-children rule must
    // refuse both orders and keep blessing the pure dim-dim join
    val nations = spark.read.parquet(s"$sfDir/nation.parquet")
    val regions = spark.read.parquet(s"$sfDir/region.parquet")
    val byNation = docs.select((col("doc_id") % 25).as("n_nationkey"))
    verdict(nations.join(byNation, "n_nationkey")) shouldBe false
    verdict(byNation.join(nations, "n_nationkey")) shouldBe false
    verdict(nations.join(regions,
      col("n_regionkey") === col("r_regionkey"))) shouldBe true
  }

  test("aggregate: unbounded group keys over an unbounded child are " +
      "refused even when a bounded dim hides inside the child") {
    // the r18-verdict "next class up" from the dim-join-fact pin: an
    // attach of agg(dim JOIN fact) GROUP BY per-row-key scales with the
    // fact table — neither arm of the aggregate rule may bless it (the
    // keys scale per row AND the child is unbounded); the dim buried in
    // the join must not leak boundedness through the aggregate
    val nations = spark.read.parquet(s"$sfDir/nation.parquet")
    val byNation = docs.select(col("doc_id"),
      (col("doc_id") % 25).as("n_nationkey"))
    val joined = nations.join(byNation, "n_nationkey")
    verdict(joined.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))) shouldBe false
    // mixed keys: group count is the DOMAIN PRODUCT, so one bounded
    // key must not bless the pair (forall, not exists — no other test
    // groups by more than one key, so this is the only verdict that
    // distinguishes them)
    verdict(joined.groupBy(col("doc_id"), (col("doc_id") % 25).as("b"))
      .agg(count(lit(1)).as("n"))) shouldBe false
    // the rule's two sound escapes stay blessed, pinning each || arm:
    // a bounded key DOMAIN over the same unbounded child (<= 25 groups
    // whatever the fact size) ...
    verdict(joined.groupBy((col("doc_id") % 25).as("b"))
      .agg(count(lit(1)).as("n"))) shouldBe true
    // ... and unbounded keys over a genuinely bounded child (output
    // rows <= child rows; n_name is no enum but nation is a fixed dim)
    verdict(nations.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"))) shouldBe true
  }

  test("NOT bounded: disjunction of conjuncts with an unbounded branch") {
    // (id < 3 AND p) OR (len > 100): the second branch keeps an
    // unbounded fraction of the table, so the filter as a whole must
    // not be blessed even though a bounded unique-key conjunct appears
    // inside the first branch
    verdict(docs.filter(
      (col("doc_id") < 3 && functions.length(col("text")) > 5) ||
        functions.length(col("text")) > 100)) shouldBe false
  }

  test("bounded: enum fixture columns (label), not per-key ones") {
    verdict(emb.groupBy(col("label")).agg(count(lit(1)).as("n"))) shouldBe
      true
  }

  test("bounded: stack label column; NOT its value column") {
    val stacked = docs.selectExpr(
      "stack(2, 'a', CAST(length(text) AS BIGINT), 'b', doc_id) " +
        "AS (metric, v)")
    verdict(stacked.groupBy(col("metric")).agg(count(lit(1)).as("n"))) shouldBe
      true
    verdict(stacked.groupBy(col("v")).agg(count(lit(1)).as("n"))) shouldBe
      false
  }

  test("NOT bounded: non-deterministic grouping") {
    verdict(docs.groupBy((rand() * 4).cast("int").as("r"))
      .agg(count(lit(1)).as("n"))) shouldBe false
  }

  test("bounded: partition-id grouping THROUGH an eager'd cache") {
    // the rankedCumSum offset-table shape: __pid := SPARK_PARTITION_ID()
    // is defined inside the cached relation; resolution must bridge the
    // InMemoryRelation's re-numbered exprIds into the cached plan
    val cached = engine.Tables.eager(
      docs.select(col("doc_id"), spark_partition_id().as("__pid")))
    try
      verdict(cached.groupBy(col("__pid"))
        .agg(count(lit(1)).as("n"))) shouldBe true
    finally cached.unpersist(blocking = true)
  }

  test("NOT bounded: per-key grouping through an eager'd cache") {
    val cached = engine.Tables.eager(
      docs.select(col("doc_id"), functions.length(col("text")).as("len")))
    try
      verdict(cached.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"))) shouldBe false
    finally cached.unpersist(blocking = true)
  }

  // ---- round-20: the collapsed-window gate's building blocks ----

  private def constantKeys(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.window.WindowExec
    val plans = PlanAudit.flatten(df.queryExecution.executedPlan)
    val windows = plans.collect { case w: WindowExec => w }
    windows.nonEmpty && windows.forall(w =>
      PlanBounds.allConstantDomains(w.partitionSpec, w))
  }

  test("constant-domain window keys: enum yes, partition-id NO (it " +
      "scales with the cluster), per-row key no") {
    import org.apache.spark.sql.expressions.Window
    // enum key over a fact table: the collapse the round-20 gate exists
    // to catch — |enum| single-task partitions at any data size
    constantKeys(docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("doc_id"))))) shouldBe true
    // SPARK_PARTITION_ID is bounded for BROADCAST purposes but SCALING
    // for window purposes (rankedCumSum's per-partition pass) — the one
    // key deliberately treated differently by the two rule sets
    constantKeys(docs.repartition(8)
      .withColumn("__pid", spark_partition_id())
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(col("doc_id"))))) shouldBe
      false
    // a per-row key scales out — not constant
    constantKeys(docs.withColumn("rn",
      row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("n_chars"))))) shouldBe false
    // ... and the same enum key over a BOUNDED child is what the gate's
    // second conjunct (bounded(w.child)) blesses — pinned via bounded()
    verdict(docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))) shouldBe true
  }

  test("bounded: documents.lang is a generator enum (round-20 addition)") {
    verdict(docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))) shouldBe
      true
  }

  test("window alias bridge: lead(enum) keeps the enum domain; an " +
      "accumulating window function does NOT (the sum-domain trap)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("n_chars"))
    // q122's shape: dst = lead(event_type) — grouping the window output
    // with the source enum is |enum|^2, provably bounded ONLY if the
    // window alias resolves through to its domain-preserving input
    verdict(docs
      .withColumn("nxt", lead(col("source"), 1).over(w))
      .groupBy(col("source"), col("nxt"))
      .agg(count(lit(1)).as("n"))) shouldBe true
    // last() over the same frame is equally domain-preserving
    verdict(docs
      .withColumn("lst", last(col("lang"), ignoreNulls = true).over(w))
      .groupBy(col("lst")).agg(count(lit(1)).as("n"))) shouldBe true
    // sum over a bounded-domain input ACCUMULATES — its domain is NOT
    // the input's; mapping it through would bless unbounded grouping
    verdict(docs
      .withColumn("s", sum(functions.length(col("lang")).cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("s")).agg(count(lit(1)).as("n"))) shouldBe false
    // row_number likewise: rank domains grow with partition size
    verdict(docs
      .withColumn("rn", row_number().over(w))
      .groupBy(col("rn")).agg(count(lit(1)).as("n"))) shouldBe false
  }
}
