package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shuffle-avoidance contract of bucketed layout: a join or
  * aggregation on the bucket key must read co-located buckets and
  * produce an EXCHANGE-FREE physical plan (and, with within-bucket
  * sorting, a sort-free sort-merge join). This is the storage-side plan
  * shape every fact-fact join would use at 100 TB; the spec pins it so
  * a config or layout regression cannot silently reintroduce the
  * shuffle.
  */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def shuffles(df: DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size
  }

  private def sorts(df: DataFrame): Int = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: SortExec => s }.size
  }

  private def withSmjOnly[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Tables are EXTERNAL, one location each under a temp root removed
    * at JVM exit, so nothing lands under the session warehouse dir and
    * no prior run's location can linger there.
    */
  private lazy val root = TempDirs.createCleanedAtExit("graft_bucketing_")

  private def write(df: DataFrame, table: String, buckets: Int): Unit =
    Bucketing.writeBucketed(df, table, "k", buckets,
      root.resolve(table).toString)

  private val facts = (1L to 2000L).map(i => (i, i % 97, i * 2.0))
    .toDF("k", "grp", "v")
  private val dims = (1L to 500L).map(i => (i, s"name$i")).toDF("k", "nm")

  test("bucketed-bucketed equi-join: zero shuffles, zero sorts") {
    write(facts, "b_facts", 8)
    write(dims, "b_dims", 8)
    withSmjOnly {
      val j = Bucketing.readBucketed(spark, "b_facts")
        .join(Bucketing.readBucketed(spark, "b_dims"), "k")
      shuffles(j) shouldBe 0
      // Since SPARK-28632 a bucketed scan no longer ADVERTISES its
      // within-bucket order (sorted reads of multi-file buckets were
      // wrong), so the SMJ re-sorts each bucket in memory by default —
      // cheap and exchange-free, but skippable: with the legacy flag
      // (valid here because writeBucketed guarantees one file per
      // bucket) the same join is sort-free end to end.
      sorts(j) shouldBe 2
      val flag = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      spark.conf.set(flag, "true")
      try {
        val js = Bucketing.readBucketed(spark, "b_facts")
          .join(Bucketing.readBucketed(spark, "b_dims"), "k")
        shuffles(js) shouldBe 0
        sorts(js) shouldBe 0
      } finally spark.conf.set(flag, "false")
      j.count() shouldBe 500L
      // identical result to the shuffled plain-parquet join
      val plain = facts.join(dims, "k")
      j.select("k", "grp", "v", "nm").orderBy("k").collect() shouldBe
        plain.select("k", "grp", "v", "nm").orderBy("k").collect()
    }
  }

  test("mismatched bucket counts still join correctly (one side exchanges)") {
    write(facts, "b_facts8", 8)
    write(dims, "b_dims4", 4)
    withSmjOnly {
      val j = Bucketing.readBucketed(spark, "b_facts8")
        .join(Bucketing.readBucketed(spark, "b_dims4"), "k")
      j.count() shouldBe 500L
      // compatible-count path (4 divides 8) or a single-side exchange —
      // never the two-sided reshuffle of unbucketed inputs
      assert(shuffles(j) <= 1)
    }
  }

  test("aggregation on the bucket key: zero shuffles") {
    write(facts, "b_facts_agg", 8)
    val a = Bucketing.readBucketed(spark, "b_facts_agg")
      .groupBy("k").agg(sum("v").as("sv"))
    shuffles(a) shouldBe 0
    a.count() shouldBe 2000L
  }

  test("aggregation on a non-bucket key still shuffles (sanity)") {
    write(facts, "b_facts_grp", 8)
    val a = Bucketing.readBucketed(spark, "b_facts_grp")
      .groupBy("grp").agg(sum("v").as("sv"))
    assert(shuffles(a) >= 1)
  }
}
