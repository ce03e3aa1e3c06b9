package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

import graft.SparkSpec
import graft.engine.MaterializationAudit

/** Physical-plan shape of the continuation operators — the 100 TB
  * claims in their Scaladoc ("no joins", "one shuffle family",
  * "dimension joins broadcast"), pinned against the EXECUTED adaptive
  * plan at sf0.001 so a regression (a flipped join strategy, a lost
  * exchange reuse) fails a test instead of silently shipping. Bounds
  * are stated as upper limits where AQE has latitude; the join-free
  * claims are exact.
  */
class NewOpsPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeLike => e }.size

  private def joins(p: SparkPlan): Seq[BaseJoinExec] =
    collect(p) { case j: BaseJoinExec => j }

  test("q224 gini: join-free, window and rollup share the priority exchange") {
    val p = executed(RelationalQueries.q224GiniMeanDiff.fn(spark, dir))
    joins(p) shouldBe empty
    shuffles(p) should be <= 2
  }

  test("q114 corr matrix: the moment row has one consumer, so nothing " +
      "is persisted and lineitem is scanned once") {
    MaterializationAudit.enable()
    val (p, sites) =
      try {
        val p = executed(RelationalQueries.q114CorrMatrix.fn(spark, dir))
        (p, MaterializationAudit.drain().map(_.site))
      } finally MaterializationAudit.disable()
    sites should not contain "eager"
    collect(p) { case f: FileSourceScanExec => f }
      .count(_.relation.location.rootPaths
        .exists(_.getName == "lineitem.parquet")) shouldBe 1
  }

  test("q229 seasonal decomposition: join-free") {
    val p = executed(RelationalQueries.q229SeasonalDecomp.fn(spark, dir))
    joins(p) shouldBe empty
    shuffles(p) should be <= 3
  }

  test("q233 transition dwell: join-free, bounded exchanges") {
    val p = executed(EventQueries.q233TransitionDwell.fn(spark, dir))
    joins(p) shouldBe empty
    // user window + rollup + the output sort's range exchange
    shuffles(p) should be <= 3
  }

  test("q215 trigram paths: join-free") {
    val p = executed(EventQueries.q215TrigramPaths.fn(spark, dir))
    joins(p) shouldBe empty
  }

  test("q217 HHI: every join is a broadcast join at dimension scale") {
    val p = executed(RelationalQueries.q217SupplierHhi.fn(spark, dir))
    val js = joins(p)
    js should not be empty
    js.foreach { j =>
      assert(j.isInstanceOf[BroadcastHashJoinExec],
        s"expected broadcast, got ${j.getClass.getSimpleName}")
    }
  }

  test("q220 proximity search: the 2-row term table broadcasts into the scan") {
    val p = executed(CorpusQueries.q220ProximitySearch.fn(spark, dir))
    val bcast = joins(p).count {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    bcast should be >= 1
  }

  // Cumulative.rankedCumSum converts the dimension-sized ranked
  // cumulative walk (q155 Pareto, q214 ABC) from a single-partition
  // global window into a range-partitioned two-phase prefix sum: every
  // WindowExec left in the plan must carry a partitionSpec (here the
  // internal per-range __pid), i.e. no "No Partition Defined" window
  // survives anywhere — including over the subtotal/offset tables.
  private def noGlobalWindow(p: SparkPlan): Unit = {
    val global = collect(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      s"found ${global.size} single-partition WindowExec node(s)")
  }

  test("q155 pareto: ranked cumulative walk has no single-partition window") {
    noGlobalWindow(executed(EventQueries.q155ParetoCoverage.fn(spark, dir)))
  }

  test("q214 abc: ranked cumulative walk has no single-partition window") {
    noGlobalWindow(executed(RelationalQueries.q214AbcClasses.fn(spark, dir)))
  }

  test("q295 bucketed join: the SMJ reads co-located buckets — only " +
      "the post-join group-by/order-by exchanges remain") {
    val p = executed(RelationalQueries.q295BucketedJoin.fn(spark, dir))
    // the merge hint keeps the join on the sort-merge path the
    // bucketed layout serves (a broadcast would bypass the layout at
    // this SF and hide a co-location regression)
    joins(p).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]) shouldBe true
    // join-side exchanges MUST be absent: 1 shuffle for the segment
    // group-by + 1 range exchange for the output order. A bucketing
    // regression (mismatched counts, lost bucket spec on read-back)
    // re-shuffles one or both scan sides and pushes this past 2.
    shuffles(p) should be <= 2
  }
}
