package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AQE skew-join splitting, exercised on the one join shape where the
  * suite actually leans on it at 100× scale: the shingle join-back of
  * q63 (boilerplate detection) and q156 (corpus novelty) — exploded
  * (doc, shingle) rows equi-joined back to a per-shingle stats table.
  * A boilerplate shingle that appears in most documents makes one hash
  * partition of the probe side arbitrarily hot; the plan-level answer
  * is `OptimizeSkewedJoin` splitting that partition into advisory-sized
  * slices (each joined against a replicated copy of the matching build
  * rows), which changes NO row of the result.
  *
  * Two pins, mirroring `AdaptiveSpec`'s structure:
  *  1. the split FIRES: the final adaptive plan's SortMergeJoin carries
  *     `isSkewJoin = true` (asserted on the physical node, not a string
  *     match) once the hot partition crosses the (test-lowered) skew
  *     thresholds;
  *  2. the result is hash-stable: the same join with
  *     `skewJoin.enabled=false` in a like-for-like AQE plan aggregates
  *     to identical rows — the split is pure plan surgery.
  *
  * Thresholds are lowered because skew is RELATIVE in AQE: production
  * defaults (256 MiB / 5× median) are meant for real shuffles, and a
  * unit-test shuffle of a few MiB would never qualify. Lowering the
  * byte floors preserves the decision structure (factor × median AND
  * absolute floor) while letting a 600k-row fixture trip it.
  */
class AdaptiveSkewSpec extends SparkSpec {

  import org.apache.spark.sql.SparkSession

  private def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** q63/q156's join-back shape with a planted hot key: ~600k exploded
    * (doc, shingle) rows where one boilerplate shingle covers ~2/3 of
    * them, joined to the df-per-shingle table derived from the same
    * rows. Rebuilt per call so each configuration gets its own
    * QueryExecution.
    */
  private def shingleJoinBack(s: SparkSession): DataFrame = {
    // 400k docs × ~1.5 shingles: every doc carries the boilerplate
    // shingle; half also carry one of 997 body shingles. The hot key
    // hashes into exactly one shuffle partition on the probe side.
    val exploded = s.range(0, 400000, 1, 8).toDF("doc_id")
      .select(col("doc_id"), explode(when(col("doc_id") % 2 === 0,
        array(lit("HOT_BOILERPLATE_SHINGLE"),
          concat(lit("body_"), col("doc_id") % 997)))
        .otherwise(array(lit("HOT_BOILERPLATE_SHINGLE"))))
        .as("shingle"))
    // The df-per-shingle stats table is materialized to parquet and read
    // back — as q63 would at 100 TB (corpus df is its own job, reused
    // across decision passes). This also matters to the plan under test:
    // OptimizeSkewedJoin pattern-matches a join whose BOTH inputs are
    // plain ENSURE_REQUIREMENTS shuffle reads; an agg-derived stats
    // frame arrives already hash-partitioned by shingle, leaves no
    // right-side ShuffleQueryStage to replicate, and the rule can never
    // fire on that shape (pattern-match miss, not a threshold miss).
    // read lazily by the returned frame, so removed at JVM exit
    val statsDir = TempDirs.createCleanedAtExit("graft-skewstats")
    val statsPath = s"$statsDir/stats.parquet"
    exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(statsPath)
    val stats = s.read.parquet(statsPath)
    // the q63 decision join: per exploded row, the shingle's corpus df
    exploded.join(stats, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("df_mass"),
        max(col("df")).as("max_df"))
  }

  /** Configs shared by both runs so the ONLY delta is skewJoin on/off:
    * broadcast disabled (the build side is small enough to broadcast,
    * which would dissolve the SMJ under test), coalescing off (it can
    * re-merge the split slices on a tiny fixture), thresholds lowered
    * per the class doc.
    */
  private val common = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
      -> "262144",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072")

  test("OptimizeSkewedJoin splits the hot-shingle partition in the " +
    "final adaptive plan") {
    withConf(common :+
      ("spark.sql.adaptive.skewJoin.enabled" -> "true"): _*) {
      val df = shingleJoinBack(spark)
      df.collect() // AQE plans are final only after an action
      // Spark 4 freely picks ShuffledHashJoin over SortMergeJoin when
      // one side is small and broadcast is disabled; OptimizeSkewedJoin
      // splits BOTH shapes and both carry isSkewJoin, so the pin must
      // accept either — the invariant under test is the split, not the
      // shuffle-join flavor. Traversal must also CROSS query-stage
      // boundaries: Spark 4's QueryStageExec (incl. the new
      // ResultQueryStageExec wrapping the whole final plan) is a
      // LeafExecNode, so a plain `collect` from the adaptive root sees
      // no join node at all.
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        p.collect { case n => n }.flatMap {
          case q: QueryStageExec => q +: flatten(q.plan)
          case n => Seq(n)
        }
      val skewFlags = {
        val finalPlan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        flatten(finalPlan).collect {
          case s: SortMergeJoinExec => s.isSkewJoin
          case s: ShuffledHashJoinExec => s.isSkewJoin
        }
      }
      skewFlags should not be empty
      withClue("no shuffle join in the final plan had isSkewJoin=true " +
        "— the skew split did not fire:\n" +
        df.queryExecution.executedPlan.toString) {
        skewFlags.exists(identity) shouldBe true
      }
    }
  }

  test("the skew split is hash-stable: identical rows with " +
    "skewJoin on vs off") {
    def rows(enabled: Boolean): Seq[String] = withConf(common :+
      ("spark.sql.adaptive.skewJoin.enabled" -> enabled.toString): _*) {
      shingleJoinBack(spark).collect()
        .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|" +
          s"${r.getLong(3)}")
        .sorted.toSeq
    }
    val on = rows(enabled = true)
    val off = rows(enabled = false)
    on.size shouldBe 400000
    on shouldBe off
  }
}
