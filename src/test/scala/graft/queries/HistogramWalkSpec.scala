package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.Tables

/** The [[graft.engine.Cumulative.histogram]] consumers on the sf0.001
  * fixture, against invariants computed straight from the base tables
  * (never through the helper): the oracle harness checks engine parity,
  * these check that the walk's `n`, `cum` and picks mean what the
  * queries say.
  */
class HistogramWalkSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val lineitem = Tables.load(spark, sfDir, "lineitem")

  /** Per-flag lineitem row counts. */
  private lazy val flagCounts: Map[String, Long] = lineitem
    .groupBy(col("l_returnflag")).agg(count(lit(1)))
    .as[(String, Long)].collect().toMap

  test("q40: quantiles are ordered and n is the flag's lineitem count") {
    val rows = RelationalQueries.q40QuantilesDisc.fn(spark, sfDir)
      .select("l_returnflag", "n", "p25", "p50", "p75", "p90")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSeq
    rows.map(r => r._1 -> r._2).toMap shouldBe flagCounts
    rows.foreach { case (_, _, p25, p50, p75, p90) =>
      p25 should be <= p50
      p50 should be <= p75
      p75 should be <= p90
    }
  }

  test("q136: buckets lie in 0-7 and each flag's rows sum to its count") {
    val rows = RelationalQueries.q136EquidepthHistogram.fn(spark, sfDir)
      .select("l_returnflag", "bucket", "n_rows")
      .as[(String, Long, Long)].collect().toSeq
    all(rows.map(_._2)) should (be >= 0L and be <= 7L)
    rows.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum } shouldBe
      flagCounts
  }

  test("q175: tot_qty_centi is the flag's direct centi-quantity sum") {
    val direct = lineitem.groupBy(col("l_returnflag"))
      .agg(sum(floor(col("l_quantity") * 100).cast("long")))
      .as[(String, Long)].collect().toMap
    RelationalQueries.q175WeightedMedian.fn(spark, sfDir)
      .select("l_returnflag", "tot_qty_centi")
      .as[(String, Long)].collect().toMap shouldBe direct
  }

  test("q288: each arm's deciles do not decrease in k") {
    val rows = EventQueries.q288QteDeciles.fn(spark, sfDir)
      .select("k", "d_control", "d_treat")
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    rows.map(_._1) shouldBe (1L to 9L)
    Seq(rows.map(_._2), rows.map(_._3)).foreach { ds =>
      ds.forall(_.isDefined) shouldBe true
      ds.flatten shouldBe ds.flatten.sorted
    }
  }
}
