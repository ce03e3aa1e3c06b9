package graft.engine

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** [[Cumulative.rankedCumSum]] against the single-partition global
  * window it replaces, on random inputs: the two-phase range-partitioned
  * prefix sum must be ROW-IDENTICAL to `row_number()/sum().over(global
  * order)` for every input size, value distribution (negatives and
  * duplicates in the value column; order keys unique — the helper's
  * total-order contract), and partition count (1, 3, and more partitions
  * than rows). This is the associativity-regrouping claim the
  * production `rankedCumSum(s)` consumers (q125, q155, q174, q181, q186,
  * q192, q214, q260, q270, q272, q273, q274) lean on, pinned as a
  * property rather than per-query; the grouped kernel and the
  * [[Cumulative.histogram]] walk get the same treatment.
  */
class CumulativePropertySpec extends SparkSpec {
  import spark.implicits._

  private def reference(rows: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    // (key asc) total order; rank and inclusive running sum
    val sorted = rows.sortBy(_._1)
    var cum = 0L
    sorted.zipWithIndex.map { case ((k, v), i) =>
      cum += v
      (k, i + 1L, cum)
    }
  }

  private val rowsGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(1, 200)
    keys <- Gen.pick(n, 0L until 1000L)
    vals <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
  } yield keys.toSeq.zip(vals)

  test("rankedCumSum equals the single-partition window on random input") {
    (1 to 20).foreach { _ =>
      val rows = rowsGen.sample.getOrElse(Seq(0L -> 1L))
      val nParts = Gen.oneOf(1, 3, 8, 300).sample.getOrElse(8)
      val df = rows.toDF("k", "v")
      val got = Cumulative
        .rankedCumSum(df, Seq(col("k").asc), col("v"),
          numPartitions = nParts)
        .select(col("k"), col("rk"), col("cum"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      got shouldBe reference(rows)
    }
  }

  test("rankedCumSums: several values share one pass, each cum exact") {
    val rows = Seq((5L, 2L, 10L), (1L, -3L, 7L), (9L, 4L, -2L),
      (3L, 0L, 1L), (7L, 6L, 6L))
    val df = rows.toDF("k", "a", "b")
    val got = Cumulative
      .rankedCumSums(df, Seq(col("k").asc),
        Seq(col("a") -> "ca", col("b") -> "cb"), numPartitions = 3)
      .select(col("k"), col("rk"), col("ca"), col("cb"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    val sorted = rows.sortBy(_._1)
    val expect = sorted.indices.map { i =>
      (sorted(i)._1, i + 1L,
        sorted.take(i + 1).map(_._2).sum,
        sorted.take(i + 1).map(_._3).sum)
    }.toList
    got shouldBe expect
  }

  test("runningMax (inclusive and exclusive) equals the flat window") {
    (1 to 10).foreach { _ =>
      val rows = rowsGen.sample.getOrElse(Seq(0L -> 1L))
      val nParts = Gen.oneOf(1, 3, 8, 300).sample.getOrElse(8)
      val df = rows.toDF("k", "v")
      val sorted = rows.sortBy(_._1)
      val inc = Cumulative.runningMax(df, Seq(col("k").asc), col("v"),
          numPartitions = nParts)
        .select(col("k"), col("run_max"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      inc shouldBe sorted.indices.map(i =>
        (sorted(i)._1, sorted.take(i + 1).map(_._2).max))
      val exc = Cumulative.runningMax(df, Seq(col("k").asc), col("v"),
          numPartitions = nParts, inclusive = false)
        .select(col("k"), col("run_max"))
        .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
      exc shouldBe sorted.indices.map(i =>
        (sorted(i)._1,
          if (i == 0) None else Some(sorted.take(i).map(_._2).max)))
    }
  }

  test("groupedRankedCumSums equals the per-group window on random input " +
      "(round-20: the collapsed-window replacement)") {
    // reference: row_number()/sum() OVER (PARTITION BY g ORDER BY k) —
    // computed flat in Scala, never via the window it replaces
    val gen = for {
      n <- Gen.choose(1, 200)
      keys <- Gen.pick(n, 0L until 1000L) // unique order keys (contract)
      grps <- Gen.listOfN(n, Gen.choose(0L, 4L))
      vals <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
    } yield keys.toSeq.lazyZip(grps).lazyZip(vals).toSeq
    (1 to 15).foreach { _ =>
      val rows = gen.sample.getOrElse(Seq((0L, 0L, 1L)))
      val nParts = Gen.oneOf(1, 3, 8, 300).sample.getOrElse(8)
      val df = rows.toDF("k", "g", "v")
      val got = Cumulative
        .groupedRankedCumSums(df, Seq(col("g")), Seq(col("k").asc),
          values = Seq(col("v") -> "cum"), numPartitions = nParts)
        .select(col("g"), col("k"), col("rk"), col("cum"))
        .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
        .toSeq
      val expect = rows.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
        case (g, rs) =>
          val sorted = rs.sortBy(_._1)
          var cum = 0L
          sorted.zipWithIndex.map { case ((k, _, v), i) =>
            cum += v
            (g, k, i + 1L, cum)
          }
      }
      got shouldBe expect
      // totalName: every row also carries its group's row count (the
      // q96/q269/q274 "rank out of n" shape)
      val groupSize = rows.groupBy(_._2).map { case (g, rs) => g -> rs.size.toLong }
      Cumulative
        .groupedRankedCumSums(df, Seq(col("g")), Seq(col("k").asc),
          values = Seq(col("v") -> "cum"), numPartitions = nParts,
          totalName = Some("n"))
        .select(col("g"), col("k"), col("rk"), col("cum"), col("n"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .sortBy(t => (t._1, t._2)).toSeq shouldBe
        expect.map { case (g, k, rk, cum) => (g, k, rk, cum, groupSize(g)) }
    }
    // rank-only call (no value columns) and desc order within groups —
    // the q269/q274 shape
    val rows = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 0L), (5L, 1L))
    val got = Cumulative
      .groupedRankedCumSums(rows.toDF("id", "g"), Seq(col("g")),
        Seq(col("id").desc), rkName = "r", numPartitions = 3)
      .select(col("g"), col("id"), col("r"))
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toList
    got shouldBe List((0L, 1L, 3L), (0L, 2L, 2L), (0L, 4L, 1L),
      (1L, 3L, 2L), (1L, 5L, 1L))
  }

  test("histogram equals the flat PARTITION BY key ORDER BY value window " +
      "on random input") {
    // 1–4 groups, few distinct values (so duplicates), weights >= 0
    val gen = for {
      n <- Gen.choose(1, 300)
      groups <- Gen.choose(1L, 4L)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, groups - 1)
        v <- Gen.choose(0L, 40L)
        w <- Gen.choose(0L, 5L)
      } yield (g, v, w))
    } yield rows
    val byG = Window.partitionBy(col("g"))
    (1 to 12).foreach { i =>
      val rows = gen.sample.getOrElse(Seq((0L, 0L, 1L)))
      val df = rows.toDF("g", "v", "w")
      // the two weights the catalog uses: a row count and an exact sum
      val weight = if (i % 2 == 0) count(lit(1)) else sum(col("w"))
      val hist = df.groupBy(col("g"), col("v")).agg(weight.as("w"))
      def sorted(f: org.apache.spark.sql.DataFrame) =
        f.select("g", "v", "w", "cum", "n")
          .as[(Long, Long, Long, Long, Long)].collect()
          .sortBy(t => (t._1, t._2)).toSeq
      val expect = sorted(hist
        .withColumn("cum", sum(col("w")).over(byG.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("w")).over(byG)))
      // input spread over 1, 3 and more partitions than rows
      Seq(1, 3, rows.size + 1).foreach { nParts =>
        sorted(Cumulative.histogram(df.repartition(nParts), Seq(col("g")),
          col("v"), weight)) shouldBe expect
      }
      // rankPick on a row-count walk is the ceil(n*p)-th smallest row
      if (i % 2 == 0) {
        val picks = Cumulative.histogram(df, Seq(col("g")), col("v"), weight)
          .groupBy(col("g"))
          .agg(Cumulative.rankPick(col("v"), 0.5).as("p50"),
            Cumulative.rankPick(col("v"), 0.9).as("p90"))
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
        picks shouldBe rows.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (g, rs) =>
            val vs = rs.map(_._2).sorted
            def at(p: Double) = vs(math.ceil(vs.size * p).toInt - 1)
            (g, at(0.5), at(0.9))
        }
      }
    }
  }

  test("descending order with tie-broken keys matches the reference") {
    // the q155 shape: primary desc with ties, unique tiebreaker asc
    val rows = Seq((1L, 50L), (2L, 50L), (3L, 10L), (4L, 90L), (5L, 10L))
    val df = rows.toDF("id", "cents")
    val got = Cumulative
      .rankedCumSum(df, Seq(col("cents").desc, col("id").asc),
        col("cents"), numPartitions = 3)
      .select(col("id"), col("rk"), col("cum"))
      .as[(Long, Long, Long)].collect().sortBy(_._2).toList
    val ordered = rows.sortBy { case (id, c) => (-c, id) }
    var cum = 0L
    val expect = ordered.zipWithIndex.map { case ((id, c), i) =>
      cum += c
      (id, i + 1L, cum)
    }
    got shouldBe expect
  }
}
