package graft.engine

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** Operator-level semantics pinned against the reference
  * (plugins/brewery_operators.py:255-265, data_quality_operator.py:57-71),
  * plus ScalaCheck-generated property tests (SURVEY.md §5.3).
  */
class SilverQualityGoldSpec extends SparkSpec {
  import spark.implicits._

  test("concat_ws skips NULLs but keeps empty strings (P4)") {
    val df = Seq(
      (Option("a"), Option("b"), Option("c")),
      (Option("a"), None, Option("c")),
      (None, None, None),
      (Option(""), Option("b"), None))
      .toDF("x", "y", "z")
      .select(Silver.fullAddress(col("x"), col("y"), col("z")).as("addr"))
    df.as[String].collect().toSeq shouldBe Seq("a, b, c", "a, c", "", ", b")
  }

  test("lenient cast: malformed -> NULL, valid -> value, under ANSI Spark 4 (P5)") {
    val df = Seq("1.5", "not-a-number", "", "-2e3", "  3.0  ")
      .toDF("s").select(Silver.castDoubleLenient(col("s")).as("d"))
    df.as[Option[Double]].collect().toSeq shouldBe
      Seq(Some(1.5), None, None, Some(-2000.0), Some(3.0))
  }

  test("gold group-count: count(col) skips null ids, NULL keys form groups (A1)") {
    val df = Seq(
      (Option("i1"), Option("micro"), "CA"),
      (Option("i2"), Option("micro"), "CA"),
      (None, Option("micro"), "CA"),      // null id: not counted
      (Option("i3"), None, "CA"))          // null key: own group
      .toDF("id", "t", "s")
    Gold.groupCount(df, Seq(col("t"), col("s")), col("id"), "n")
      .as[(Option[String], String, Long)].collect().toSet shouldBe
      Set((Some("micro"), "CA", 2L), (None, "CA", 1L))
  }

  test("quality report: one row per column, zero on empty input") {
    val df = Seq(("a", ""), ("", null.asInstanceOf[String]), ("c", "x"))
      .toDF("u", "v")
    Quality.report(df, Seq("u", "v")).as[(String, Long)].collect().toSet shouldBe
      Set(("u", 1L), ("v", 2L))
    Quality.report(df.limit(0), Seq("u", "v"))
      .as[(String, Long)].collect().toSet shouldBe Set(("u", 0L), ("v", 0L))
  }

  test("assertGate min-count: passes at the row count, throws above it") {
    val df = (1 to 10).map(i => (s"id$i", s"n$i")).toDF("id", "name")
    noException should be thrownBy
      Quality.assertGate(df, Seq(Quality.MinCount(10), Quality.NotNullOrEmpty("id")))
    Seq(11L, Int.MaxValue.toLong + 1).foreach { n =>
      the[IllegalStateException] thrownBy
        Quality.assertGate(df, Seq(Quality.MinCount(n))) should have message
        s"record count below $n"
    }
  }

  test("assertGate reads each row once, whatever the number of checks") {
    val n = 500
    val reads = spark.sparkContext.longAccumulator("gate-reads")
    // a nondeterministic filter is neither pruned nor pushed past, so it
    // sees every row each query over df reads
    val seen = udf { (_: String) => reads.add(1); true }.asNondeterministic()
    val df = spark.sparkContext
      .parallelize((1 to n).map(i => (s"id$i", s"n$i", "micro")), 4)
      .toDF("id", "name", "kind")
      .filter(seen(col("id")))
    Quality.assertGate(df, Seq(Quality.MinCount(n), Quality.NotNullOrEmpty("id"),
      Quality.NotNullOrEmpty("name"), Quality.NotNullOrEmpty("kind")))
    reads.sum shouldBe n.toLong
  }

  /** The gate's verdict, modelled in plain Scala: the first failure
    * message in the reference's order, or None when the data passes. */
  private def verdict(rows: Seq[Map[String, Option[String]]],
      checks: Seq[Quality.Check]): Option[String] =
    if (rows.isEmpty) Some("dataset is empty")
    else checks.collectFirst {
      case Quality.MinCount(n) if rows.size < n => s"record count below $n"
      case Quality.NotNullOrEmpty(c) if rows.exists(_(c).forall(_.isEmpty)) =>
        s"critical column $c has null/empty values"
    }

  test("property: assertGate throws the model's first failure, or passes") {
    val columns = Seq("a", "b", "c")
    val cell = Gen.frequency(1 -> Gen.const(Option.empty[String]),
      1 -> Gen.const(Option("")), 1 -> Gen.const(Option(" ")),
      6 -> Gen.alphaStr.map(s => Option("v" + s)))
    val cases = for {
      n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 6))
      rows <- Gen.listOfN(n, Gen.listOfN(columns.size, cell)
        .map(cells => columns.zip(cells).toMap))
      checks <- Gen.listOf(Gen.oneOf(
        Gen.choose(n - 1, n + 1).map(m => Quality.MinCount(m.toLong)),
        Gen.oneOf(columns).map(Quality.NotNullOrEmpty(_))))
    } yield (rows, checks.take(5))
    (1 to 30).foreach { _ =>
      val (rows, checks) = cases.sample.getOrElse((Nil, Nil))
      val df = rows.map(r => (r("a"), r("b"), r("c"))).toDF(columns: _*)
      val got = scala.util.Try(Quality.assertGate(df, checks)).failed.toOption
        .map(_.getMessage)
      withClue(s"rows=$rows checks=$checks: ") {
        got shouldBe verdict(rows, checks)
      }
    }
  }

  // --- ScalaCheck-generated properties (generator-driven, one DF each) ---

  private val rawStrings: Seq[String] = Gen.listOfN(200,
    Gen.oneOf(
      Gen.alphaStr, Gen.asciiPrintableStr,
      Gen.const(""), Gen.const("  padded  "), Gen.const("MiXeD Case")))
    .sample.getOrElse(Seq.fill(200)("fallback"))

  test("property: normalization is idempotent (lower.lower = lower, trim.trim = trim)") {
    val df = rawStrings.toDF("s")
    df.filter(lower(lower(col("s"))) =!= lower(col("s"))).count() shouldBe 0
    df.filter(trim(trim(col("s"))) =!= trim(col("s"))).count() shouldBe 0
  }

  test("property: silver projection preserves row count (1:1, no filter)") {
    val df = rawStrings.zipWithIndex.toDF("s", "i")
    val projected = Silver.project(df, Seq(
      "id" -> col("i"), "clean" -> Silver.cleanName(col("s")),
      "key" -> Silver.normKey(col("s")),
      "num" -> Silver.castDoubleLenient(col("s"))))
    projected.count() shouldBe df.count()
  }

  test("property: sum of gold counts equals count of non-null count-column rows") {
    val rows = Gen.listOfN(300, for {
      id <- Gen.option(Gen.identifier)
      k <- Gen.oneOf("a", "b", "c")
    } yield (id, k)).sample.getOrElse(Seq.fill(300)((Option("x"), "a")))
    val df = rows.toDF("id", "k")
    val total = Gold.groupCount(df, Seq(col("k")), col("id"), "n")
      .agg(sum("n")).as[Long].head()
    total shouldBe rows.count(_._1.isDefined)
  }
}
