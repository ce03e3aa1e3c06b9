package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, element_at, hash, lit, pmod, typedLit}

import graft.{JobLog, SparkSpec}

/** Write/read-back round trips for every sink/source operator
  * (SURVEY.md §2.1; FIXTURES.md §C: S2/S3/S5/S7/S8 are unit-tested, not
  * oracle-checked).
  */
class SinksSourcesSpec extends SparkSpec {
  import spark.implicits._

  /** 48 rows in four range partitions of consecutive ids: every
    * partition holds all three states, so a write task per partition
    * would land four files per state.
    */
  private def spreadDf = spark.range(0, 48, 1, 4).select(
    $"id".cast("string").as("id"),
    element_at(typedLit(Seq("CA", "NY", "TX")), ($"id" % 3 + 1).cast("int")).as("state"),
    ($"id" * 0.5).as("v"))

  private def partFiles(dir: String) =
    new java.io.File(dir).list().count(_.startsWith("part-"))

  /** Tasks of the writer stage (the result stage of the last job `write`
    * runs) that wrote rows.
    */
  private def writingTasks(write: => Unit) = JobLog.of(spark)(write)._2.last.resultWriters

  /** Tasks the sinks' hash of `state` spreads `df` over: one per value,
    * unless two values share a bucket. The sinks hash into one task per
    * core, where AQE would coalesce a small write to a single task.
    */
  private def stateBuckets(df: org.apache.spark.sql.DataFrame) = {
    val writers = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism)
    df.select(pmod(hash(col("state")), lit(writers))).distinct().count().toInt
  }

  private def sampleDf =
    Seq(("a", "CA", 1.5), ("b", "CA", 2.5), ("c", "NY", 3.5))
      .toDF("id", "state", "v")

  test("bronze JSON write -> read-back preserves rows (S2/S4)") {
    withTempDir { root =>
      val dir = Sinks.writeBronzeJson(sampleDf, s"$root/bronze", "20240101_000000")
      dir should endWith("run_ts=20240101_000000")
      val back = Sources.readJson(spark, dir)
      back.select("id", "state", "v").as[(String, String, Double)]
        .collect().toSet shouldBe
        Set(("a", "CA", 1.5), ("b", "CA", 2.5), ("c", "NY", 3.5))
    }
  }

  test("latest-snapshot selection picks max mtime (S3)") {
    withTempDir { root =>
      val bronze = s"$root/bronze"
      val d1 = Sinks.writeBronzeJson(sampleDf.limit(1), bronze, "run_a")
      val d2 = Sinks.writeBronzeJson(sampleDf, bronze, "run_b")
      // pin mtimes: directory mtime granularity can make writes tie
      val fs = new Path(bronze).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.setTimes(new Path(d1), 1000000L, -1)
      fs.setTimes(new Path(d2), 2000000L, -1)
      Sources.latestSnapshotPath(spark, bronze).get should endWith("run_ts=run_b")
      Sources.readJson(spark, Sources.latestSnapshotPath(spark, bronze).get)
        .count() shouldBe 3
      // flip the order: now run_a is "newest"
      fs.setTimes(new Path(d1), 3000000L, -1)
      Sources.latestSnapshotPath(spark, bronze).get should endWith("run_ts=run_a")
      Sources.latestSnapshotPath(spark, s"$root/missing") shouldBe None
    }
  }

  test("partitioned parquet sink: hive layout + row equality (S5)") {
    withTempDir { root =>
      val path = s"$root/silver"
      Sinks.writePartitionedParquet(sampleDf, path, Seq("state"))
      new java.io.File(s"$path/state=CA").isDirectory shouldBe true
      new java.io.File(s"$path/state=NY").isDirectory shouldBe true
      val back = Sources.readParquet(spark, path)
      back.select("id", "state", "v").as[(String, String, Double)]
        .collect().toSet shouldBe
        Set(("a", "CA", 1.5), ("b", "CA", 2.5), ("c", "NY", 3.5))
      // overwrite replaces, not appends
      Sinks.writePartitionedParquet(sampleDf.filter($"state" === "CA"), path, Seq("state"))
      Sources.readParquet(spark, path).count() shouldBe 2
    }
  }

  test("dynamic partition overwrite rewrites only the touched partition") {
    withTempDir { root =>
      val path = s"$root/silver"
      Sinks.writePartitionedParquet(sampleDf, path, Seq("state"))
      def nyFiles = new java.io.File(s"$path/state=NY").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      val nyBefore = nyFiles
      nyBefore should not be empty
      // overwrite ONLY the CA slice with new values; NY must survive
      // byte-for-byte (same files), unlike the static overwrite above
      Sinks.overwritePartitionsDynamic(
        Seq(("a2", "CA", 9.9)).toDF("id", "state", "v"), path, Seq("state"))
      nyFiles shouldBe nyBefore
      Sources.readParquet(spark, path).select("id", "state", "v")
        .as[(String, String, Double)].collect().toSet shouldBe
        Set(("a2", "CA", 9.9), ("c", "NY", 3.5))
    }
  }

  test("partitioned parquet sink: one file per partition value from a multi-partition frame") {
    withTempDir { root =>
      val path = s"$root/silver"
      spreadDf.rdd.getNumPartitions shouldBe 4
      stateBuckets(spreadDf) should be > 1
      writingTasks(Sinks.writePartitionedParquet(spreadDf, path, Seq("state"))) shouldBe
        stateBuckets(spreadDf)
      Seq("CA", "NY", "TX").map(s => s -> partFiles(s"$path/state=$s")) shouldBe
        Seq("CA" -> 1, "NY" -> 1, "TX" -> 1)
      Sources.readParquet(spark, path).select("id", "state", "v")
        .as[(String, String, Double)].collect().sorted shouldBe
        spreadDf.as[(String, String, Double)].collect().sorted
    }
  }

  test("dynamic partition overwrite lands the touched value as one file") {
    withTempDir { root =>
      val path = s"$root/silver"
      Sinks.writePartitionedParquet(sampleDf, path, Seq("state"))
      val caNy = spreadDf.filter($"state" =!= "TX")
      caNy.rdd.getNumPartitions shouldBe 4
      stateBuckets(caNy) should be > 1
      writingTasks(Sinks.overwritePartitionsDynamic(caNy, path, Seq("state"))) shouldBe
        stateBuckets(caNy)
      Seq("CA", "NY").map(s => partFiles(s"$path/state=$s")) shouldBe Seq(1, 1)
      Sources.readParquet(spark, path).select("id", "state", "v")
        .as[(String, String, Double)].collect().sorted shouldBe
        caNy.as[(String, String, Double)].collect().sorted
    }
  }

  test("partition pruning fires on the partitioned silver layout (SURVEY §4)") {
    withTempDir { root =>
      val path = s"$root/silver"
      Sinks.writePartitionedParquet(sampleDf, path, Seq("state"))
      val filtered = Sources.readParquet(spark, path).filter($"state" === "CA")
      filtered.count() shouldBe 2
      // the state predicate must become a PartitionFilter on the scan
      // (directory pruning), not a post-scan Filter over all partitions
      val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
      scan should include("PartitionFilters")
      scan should include("state")
    }
  }

  test("unpartitioned parquet sink round trip (S7)") {
    withTempDir { root =>
      Sinks.writeParquet(sampleDf, s"$root/gold")
      Sources.readParquet(spark, s"$root/gold").count() shouldBe 3
    }
  }

  test("CSV sink -> schema'd read-back preserves rows and types") {
    withTempDir { root =>
      Sinks.writeCsv(sampleDf, s"$root/export")
      val back = Sources.readCsv(spark, s"$root/export", sampleDf.schema)
      // names+types survive; nullability legitimately widens (a CSV cell
      // can always be empty), so compare the (name, type) contract
      back.schema.map(f => (f.name, f.dataType)) shouldBe
        sampleDf.schema.map(f => (f.name, f.dataType))
      back.as[(String, String, Double)].collect().toSet shouldBe
        Set(("a", "CA", 1.5), ("b", "CA", 2.5), ("c", "NY", 3.5))
    }
  }

  test("ORC sink round trip + predicate pushdown reaches the scan") {
    withTempDir { root =>
      Sinks.writeOrc(sampleDf, s"$root/orc")
      val back = Sources.readOrc(spark, s"$root/orc")
      back.as[(String, String, Double)].collect().toSet shouldBe
        Set(("a", "CA", 1.5), ("b", "CA", 2.5), ("c", "NY", 3.5))
      // same lake posture as parquet: the filter must reach the ORC scan
      val plan = back.filter($"state" === "CA")
        .queryExecution.executedPlan.toString
      plan should include("PushedFilters: [IsNotNull(state), EqualTo(state,CA)]")
    }
  }

  test("JDBC sink: schema DDL + overwrite semantics on embedded Derby (S8/S9)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    Sinks.createSchema(url, "gold_layer")
    Sinks.createSchema(url, "gold_layer") // idempotent second call
    val gold = Seq(("micro", "CA", 2L), ("brewpub", "NY", 1L))
      .toDF("brewery_type", "state", "brewery_count")
    Sinks.writeJdbc(gold, url, "gold_layer.brewery_summary")
    // overwrite = drop + recreate, like the reference
    Sinks.writeJdbc(gold.limit(1), url, "gold_layer.brewery_summary")
    val back = spark.read.jdbc(url, "gold_layer.brewery_summary",
      new java.util.Properties())
    back.count() shouldBe 1
  }

  test("upsertLatestWins: updates win on version, ties, and new keys append") {
    val base = Seq((1L, "old-a", 10L), (2L, "old-b", 10L), (3L, "keep-c", 10L))
      .toDF("k", "payload", "ver")
    val updates = Seq(
      (1L, "new-a", 20L),  // newer version wins
      (2L, "tie-b", 10L),  // same version: update wins the tie
      (9L, "ins-i", 5L))   // new key appends
    .toDF("k", "payload", "ver")
    val merged = Sinks.upsertLatestWins(base, updates, Seq("k"), "ver")
      .select("k", "payload").as[(Long, String)].collect().toMap
    merged shouldBe Map(
      1L -> "new-a", 2L -> "tie-b", 3L -> "keep-c", 9L -> "ins-i")
    // result carries no helper columns
    Sinks.upsertLatestWins(base, updates, Seq("k"), "ver")
      .columns.toSeq shouldBe Seq("k", "payload", "ver")
  }
}
