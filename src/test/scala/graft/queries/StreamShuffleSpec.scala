package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Pins the scale-adaptive streaming shuffle-partition sizing (round-20
  * optimization): bounded streaming runs derive their state-partition
  * count from staged input bytes instead of inheriting the session's
  * core-count default, because every stateful operator provisions one
  * state store per shuffle partition per micro-batch and AQE cannot
  * coalesce streaming exchanges. The rule must stay (a) >= 1, (b)
  * capped at the session default so a cluster deployment never loses
  * parallelism, and (c) conf-restoring, so a failed stream can never
  * leak a 1-partition default into the surrounding batch session.
  */
class StreamShuffleSpec extends SparkSpec {

  test("derivation: ceil(bytes/target), floored at the probe-parallelism " +
      "minimum, clamped to the session default") {
    val t = EventQueries.StreamStateTargetBytes
    val floor = EventQueries.StreamMinPartitions
    // tiny input -> the parallelism floor, whatever the session default
    EventQueries.deriveStreamPartitions(0L, 32) shouldBe floor
    EventQueries.deriveStreamPartitions(1L, 32) shouldBe floor
    EventQueries.deriveStreamPartitions(t, 32) shouldBe floor
    // strict ceil takes over once the input outgrows the floor
    EventQueries.deriveStreamPartitions(floor * t + 1, 32) shouldBe floor + 1
    EventQueries.deriveStreamPartitions(8 * t, 32) shouldBe 8
    // the session default is a hard cap (a cluster session sized its
    // own partitions; the derivation may only shrink, never grow) —
    // and it beats the floor too: a deliberately small conf wins
    EventQueries.deriveStreamPartitions(100 * t, 32) shouldBe 32
    EventQueries.deriveStreamPartitions(100 * t, 2) shouldBe 2
    EventQueries.deriveStreamPartitions(1L, 2) shouldBe 2
    // degenerate session conf still yields a runnable count
    EventQueries.deriveStreamPartitions(t, 0) shouldBe 1
  }

  test("stagedInputBytes sums only the staged parquet payloads") {
    withTempDir { dir =>
      Files.write(Paths.get(dir, "a.parquet"), Array.fill[Byte](100)(1))
      Files.write(Paths.get(dir, "b.parquet"), Array.fill[Byte](23)(1))
      // markers/checkpoints beside the data must not count as input
      Files.write(Paths.get(dir, "_STAGED"), Array.fill[Byte](999)(1))
      EventQueries.stagedInputBytes(dir) shouldBe 123L
    }
  }

  test("stagedInputBytes recurses into a partitioned staging dir " +
      "(round-21: the flat listing read 0 bytes over dt=…/part-… layouts " +
      "and silently floored the derivation)") {
    withTempDir { dir =>
      val part = Paths.get(dir, "dt=2026-08-19")
      Files.createDirectories(part)
      Files.write(part.resolve("part-0.parquet"), Array.fill[Byte](70)(1))
      Files.write(part.resolve("part-1.parquet"), Array.fill[Byte](30)(1))
      Files.write(part.resolve("_SUCCESS"), Array.fill[Byte](5)(1))
      Files.write(Paths.get(dir, "top.parquet"), Array.fill[Byte](23)(1))
      EventQueries.stagedInputBytes(dir) shouldBe 123L
    }
  }

  test("stagedInputBytes follows a symlinked partition directory") {
    withTempDir { src =>
      withTempDir { dir =>
        Files.write(Paths.get(src, "part-0.parquet"), Array.fill[Byte](40)(1))
        Files.createSymbolicLink(Paths.get(dir, "dt=2026-08-19"), Paths.get(src))
        EventQueries.stagedInputBytes(dir) shouldBe 40L
      }
    }
  }

  test("a stateful stream under the bracket provisions the derived " +
      "partition count, and its result matches the session-default run") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    withTempDir { staging =>
      // stage ONE bare parquet file (the eventsStreamDir shape): the
      // file-stream source and stagedInputBytes both read loose files,
      // not nested write dirs
      val dir = withTempDir { tmp =>
        spark.range(0, 1000)
          .select((col("id") % 37).as("k"), col("id").as("v"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val listing = Files.list(Paths.get(tmp))
        val src =
          try listing.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally listing.close()
        Files.copy(src, Paths.get(staging, "data.parquet"))
        staging
      }
      val schema = spark.read.parquet(s"$dir/data.parquet").schema
      def drain(name: String, bracket: Boolean): (Seq[(Long, Long)], Int) = {
        spark.catalog.dropTempView(name)
        def run(): Int = {
          val agg = spark.readStream.schema(schema).parquet(dir)
            .groupBy(col("k")).agg(count(lit(1)).as("n"))
          val q = agg.writeStream.format("memory").queryName(name)
            .outputMode("update").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
            .map(_.numShufflePartitions.toInt).max
        }
        val parts =
          if (bracket) EventQueries.withStreamShuffle(spark, dir)(run())
          else run()
        val rows = spark.table(name).collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1))).sorted
        (rows, parts)
      }
      // pin a session default ABOVE the floor so the bracketed count is
      // distinguishable from both the default and a no-op
      val key = "spark.sql.shuffle.partitions"
      val prior = spark.conf.get(key)
      try {
        spark.conf.set(key, "16")
        val (bracketRows, bracketParts) =
          drain("ssspec_bracket", bracket = true)
        val (defaultRows, defaultParts) =
          drain("ssspec_default", bracket = false)
        // the bracket derived the parallelism floor from the tiny staged
        // input; the un-bracketed run provisioned one state store per
        // session shuffle partition — the overhead the bracket removes
        bracketParts shouldBe EventQueries.StreamMinPartitions
        defaultParts shouldBe 16
        // partitioning changes WHERE keyed state lives, never the result
        bracketRows shouldBe defaultRows
        bracketRows.size shouldBe 37
      } finally spark.conf.set(key, prior)
    }
  }

  test("withStreamShuffle applies the derived count and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    withTempDir { dir =>
      Files.write(Paths.get(dir, "a.parquet"), Array.fill[Byte](10)(1))
      val inside = EventQueries.withStreamShuffle(spark, dir) {
        spark.conf.get(key)
      }
      inside shouldBe
        EventQueries.deriveStreamPartitions(10L, prior.toInt).toString
      spark.conf.get(key) shouldBe prior
      // a throwing body must restore too — the bracket guards the whole
      // batch session, not just the happy path
      intercept[RuntimeException] {
        EventQueries.withStreamShuffle(spark, dir) {
          throw new RuntimeException("boom")
        }
      }
      spark.conf.get(key) shouldBe prior
    }
  }
}
