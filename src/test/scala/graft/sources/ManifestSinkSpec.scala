package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Shared change-feed drain for the manifest specs: run the streaming
  * tail to completion under AvailableNow against the given checkpoint
  * and return the rows THIS drain delivered (a reused checkpoint
  * resumes, so repeated drains return only the new deltas).
  */
private[sources] object ManifestFeedHarness {
  /** The one stream-drain scaffold (AvailableNow over the change feed,
    * accumulate per batch via `decode`, 120 s timeout): [[drain]] and
    * [[drainEvolve]] differ ONLY in how a batch decodes to rows.
    */
  private def drainWith[T](spark: org.apache.spark.sql.SparkSession,
      dir: String, cp: String)(
      decode: org.apache.spark.sql.DataFrame => Seq[T]): Seq[T] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[T]
    val q = spark.readStream.format("graft-manifest")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = decode(df)
        got.synchronized { got ++= rows }
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // stop the query BEFORE failing on timeout: leaking a live stream
    // whose checkpoint dir the caller is about to delete buries the
    // real failure under cascading session noise
    val done = q.awaitTermination(120000)
    if (!done) q.stop()
    assert(done, "feed drain timed out")
    got.toSeq
  }

  def drain(spark: org.apache.spark.sql.SparkSession, dir: String,
      cp: String): Seq[(Long, String)] =
    drainWith(spark, dir, cp) { df =>
      df.as[(Long, String)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING)).collect().toSeq
    }

  /** Schema-normalize a 2- or 3-column feed/snapshot frame to the
    * evolving walks' canonical (id, name?, extra?) shape: a frame
    * read under a pre-widening schema has no `extra` column (⇒ None),
    * a post-widening frame surfaces pre-widening files' extra as NULL.
    * Shared by [[drainEvolve]] and the model spec's snapshot reads so
    * the harness and the model cannot disagree about a row's shape.
    */
  def decodeEvolved(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Option[String], Option[Long])] = {
    val hasExtra = df.columns.contains("extra")
    df.collect().toSeq.map { r =>
      val ni = r.fieldIndex("name")
      val ei = if (hasExtra) r.fieldIndex("extra") else -1
      (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(ni)) None else Some(r.getString(ni)),
        if (ei < 0 || r.isNullAt(ei)) None else Some(r.getLong(ei)))
    }
  }

  /** [[drain]] for the schema-EVOLVING model walks: each drain is a new
    * stream over the same checkpoint, so it resolves the table's
    * CURRENT schema — (id, name) before the walk widens, (id, name,
    * extra) after — and pre-widening files surface `extra` as NULL.
    */
  def drainEvolve(spark: org.apache.spark.sql.SparkSession, dir: String,
      cp: String): Seq[(Long, Option[String], Option[Long])] =
    drainWith(spark, dir, cp)(decodeEvolved)
}

/** The graft-manifest DSv2 batch write: round-trip fidelity, manifest
  * accounting, orphan invisibility (the exactly-once contract),
  * append-extends / overwrite-truncates snapshot semantics, time
  * travel, the optimistic version-claim re-base, and vacuum retention.
  */
class ManifestSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def writeRows(dir: String, rows: Seq[(Long, String)],
      mode: String = "append"): Unit =
    rows.toDF("id", "name").repartition(3)
      .write.format("graft-manifest").option("path", dir)
      .mode(mode).save()

  private def readBack(dir: String,
      version: Option[Long] = None): Set[(Long, String)] =
    ManifestSink.readData(spark, dir, schema, version)
      .as[(Long, String)].collect().toSet

  test("round-trip: rows written through the sink read back exactly") {
    withTempDir { dir =>
      val rows = (1L to 100L).map(i => (i, s"row-$i\twith\"specials\""))
      writeRows(dir, rows)
      readBack(dir) shouldBe rows.toSet
      // manifest accounting: per-file rows sum to the total
      val m = ManifestSink.readManifest(spark, dir)
        .as[(String, Long, Long)].collect()
      m.map(_._2).sum shouldBe 100L
      m.foreach { case (_, _, bytes) => bytes should be > 0L }
    }
  }

  test("control chars and non-ASCII survive the JSON round trip") {
    withTempDir { dir =>
      // \b and \f are NOT in the \n\r\t shortcut set — they must escape
      // as \u00XX or the reader silently nulls the row; é/∑ pin UTF-8
      val rows = Seq(
        (1L, "bell back\b feed\f"),
        (2L, "café ∑ mixed\t\nline"),
        (3L, "nul-adjacent"))
      writeRows(dir, rows)
      readBack(dir) shouldBe rows.toSet
    }
  }

  test("append extends the snapshot; every version stays readable") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "first")))
      writeRows(dir, Seq((2L, "second")))
      ManifestSink.listVersions(dir) shouldBe Seq(1L, 2L)
      // latest = union of both jobs' rows (append SEMANTICS, not
      // replace); v1 is the time-travel view of the first job alone
      readBack(dir) shouldBe Set((1L, "first"), (2L, "second"))
      readBack(dir, Some(1L)) shouldBe Set((1L, "first"))
      readBack(dir, Some(2L)) shouldBe Set((1L, "first"), (2L, "second"))
    }
  }

  test("mode(overwrite) routes through truncate and replaces the snapshot") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "old")))
      writeRows(dir, Seq((2L, "new")), mode = "overwrite")
      readBack(dir) shouldBe Set((2L, "new"))
      // the pre-overwrite snapshot is still time-travel readable
      readBack(dir, Some(1L)) shouldBe Set((1L, "old"))
      // and a later append bases on the truncated snapshot, not v1
      writeRows(dir, Seq((3L, "post")))
      readBack(dir) shouldBe Set((2L, "new"), (3L, "post"))
    }
  }

  test("losing the version-claim race re-bases onto the interloper") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "mine")))
      // an "interloper" claims v2 directly (as a concurrent committer
      // would): one data file + a hand-written manifest listing v1's
      // files plus its own — exactly what a racing append publishes
      Files.write(Paths.get(dir, "part-racer-00000-1.jsonl"),
        "{\"id\":50,\"name\":\"racer\"}\n".getBytes(StandardCharsets.UTF_8))
      val v1Files = ManifestSink.readManifest(spark, dir, Some(1L))
        .as[(String, Long, Long)].collect()
      val entries = (v1Files.toSeq :+ (("part-racer-00000-1.jsonl", 1L, 26L)))
        .sortBy(_._1)
        .map { case (n, r, b) => s"""{"name":"$n","rows":$r,"bytes":$b}""" }
        .mkString("[", ",", "]")
      Files.write(
        Paths.get(dir, ManifestSink.LogDirName, "v0000000002.json"),
        s"""{"version":2,"files":$entries,"n_files":4,"n_rows":2}"""
          .getBytes(StandardCharsets.UTF_8))
      // this append's first claim of v2 MUST fail (the file exists);
      // the committer re-bases on v2 and lands as v3 with the union
      writeRows(dir, Seq((9L, "late")))
      ManifestSink.listVersions(dir) shouldBe Seq(1L, 2L, 3L)
      readBack(dir) shouldBe
        Set((1L, "mine"), (50L, "racer"), (9L, "late"))
    }
  }

  test("expireVersions vacuums only files unreachable from survivors") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))                     // v1: files A
      writeRows(dir, Seq((2L, "b")))                     // v2: A + B
      writeRows(dir, Seq((3L, "c")), mode = "overwrite") // v3: C only
      writeRows(dir, Seq((4L, "d")))                     // v4: C + D
      val (expired, deleted) = ManifestSink.expireVersions(dir, keepLast = 2)
      expired shouldBe 2 // v1, v2 gone
      deleted should be > 0 // A and B files referenced by nothing kept
      ManifestSink.listVersions(dir) shouldBe Seq(3L, 4L)
      // survivors read exactly as before the vacuum
      readBack(dir, Some(3L)) shouldBe Set((3L, "c"))
      readBack(dir) shouldBe Set((3L, "c"), (4L, "d"))
      // expired versions are genuinely gone
      intercept[Exception] { readBack(dir, Some(1L)) }
      // the OLDEST survivor as a fresh tail's FIRST batch reads as its
      // full file list (the initial-state snapshot) ...
      ManifestSink.deltaFiles(dir, 3L, initialSnapshotBatch = true)
        .map(_.name).toSet shouldBe
        ManifestSink.readManifest(spark, dir, Some(3L))
          .as[(String, Long, Long)].collect().map(_._1).toSet
      // ... but as a RESUMED delta (predecessor vacuumed, data-
      // changing version) it fails loudly — snapshot re-emission at an
      // ordinary batch boundary would be silent duplication
      val ex = intercept[IllegalStateException] {
        ManifestSink.deltaFiles(dir, 3L)
      }
      ex.getMessage should include("vacuumed")
      ()
    }
  }

  test("each snapshot records its own schema; read() needs no schema") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      // schema-less read resolves the recorded DDL
      ManifestSink.read(spark, dir).as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"))
      // an overwrite with a DIFFERENT shape: each version keeps the
      // schema it was written with (per-snapshot schema evolution)
      Seq((2L, 0.5)).toDF("id", "score")
        .write.format("graft-manifest").option("path", dir)
        .mode("overwrite").save()
      ManifestSink.schemaOf(dir, Some(1L)).fieldNames.toSeq shouldBe
        Seq("id", "name")
      ManifestSink.schemaOf(dir).fieldNames.toSeq shouldBe Seq("id", "score")
      ManifestSink.read(spark, dir).as[(Long, Double)].collect().toSet shouldBe
        Set((2L, 0.5))
      ManifestSink.read(spark, dir, Some(1L))
        .as[(Long, String)].collect().toSet shouldBe Set((1L, "a"))
    }
  }

  test("concurrent committers all land: the claim-retry loop is safe") {
    withTempDir { dir =>
      // 8 threads race commitSnapshot directly — every one must end up
      // in the final snapshot (appends compose), versions contiguous
      val n = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val results = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            val f = java.nio.file.Paths.get(dir, s"part-race$i-00000-$i.jsonl")
            Files.write(f, s"""{"id":$i,"name":"t$i"}\n"""
              .getBytes(StandardCharsets.UTF_8))
            barrier.await()
            ManifestSink.commitSnapshot(dir,
              Seq(FileCommit(f.getFileName.toString, 1L, Files.size(f))),
              truncate = false, Some("id BIGINT,name STRING"))
          }
        })
      }
      val versions = results.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      // every commit claimed a DISTINCT version, contiguously from 1
      versions.sorted shouldBe (1L to n.toLong)
      ManifestSink.listVersions(dir) shouldBe (1L to n.toLong)
      // the final snapshot is the union of all 8 appends
      ManifestSink.read(spark, dir).as[(Long, String)].collect().toSet shouldBe
        (0 until n).map(i => (i.toLong, s"t$i")).toSet
      // and each intermediate version has exactly v files (append chain)
      (1L to n.toLong).foreach { v =>
        ManifestSink.readManifest(spark, dir, Some(v)).count() shouldBe v
      }
    }
  }

  test("DSv2 read path: spark.read infers schema, time-travels, prunes") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a"), (2L, "b")))
      writeRows(dir, Seq((3L, "c")))
      // no user schema: inferred from the snapshot's recorded DDL
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      df.schema.fieldNames.toSeq shouldBe Seq("id", "name")
      df.as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b"), (3L, "c"))
      // versionAsOf time travel through the DataFrame reader
      spark.read.format("graft-manifest").option("path", dir)
        .option("versionAsOf", "1").load()
        .as[(Long, String)].collect().toSet shouldBe Set((1L, "a"), (2L, "b"))
      // column pruning reaches the scan: only the projected column is
      // in the physical read schema
      val pruned = df.select("name")
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      scan.output.map(_.name) shouldBe Seq("name")
      pruned.as[String].collect().toSet shouldBe Set("a", "b", "c")
      // count(*) survives pruning to zero columns
      df.count() shouldBe 3L
    }
  }

  test("a scan planned before a commit keeps reading its snapshot") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "pre")))
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      // plan the scan, THEN commit more data
      df.count() shouldBe 1L
      writeRows(dir, Seq((2L, "post")))
      // a NEW reader sees both; the file list is manifest-resolved at
      // planning, so fresh plans observe fresh snapshots
      spark.read.format("graft-manifest").option("path", dir).load()
        .count() shouldBe 2L
    }
  }

  test("streaming tail: each version's delta is one micro-batch") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      writeRows(dir, Seq((2L, "b")))
      writeRows(dir, Seq((3L, "c")), mode = "overwrite")
      // v2's delta over v1 is exactly job 2's files, not the union
      ManifestSink.deltaFiles(dir, 2L).map(_.rows).sum shouldBe 1L
      val sdf = spark.readStream.format("graft-manifest")
        .option("path", dir).option("max_versions_per_trigger", "1").load()
      val q = sdf.writeStream.format("memory").queryName("mtail")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      // adds from all three commits arrive exactly once (the overwrite
      // contributes its own files; no retraction, no re-emission)
      spark.table("mtail").as[(Long, String)].collect().toSet shouldBe
        Set((1L, "a"), (2L, "b"), (3L, "c"))
      // admission control: one version per trigger -> three data batches
      q.recentProgress.count(_.numInputRows > 0) shouldBe 3
      spark.catalog.dropTempView("mtail")
      ()
    }
  }

  test("streaming tail resumes from its checkpointed version") {
    withTempDir { dir =>
      withTempDir { cp =>
        val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        def drain(): Unit = {
          val q = spark.readStream.format("graft-manifest")
            .option("path", dir).load()
            .writeStream
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              seen.synchronized {
                seen ++= df.as[(Long, String)](
                  org.apache.spark.sql.Encoders.tuple(
                    org.apache.spark.sql.Encoders.scalaLong,
                    org.apache.spark.sql.Encoders.STRING)).collect()
              }
              ()
            }
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(60000)
          ()
        }
        writeRows(dir, Seq((1L, "one")))
        drain()
        seen.toSet shouldBe Set((1L, "one"))
        // commit more AFTER the first drain; the second run starts from
        // the checkpointed offset and emits ONLY the new version's delta
        writeRows(dir, Seq((2L, "two")))
        drain()
        seen.toSet shouldBe Set((1L, "one"), (2L, "two"))
        seen.size shouldBe 2 // nothing re-emitted
      }
    }
  }

  test("compact rewrites the snapshot smaller, content-identical") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      writeRows(dir, Seq((2L, "b")))
      writeRows(dir, Seq((3L, "c"))) // v3: 9 files (3 jobs x 3 partitions)
      ManifestSink.readManifest(spark, dir).count() shouldBe 9L
      val v = ManifestSink.compact(spark, dir, numFiles = 1)
      v shouldBe 4L
      // one file now carries all rows; content unchanged
      ManifestSink.readManifest(spark, dir).count() shouldBe 1L
      readBack(dir) shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
      // pre-compaction versions still time-travel (old files retained)
      readBack(dir, Some(3L)) shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
      readBack(dir, Some(1L)) shouldBe Set((1L, "a"))
      // and a vacuum afterwards drops the 9 small files
      val (_, deleted) = ManifestSink.expireVersions(dir, keepLast = 1)
      deleted shouldBe 9
      readBack(dir) shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
    }
  }

  test("compact aborts cleanly when a commit lands on its base") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      // an interloper claims v2 INSIDE the race window: the compaction
      // below is pinned to base=1 (as if it read latest just before)
      Files.write(
        Paths.get(dir, ManifestSink.LogDirName, "v0000000002.json"),
        ("""{"version":2,"schema":"id BIGINT,name STRING","files":[],""" +
          """"n_files":0,"n_rows":0}""").getBytes(StandardCharsets.UTF_8))
      val before = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.endsWith(".jsonl")).toSet
      intercept[java.util.ConcurrentModificationException] {
        ManifestSink.compactFrom(spark, dir, numFiles = 1, base = 1L)
      }
      // no staged garbage left behind; the interloper's snapshot wins
      new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.endsWith(".jsonl")).toSet shouldBe before
      ManifestSink.listVersions(dir) shouldBe Seq(1L, 2L)
    }
  }

  test("compact leaves no graft_compact_ scratch dir behind") {
    def scratchDirs(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .filter(_.startsWith("graft_compact_")).toSet
    withTempDir { dir =>
      val before = scratchDirs()
      writeRows(dir, Seq((1L, "a")))
      writeRows(dir, Seq((2L, "b")))
      ManifestSink.compact(spark, dir, numFiles = 1)
      // the aborted path (a stale base) cleans up too
      intercept[java.util.ConcurrentModificationException] {
        ManifestSink.compactFrom(spark, dir, numFiles = 1, base = 1L)
      }
      (scratchDirs() -- before) shouldBe empty
    }
  }

  test("zone-map stats prune files a filter provably cannot match") {
    withTempDir { dir =>
      // three append jobs with KNOWN disjoint id ranges -> 3 files
      // whose zone-map bounds are fully determined
      Seq(1L to 30L, 31L to 60L, 61L to 90L).foreach { r =>
        r.map(i => (i, s"n$i")).toDF("id", "name").repartition(1)
          .write.format("graft-manifest").option("path", dir)
          .mode("append").save()
      }
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      // full scan plans all 3 files
      df.count() shouldBe 90L
      ManifestSink.lastPlannedFiles.get shouldBe 3
      // a selective range filter plans ONLY the file whose [min,max]
      // overlaps — and the result is exactly right (filters are also
      // applied row-by-row as residuals)
      val hi = df.filter(col("id") > 85L)
      hi.as[(Long, String)].collect().toSet shouldBe
        (86L to 90L).map(i => (i, s"n$i")).toSet
      ManifestSink.lastPlannedFiles.get shouldBe 1
      // equality prunes to the single file whose range covers the key
      df.filter(col("id") === 1L).count() shouldBe 1L
      ManifestSink.lastPlannedFiles.get shouldBe 1
      // string-column range evidence prunes too (lexicographic bounds:
      // only file 1 holds names <= "n2"-ish territory... n1/n10..n30)
      df.filter(col("name") === "n1").count() shouldBe 1L
      ManifestSink.lastPlannedFiles.get shouldBe 1
      // a filter matching nothing plans zero files
      df.filter(col("id") > 1000L).count() shouldBe 0L
      ManifestSink.lastPlannedFiles.get shouldBe 0
    }
  }

  test("string stats order in UTF-8 binary, matching Spark's comparisons") {
    // Java String.compareTo orders UTF-16 code units, where the
    // surrogate range (supplementary chars, e.g. emoji U+1F600) sorts
    // BELOW [U+E000, U+FFFF]; Spark's UTF8String orders UTF-8 bytes,
    // where it sorts ABOVE. A comparator mismatched with the engine
    // would prune the emoji file for `name > ""` — silently
    // dropping rows that DO satisfy the filter.
    import org.apache.spark.sql.types.StringType
    ManifestSink.statCmp(StringType, "😀", "") should be > 0
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "😀")))
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      df.filter(col("name") > "").count() shouldBe 1L
      ManifestSink.lastPlannedFiles.get should be >= 1
    }
  }

  test("double stats treat -0.0 as 0.0, matching Spark's primitive ==") {
    import org.apache.spark.sql.types.DoubleType
    ManifestSink.statCmp(DoubleType, -0.0d, 0.0d) shouldBe 0
    withTempDir { dir =>
      // a file whose ONLY value is -0.0 must not be pruned for === 0.0
      Seq((1L, -0.0d)).toDF("id", "x").repartition(1)
        .write.format("graft-manifest").option("path", dir)
        .mode("append").save()
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      df.filter(col("x") === 0.0d).count() shouldBe 1L
    }
  }

  test("datasource options resolve case-insensitively (versionasof)") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      writeRows(dir, Seq((2L, "b")))
      // all-lowercase spelling must time-travel to v1, not silently
      // fall through to latest — Spark options are case-insensitive
      spark.read.format("graft-manifest").option("path", dir)
        .option("versionasof", "1").load()
        .as[(Long, String)].collect().toSet shouldBe Set((1L, "a"))
    }
  }

  test("a fresh stream over a vacuumed-prefix table drains without loss") {
    withTempDir { dir =>
      withTempDir { cp =>
        writeRows(dir, Seq((1L, "a")))
        writeRows(dir, Seq((2L, "b")))
        writeRows(dir, Seq((3L, "c")))
        ManifestSink.expireVersions(dir, keepLast = 1)
        ManifestSink.listVersions(dir) shouldBe Seq(3L)
        // a BRAND-NEW stream clamps its start to the oldest retained
        // version (initialOffset = 2), so its FIRST batch is v3's full
        // snapshot — the expired prefix is never planned, and nothing
        // is lost
        val q = spark.readStream.format("graft-manifest")
          .option("path", dir).load()
          .writeStream.format("memory").queryName("mvac")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        spark.table("mvac").as[(Long, String)].collect().toSet shouldBe
          Set((1L, "a"), (2L, "b"), (3L, "c"))
        spark.catalog.dropTempView("mvac")
        ()
      }
    }
  }

  test("a widened schema reads old files with NULLs; the feed pins " +
      "the schema it started with") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a"))) // v1: (id, name)
      Seq((2L, "b", 7L)).toDF("id", "name", "extra") // v2 widens
        .write.format("graft-manifest").option("path", dir)
        .mode("append").save()
      // SOUND RECORDED CONSTRAINTS: the widening APPEND unions v1's
      // file, whose rows have no `extra` — the committed DDL must
      // relax `extra` to nullable (the writer's NOT NULL would be
      // violated by the snapshot's own files), while `id`, NOT NULL
      // in BOTH the base and the writer schema, keeps its constraint
      val v2 = ManifestSink.schemaOf(dir, Some(2L))
      v2("extra").nullable shouldBe true
      v2("id").nullable shouldBe false
      // snapshot read of LATEST uses v2's recorded schema: v1's file
      // lacks `extra`, which must surface as NULL, not a crash
      val latest = ManifestSink.read(spark, dir)
        .as[(Long, String, Option[Long])].collect().toSet
      latest shouldBe Set((1L, "a", None), (2L, "b", Some(7L)))
      // a fresh feed resolves the widened schema and applies the same
      // missing-column-is-NULL rule to the old version's delta
      val sdf = spark.readStream.format("graft-manifest")
        .option("path", dir).load()
      sdf.schema.fieldNames.toSeq shouldBe Seq("id", "name", "extra")
      val q = sdf.writeStream.format("memory").queryName("mschema")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      spark.table("mschema").as[(Long, String, Option[Long])]
        .collect().toSet shouldBe
        Set((1L, "a", None), (2L, "b", Some(7L)))
      spark.catalog.dropTempView("mschema")
      ()
    }
  }

  test("compaction is data_change=false: the change feed skips it " +
      "instead of re-emitting the table") {
    withTempDir { dir =>
      withTempDir { cp =>
        val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        writeRows(dir, Seq((1L, "a")))
        writeRows(dir, Seq((2L, "b")))
        seen ++= ManifestFeedHarness.drain(spark, dir, cp)
        seen.size shouldBe 2
        // compaction rewrites both rows into one file — same content,
        // all-new file NAMES: a naive name-diff would re-emit the
        // whole table into the feed as freshly-appended rows
        ManifestSink.compact(spark, dir, numFiles = 1)
        ManifestSink.dataChangeOf(dir, 3L) shouldBe false
        ManifestSink.dataChangeOf(dir, 2L) shouldBe true
        ManifestSink.deltaFiles(dir, 3L) shouldBe empty
        seen ++= ManifestFeedHarness.drain(spark, dir, cp)
        seen.size shouldBe 2 // nothing re-emitted
        // and the feed keeps working past the compaction: the next
        // append's delta is exactly its own rows
        writeRows(dir, Seq((3L, "c")))
        seen ++= ManifestFeedHarness.drain(spark, dir, cp)
        seen.size shouldBe 3
        seen.toSet shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
        // snapshot readers are unaffected by the flag, and the
        // compaction re-persists the base's FAITHFUL recorded DDL
        readBack(dir) shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
        ManifestSink.schemaOf(dir, Some(3L)).toDDL shouldBe
          ManifestSink.schemaOf(dir, Some(2L)).toDDL
      }
    }
  }

  test("a RESUMED stream whose range was vacuumed fails loudly, not " +
      "silently") {
    withTempDir { dir =>
      withTempDir { cp =>
        def drain(): Unit = {
          val q = spark.readStream.format("graft-manifest")
            .option("path", dir).load()
            .writeStream.format("noop")
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(60000)
          ()
        }
        writeRows(dir, Seq((1L, "a")))
        drain() // checkpoint now at version 1
        writeRows(dir, Seq((2L, "b")))
        writeRows(dir, Seq((3L, "c")))
        ManifestSink.expireVersions(dir, keepLast = 1) // drops v1, v2
        ManifestSink.listVersions(dir) shouldBe Seq(3L)
        // the resumed stream needs v2's delta (its checkpoint is below
        // it) but v2's manifest is gone: a live stream would have
        // delivered v2's rows, so skipping would be silent loss and
        // re-emitting v3's snapshot silent duplication — the ONLY
        // honest outcome is a descriptive failure
        val ex = intercept[org.apache.spark.sql.streaming
            .StreamingQueryException] { drain() }
        val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
        msgs should include("vacuum")
      }
    }
  }

  test("a planned-but-uncommitted FIRST batch replays the initial " +
      "snapshot exactly once on restart") {
    // The snapshot grant is keyed to the stream instance's own
    // initialOffset() (ManifestMicroBatchStream.freshStartOffset). That
    // leans on an implicit MicroBatchExecution contract: when batch 0
    // was planned (offset log written) but never committed, the restart
    // resolves the batch's START as committedOffsets.getOrElse(
    // initialOffset()) — i.e. Spark re-calls initialOffset() on the NEW
    // instance, which re-grants the snapshot exemption. This pins that
    // contract end-to-end: if Spark ever resolved the start another
    // way, the replay over a vacuumed prefix would throw the loud
    // vacuum error (still no data loss) and this test would catch the
    // behavior change.
    withTempDir { dir =>
      withTempDir { cp =>
        writeRows(dir, Seq((1L, "a")))
        writeRows(dir, Seq((2L, "b")))
        ManifestSink.expireVersions(dir, keepLast = 1)
        ManifestSink.listVersions(dir) shouldBe Seq(2L)
        // run once to completion so Spark writes a real offsets/0 for
        // the snapshot batch (start = initialOffset = 1, end = 2)
        ManifestFeedHarness.drain(spark, dir, cp)
          .toSet shouldBe Set((1L, "a"), (2L, "b"))
        // crash simulation — keep offsets/0, drop every commit and any
        // later offset entry: the exact on-disk state of a stream that
        // died after durably planning its first batch but before
        // committing it. The local checksum FS keeps `.N.crc` sidecars
        // next to each log entry; those must go with their entries or
        // the replayed commit's rename collides on the stale sidecar.
        def batchNum(f: java.io.File): Option[Long] = {
          val n = f.getName
          val core = if (n.startsWith(".") && n.endsWith(".crc"))
            n.stripPrefix(".").stripSuffix(".crc") else n
          if (core.nonEmpty && core.forall(_.isDigit)) Some(core.toLong)
          else None
        }
        Option(new java.io.File(cp, "commits").listFiles())
          .foreach(_.foreach(f => batchNum(f).foreach(_ => f.delete())))
        Option(new java.io.File(cp, "offsets").listFiles())
          .foreach(_.foreach(f =>
            batchNum(f).foreach(b => if (b > 0L) f.delete())))
        // restart on the same checkpoint: batch 0 replays, the fresh
        // instance re-grants the snapshot, rows arrive EXACTLY once
        val replay = ManifestFeedHarness.drain(spark, dir, cp)
        replay.sorted shouldBe Seq((1L, "a"), (2L, "b"))
        // and the now-committed checkpoint replays nothing further
        ManifestFeedHarness.drain(spark, dir, cp) shouldBe empty
      }
    }
  }

  test("a fresh stream racing vacuum gets the stream-start diagnostic, " +
      "not the checkpointed-below-it one") {
    // Unit-drives the package-private stream to make the race
    // deterministic: vacuum advances past the planned snapshot version
    // BETWEEN initialOffset() and first-batch planning. No checkpoint
    // exists, so the error must say so (the checkpointed-below-it text
    // would send the operator hunting a checkpoint that isn't there).
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a")))
      writeRows(dir, Seq((2L, "b")))
      writeRows(dir, Seq((3L, "c")))
      ManifestSink.expireVersions(dir, keepLast = 2) // oldest retained = 2
      val stream = new ManifestMicroBatchStream(dir,
        ManifestSink.readSchemaOf(dir), maxVersionsPerTrigger = 0)
      val start = stream.initialOffset() // fresh tail from below v2
      ManifestSink.expireVersions(dir, keepLast = 1) // the race: drops v2
      val ex = intercept[IllegalStateException] {
        stream.planInputPartitions(start, ManifestVersionOffset(3L))
      }
      ex.getMessage should include(
        "between stream start and first-batch planning")
    }
  }

  test("zone-map planning stays O(matching files) at 100-file scale") {
    withTempDir { dir =>
      // one job, 100 range-partitioned files over ids 0..999 — each
      // file's zone map covers a narrow contiguous slice
      (0L until 1000L).map(i => (i, s"n$i")).toDF("id", "name")
        .repartitionByRange(100, col("id"))
        .write.format("graft-manifest").option("path", dir)
        .mode("append").save()
      val manifest = ManifestSink.readManifest(spark, dir)
        .as[(String, Long, Long)].collect()
      manifest.length shouldBe 100
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      // a point lookup plans exactly the files whose [min,max] cover
      // the key (one, by range disjointness) plus any stat-less empty
      // files (conservatively kept) — the negative control for the
      // O(#files-planned) claim: 100 committed, ~1 scanned
      val emptyFiles = manifest.count(_._2 == 0L)
      df.filter(col("id") === 999L).count() shouldBe 1L
      ManifestSink.lastPlannedFiles.get shouldBe (1 + emptyFiles)
      ManifestSink.lastPlannedFiles.get should be <= 3
      // and a no-match filter plans only the stat-less residue
      df.filter(col("id") > 100000L).count() shouldBe 0L
      ManifestSink.lastPlannedFiles.get shouldBe emptyFiles
    }
  }

  test("files without stats are never pruned (conservative skipping)") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a"), (2L, "b")))
      // strip the stats from the committed manifest, as a pre-stats
      // manifest (or an all-null column) would look
      val log = Paths.get(dir, ManifestSink.LogDirName, "v0000000001.json")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(log.toFile)
      root.get("files").forEach {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          o.remove("stats"); ()
        case _ => ()
      }
      Files.write(log, om.writeValueAsBytes(root))
      val df = spark.read.format("graft-manifest").option("path", dir).load()
      df.filter(col("id") > 1000L).count() shouldBe 0L
      // nothing provable -> every committed file still scanned
      ManifestSink.lastPlannedFiles.get shouldBe 3
    }
  }

  test("orphan files from lost attempts are invisible to readers") {
    withTempDir { dir =>
      writeRows(dir, Seq((1L, "a"), (2L, "b")))
      // simulate a speculative attempt whose task never committed:
      // its file exists in the directory but not in the manifest
      Files.write(Paths.get(dir, "part-deadbeef-00099-12345.jsonl"),
        "{\"id\":999,\"name\":\"ghost\"}\n".getBytes)
      readBack(dir) shouldBe Set((1L, "a"), (2L, "b")) // visibility IS the manifest
    }
  }

  test("unsupported column types fail loudly, not by corrupt output") {
    withTempDir { dir =>
      val err = intercept[Exception] {
        Seq((1L, Seq("x"))).toDF("id", "arr")
          .write.format("graft-manifest").option("path", dir)
          .mode("append").save()
      }
      // the UnsupportedOperationException may arrive wrapped in a task
      // failure — walk the cause chain for the declared-scope message
      val msgs = Iterator.iterate(err: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      msgs should include("primitive")
    }
  }

  test("empty partitions still commit, keeping file accounting total") {
    withTempDir { dir =>
      // 1 row over 3 partitions: two partitions are empty
      Seq((7L, "only")).toDF("id", "name").repartition(3)
        .write.format("graft-manifest").option("path", dir)
        .mode("append").save()
      val m = ManifestSink.readManifest(spark, dir)
        .as[(String, Long, Long)].collect()
      m.length shouldBe 3
      m.map(_._2).sum shouldBe 1L
    }
  }
}
