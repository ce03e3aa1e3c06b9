package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the round-3 operators (winnowing fingerprints, Levenshtein
  * near-dup, connected components, exact moments, tf-idf) on crafted
  * fixtures small enough to reason about by hand. The oracle harness
  * checks engine parity; these pin the intended MEANING.
  */
class NewOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q39 winnowing: window count and fingerprint bounds per doc") {
    withTempDir { dir =>
      // 10 tokens -> 7 4-grams -> 4 full 4-hash windows; 5 tokens -> 2
      // 4-grams -> 0 full windows (doc absent from output)
      writeDocs(dir, Seq(
        1L -> "a b c d e f g h i j",
        2L -> "a b c d e"))
      val out = TextQueries.q39WinnowFp.fn(spark, dir)
        .select("doc_id", "n_windows", "n_fp", "fp_min", "fp_max")
        .as[(Long, Long, Long, Long, Long)].collect().toList
      out.map(_._1) shouldBe List(1L)
      val (_, nWin, nFp, fpMin, fpMax) = out.head
      nWin shouldBe 4L
      nFp should be >= 1L
      nFp should be <= 4L
      fpMin should be <= fpMax
    }
  }

  test("q39 winnowing: identical docs get identical fingerprint summaries") {
    withTempDir { dir =>
      val text = "the quick brown fox jumps over the lazy dog again and again"
      writeDocs(dir, Seq(1L -> text, 2L -> text))
      val rows = TextQueries.q39WinnowFp.fn(spark, dir)
        .select("n_windows", "n_fp", "fp_min", "fp_max")
        .as[(Long, Long, Long, Long)].collect().toList
      rows.distinct.size shouldBe 1
    }
  }

  test("q42 edit distance: near-identical docs pair, far docs don't") {
    withTempDir { dir =>
      writeDocs(dir, Seq(
        1L -> "alpha beta gamma delta epsilon zeta",
        2L -> "alpha beta gamma delta epsilon zeta eta",   // dist 4
        3L -> ("alpha beta gamma " + ("x" * 60)),            // same block, far
        4L -> "other prefix here whatever"))               // different block
      val pairs = TextQueries.q42EditDistance.fn(spark, dir)
        .select("d1", "d2", "dist").as[(Long, Long, Long)].collect().toList
      pairs.map(p => (p._1, p._2)) shouldBe List((1L, 2L))
      pairs.head._3 shouldBe 4L
    }
  }

  test("q43 connected components: chains collapse to the min doc_id") {
    withTempDir { dir =>
      // 1=2 exactly (fingerprint edge); 2~3 within lev 40 (chain 1-2-3);
      // 10~11 a separate pair; 20 isolated (absent from output)
      writeDocs(dir, Seq(
        1L -> "p q r s t u v w",
        2L -> "p q r s t u v w",
        3L -> "p q r s t u v w x y",
        10L -> "m n o p q r s",
        11L -> "m n o p q r s z",
        20L -> "lonely document entirely elsewhere"))
      val comp = DedupQueries.q43DedupComponents.fn(spark, dir)
        .as[(Long, Long)].collect().toMap
      comp shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    }
  }

  test("q41 moments agree with var_pop/covar_pop on integral data") {
    withTempDir { dir =>
      val rows = Seq(
        ("A", 1.0, 100.00), ("A", 2.0, 150.50), ("A", 3.0, 99.25),
        ("B", 5.0, 10.00), ("B", 7.0, 30.00))
      rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = RelationalQueries.q41Moments.fn(spark, dir)
        .select("l_returnflag", "var_price", "covar_qty_price")
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val exp = rows.toDF("f", "x", "y")
        .groupBy("f").agg(var_pop(col("y")), covar_pop(col("x"), col("y")))
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      for (f <- Seq("A", "B")) {
        got(f)._1 shouldBe exp(f)._1 +- 1e-9
        got(f)._2 shouldBe exp(f)._2 +- 1e-9
      }
    }
  }

  test("q45 tf-idf: a repeated unique token dominates its document") {
    withTempDir { dir =>
      writeDocs(dir, Seq(
        1L -> "common words here plus zebra zebra zebra",
        2L -> "common words here plus nothing else",
        3L -> "common words here plus more common words"))
      val top1 = TextQueries.q45TfidfTopk.fn(spark, dir)
        .filter(col("doc_id") === 1 && col("rank") === 1)
        .select("tok").as[String].collect().toList
      top1 shouldBe List("zebra")
    }
  }

  test("q62 packing: bins conserve tokens and docs per language") {
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q62PackSequences.fn(spark, dir)
      .select("lang", "bin", "n_docs", "bin_tokens")
      .as[(String, Long, Long, Long)].collect()
    out should not be empty
    val totals = graft.engine.Tables.load(spark, dir, "documents")
      .selectExpr("lang", "coalesce(size(split(text, ' ')), 0) AS n")
      .groupBy("lang")
      .agg(sum(col("n")).as("t"), count(lit(1)).as("nd"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      withClue(s"$lang: ") {
        rows.map(_._4).sum shouldBe totals(lang)._1 // every token binned once
        rows.map(_._3).sum shouldBe totals(lang)._2 // every doc binned once
        val bins = rows.map(_._2).sorted
        bins.head shouldBe 0L                       // packing starts at window 0
        bins.distinct.length shouldBe bins.length   // one row per window
      }
    }
  }

  test("q67 repetition: degenerate doc flagged, diverse doc not") {
    withTempDir { dir =>
      // doc 1: "x y" * 15 -> 30 tokens, 2 distinct, top bigram "x y" 15/29
      // doc 2: 25 distinct tokens -> dup 0, top bigram 1/24 ~ 0.042 < 0.06
      // doc 3: 10 distinct tokens -> top bigram 1/9 ~ 0.11 EXCEEDS the
      //   ratio threshold, but top_c = 1 (nothing repeats) -> not flagged
      writeDocs(dir, Seq(
        1L -> Seq.fill(15)("x y").mkString(" "),
        2L -> (1 to 25).map(i => s"t$i").mkString(" "),
        3L -> (1 to 10).map(i => s"u$i").mkString(" ")))
      val out = TextQueries.q67Repetition.fn(spark, dir)
        .select("doc_id", "n_toks", "dup_uni_frac", "top_bigram_frac",
          "repetitious")
        .as[(Long, Long, Double, Double, Boolean)].collect()
        .map(r => r._1 -> r).toMap
      val (_, n1, dup1, bi1, flag1) = out(1L)
      n1 shouldBe 30L
      dup1 shouldBe 28.0 / 30.0
      bi1 shouldBe 15.0 / 29.0
      flag1 shouldBe true
      val (_, n2, dup2, bi2, flag2) = out(2L)
      n2 shouldBe 25L
      dup2 shouldBe 0.0
      bi2 shouldBe 1.0 / 24.0
      flag2 shouldBe false
      // short diverse doc: ratio exceeds 0.06 by length alone, but no
      // bigram repeats, so the flag must stay false
      val (_, n3, dup3, bi3, flag3) = out(3L)
      n3 shouldBe 10L
      dup3 shouldBe 0.0
      bi3 shouldBe 1.0 / 9.0
      flag3 shouldBe false
    }
  }

  test("q68 rebalance: over-represented lang downsampled to the budget rule") {
    withTempDir { dir =>
      // lang a: 8 docs, lang b: 2 docs -> budget = 10 div 2 = 5;
      // b is under budget (fully kept), a keeps docs with bucket*8 < 5M
      val docs = (1 to 8).map(i => (i.toLong, s"alpha doc number $i", "a")) ++
        Seq((9L, "beta one", "b"), (10L, "beta two", "b"))
      docs.toDF("doc_id", "text", "lang")
        .withColumn("source", lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextQueries.q68MixtureRebalance.fn(spark, dir)
        .select("lang", "n_total", "target_docs", "n_kept")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      out("b") shouldBe ("b", 2L, 5L, 2L) // under budget: everything kept
      val (_, nA, tA, keptA) = out("a")
      nA shouldBe 8L
      tA shouldBe 5L
      // the keep rule, recomputed independently over the same fixture
      val expectA = docs.filter(_._3 == "a").map(_._2)
        .count(t => (md5Bucket(t) % 1000000L) * 8L < 5L * 1000000L)
      keptA shouldBe expectA.toLong
    }
  }

  /** First 32 md5 bits as a long — the JVM mirror of Text.hash32. */
  private def md5Bucket(t: String): Long =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).take(4)
      .foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))

  test("q70 split leakage: cells match driver-recomputed splits over known pairs") {
    withTempDir { dir =>
      // docs 1-3 share the 3-token block prefix, pairwise within
      // lev <= 40 -> lev pairs (1,2),(1,3),(2,3); docs 9/10 differ only
      // by CASE in the first token: different raw bytes (so q48 may split
      // them apart) and different lev blocks (so the lev relation misses
      // them) but equal normalized fingerprints -> the exact-pair leg of
      // the audited relation must count (9,10)
      val texts = Map(
        1L -> "common block prefix alpha beta gamma delta",
        2L -> "common block prefix alpha beta gamma epsilon",
        3L -> "common block prefix alpha beta zeta delta",
        9L -> "totally different block with other words",
        10L -> "Totally different block with other words")
      writeDocs(dir, texts.toSeq)
      def split(t: String): String = {
        val b = md5Bucket(t) % 100L
        if (b < 80) "train" else if (b < 90) "val" else "test"
      }
      val expected = Seq((1L, 2L), (1L, 3L), (2L, 3L), (9L, 10L))
        .map { case (a, b) =>
          val (s1, s2) = (split(texts(a)), split(texts(b)))
          (if (s1 <= s2) s1 else s2, if (s1 <= s2) s2 else s1)
        }
        .groupBy(identity).map { case (k, v) =>
          (k._1, k._2, v.size.toLong, k._1 != k._2)
        }.toSet
      val got = TextQueries.q70SplitLeakage.fn(spark, dir)
        .as[(String, String, Long, Boolean)].collect().toSet
      got shouldBe expected
    }
  }

  test("q71 int8 quantization: hand-computed codes, zero-vector guard") {
    withTempDir { dir =>
      // scale = 1/127; 1.0 -> 127, -1.0 -> -127, 0.5 -> floor(63.5) = 63
      // (fl(1.0/fl(1.0/127.0)) is exactly 127.0 in IEEE doubles)
      Seq((1L, Seq(1.0f, -1.0f, 0.5f), 0), (2L, Seq(0.0f, 0.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = SimilarityQueries.q71Int8Quant.fn(spark, dir)
        .select("vec_id", "maxabs", "q_min", "q_max", "q_sum", "n_sat")
        .as[(Long, Double, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      // n_sat = 2: +-127 are both full scale (symmetric saturation)
      out(1L) shouldBe (1L, 1.0, -127L, 127L, 63L, 2L)
      out(2L) shouldBe (2L, 0.0, 0L, 0L, 0L, 0L)
    }
  }

  test("q72 funnel: stages shrink monotonically and splits partition the kept set") {
    val out = TextQueries.q72CorpusFunnel.fn(spark, "/root/testdata/sf0.001")
      .select("lang", "n_total", "n_len_ok", "n_clean", "n_kept",
        "n_train", "n_val", "n_test")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    out should not be empty
    out.foreach { case (lang, total, lenOk, clean, kept, tr, va, te) =>
      withClue(s"$lang: ") {
        total should be >= lenOk
        lenOk should be >= clean
        clean should be >= kept
        tr + va + te shouldBe kept // every kept doc lands in exactly one split
      }
    }
  }

  test("q73 salted two-phase agg equals the plain groupBy") {
    val dir = "/root/testdata/sf0.001"
    val salted = EventQueries.q73SaltedAgg.fn(spark, dir)
      .as[(String, Long, Double)].collect().toList
    val plain = graft.engine.Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double")
          .as("v"))
      .orderBy("event_type")
      .as[(String, Long, Double)].collect().toList
    salted shouldBe plain
  }

  test("q74 gaps: every user contributes exactly (events - 1) gaps") {
    val dir = "/root/testdata/sf0.001"
    val nGaps = EventQueries.q74EventGaps.fn(spark, dir)
      .agg(sum(col("n_gaps"))).as[Long].collect().head
    val ev = graft.engine.Tables.load(spark, dir, "events")
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    nGaps shouldBe nEvents - nUsers
  }

  test("component labels materialize once and serve q59 AND q72") {
    val dir = "/root/testdata/sf0.001"
    val before = DedupQueries.labelComputeCount.get
    val table = DedupQueries.componentLabelTable(spark, dir)
    val mid = DedupQueries.labelComputeCount.get
    // first call for this (JVM, dir) computes and lands the table; any
    // later call — including one from an earlier test — reads parquet
    (mid - before) should be <= 1
    // both production consumers run WITHOUT another clustering compute
    DedupQueries.q59DedupMaterialize.fn(spark, dir).collect()
    TextQueries.q72CorpusFunnel.fn(spark, dir).collect()
    DedupQueries.componentLabelTable(spark, dir)
    DedupQueries.labelComputeCount.get shouldBe mid
    // and the landed table IS the from-scratch clustering
    val mat = table.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = DedupQueries.componentLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mat shouldBe direct
    // a fixture rewritten IN PLACE recomputes: the cache key carries the
    // documents file signature, not the dir alone
    withTempDir { tmp =>
      val docs = graft.engine.Tables.load(spark, dir, "documents")
      def labels() = DedupQueries.componentLabelTable(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      docs.write.parquet(s"$tmp/documents.parquet")
      val c0 = DedupQueries.labelComputeCount.get
      labels() shouldBe direct
      labels()
      DedupQueries.labelComputeCount.get shouldBe c0 + 1
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      labels() shouldBe DedupQueries.componentLabels(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      DedupQueries.labelComputeCount.get shouldBe c0 + 2
    }
  }

  test("doc shingle table materializes once and serves the dedup family") {
    val dir = "/root/testdata/sf0.001"
    val before = DedupQueries.shingleComputeCount.get
    val table = DedupQueries.docShingleTable(spark, dir)
    val mid = DedupQueries.shingleComputeCount.get
    // first call for this (JVM, dir) computes and lands the table; any
    // later call — including one from an earlier test — reads parquet
    (mid - before) should be <= 1
    // consumers across the family run WITHOUT another tokenize pass
    DedupQueries.q24MinhashLsh.fn(spark, dir).collect()
    DedupQueries.q81SourceOverlap.fn(spark, dir).collect()
    DedupQueries.q153MinhashNative.fn(spark, dir).collect()
    DedupQueries.shingleComputeCount.get shouldBe mid
    // and the landed table IS the from-scratch shingle projection
    val mat = table.select(col("doc_id"), explode(col("sh")).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = graft.engine.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        graft.engine.ext.Text.shingles(
          graft.engine.ext.Text.tokens(col("text")), 3))).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    mat shouldBe direct
  }

  test("blocked pair table materializes once and serves the " +
      "rare-shingle candidate family") {
    val dir = "/root/testdata/sf0.001"
    val before = DedupQueries.blockedPairComputeCount.get
    val table = DedupQueries.blockedPairTable(spark, dir)
    val mid = DedupQueries.blockedPairComputeCount.get
    (mid - before) should be <= 1
    // the six consumers score no candidate pair of their own
    Seq(DedupQueries.q25JaccardBlocked, DedupQueries.q171ContainmentJoin,
      DedupQueries.q172SourceDupMatrix, DedupQueries.q228ThresholdCurve,
      DedupQueries.q234DedupTransitivity, DedupQueries.q242MinhashAccuracy)
      .foreach(_.fn(spark, dir).collect())
    DedupQueries.blockedPairComputeCount.get shouldBe mid
    // and the landed table IS the from-scratch candidate scoring: every
    // d1 < d2 pair sharing a shingle of document frequency 2..5, with
    // its exact set Jaccard
    val mat = table.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh: Map[Long, Set[String]] = graft.engine.Tables
      .load(spark, dir, "documents")
      .select(col("doc_id"), graft.engine.ext.Text.shingles(
        graft.engine.ext.Text.tokens(col("text")), 3))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[String](1)).fold(Set.empty[String])(_.toSet)).toMap
    val postings = sh.toSeq.flatMap { case (d, ss) => ss.map(_ -> d) }
      .groupBy(_._1).values.map(_.map(_._2))
      .filter(ds => ds.size >= 2 && ds.size <= 5)
    val direct = (for (ds <- postings; a <- ds; b <- ds if a < b)
        yield (a, b)).toSet[(Long, Long)]
      .map { case (a, b) =>
        (a, b, (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size)
      }
    direct should not be empty
    mat shouldBe direct
  }

  test("Levenshtein pair table materializes once and serves the " +
      "edit-distance family") {
    val dir = "/root/testdata/sf0.001"
    val before = DedupQueries.levPairComputeCount.get
    val table = DedupQueries.levPairTable(spark, dir)
    val mid = DedupQueries.levPairComputeCount.get
    (mid - before) should be <= 1
    // q42 (the relation itself), q60 (admission), q69 (star clustering
    // over the dup edge set) all consume the landed table — no second
    // blocked Levenshtein join runs
    TextQueries.q42EditDistance.fn(spark, dir).collect()
    DedupQueries.q60IncrementalDedup.fn(spark, dir).collect()
    DedupQueries.q69ComponentsStar.fn(spark, dir).collect()
    DedupQueries.levPairComputeCount.get shouldBe mid
    // and the landed relation IS the from-scratch blocked join
    val mat = table.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.engine.ext.Text.levNearDupPairs(
        graft.engine.Tables.load(spark, dir, "documents"),
        "doc_id", "text", blockTokens = 3, maxDist = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    mat shouldBe direct
  }

  test("prefix shingle table (K=5) materializes once and serves q102") {
    val dir = "/root/testdata/sf0.001"
    val before = DedupQueries.prefixShingleComputeCount.get
    val table = DedupQueries.docPrefixShingleTable(spark, dir)
    val mid = DedupQueries.prefixShingleComputeCount.get
    // first call for this (JVM, dir) computes and lands; later calls scan
    (mid - before) should be <= 1
    // the production consumer runs WITHOUT another tokenize pass
    DedupQueries.q102PrefixJoin.fn(spark, dir).collect()
    DedupQueries.prefixShingleComputeCount.get shouldBe mid
    // and the landed table IS the from-scratch K=5 shingle projection
    val mat = table.select(col("doc_id"), explode(col("sh")).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = graft.engine.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        graft.engine.ext.Text.shingles(
          graft.engine.ext.Text.tokens(col("text")), 5))).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    mat shouldBe direct
  }

  test("repetition table materializes once and serves q67 and q72") {
    val dir = "/root/testdata/sf0.001"
    val before = TextQueries.repetitionComputeCount.get
    val table = TextQueries.repetitionTable(spark, dir)
    val mid = TextQueries.repetitionComputeCount.get
    (mid - before) should be <= 1
    // BOTH production consumers run without another tokenize pass
    TextQueries.q67Repetition.fn(spark, dir).collect()
    TextQueries.q72CorpusFunnel.fn(spark, dir).collect()
    TextQueries.repetitionComputeCount.get shouldBe mid
    // the landed table IS the from-scratch projection (NULL-text rows
    // included, metrics NULL), and q67's n_toks filter is exactly the
    // dropNullText=true scan contract
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4)))).toSet
    rows(table) shouldBe
      rows(TextQueries.repetitionPerDoc(spark, dir, dropNullText = false))
    rows(table.filter(col("n_toks").isNotNull)) shouldBe
      rows(TextQueries.repetitionPerDoc(spark, dir, dropNullText = true))
  }

  test("single-data-file precondition trips on a multi-file staging") {
    withTempDir { dir =>
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "part-0.parquet"))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "part-1.parquet"))
      an[IllegalStateException] should be thrownBy
        EventQueries.requireSingleDataFile(dir)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(dir, "part-1.parquet"))
      noException should be thrownBy EventQueries.requireSingleDataFile(dir)
    }
  }

  test("q72 funnel: NULL-text doc counts in n_total and fails every gate") {
    withTempDir { dir =>
      writeDocs(dir, Seq(1L -> "short doc here",
        2L -> null.asInstanceOf[String]))
      val row = TextQueries.q72CorpusFunnel.fn(spark, dir)
        .select("n_total", "n_len_ok", "n_kept")
        .as[(Long, Long, Long)].collect().head
      row shouldBe ((2L, 0L, 0L)) // both counted; both below the floor
    }
  }

  private def writeDocsSrc(dir: String,
      docs: Seq[(Long, String, String)]): Unit =
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q79 semantic dedup: intra-cluster near-dups drop, cross-cluster don't") {
    withTempDir { dir =>
      // label-0 centroid [1,0,0]; label-1 centroid [0,.5,.5].
      // v0,v1 assign to cluster 0 and are identical (cos 1 >= .35) ->
      // v1 drops; v2,v3 assign to cluster 1 with cos 0 -> both kept.
      Seq((0L, Seq(1.0f, 0.0f, 0.0f), 0),
          (1L, Seq(1.0f, 0.0f, 0.0f), 0),
          (2L, Seq(0.0f, 1.0f, 0.0f), 1),
          (3L, Seq(0.0f, 0.0f, 1.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = SimilarityQueries.q79SemanticDedup.fn(spark, dir)
        .select("cluster", "n_vecs", "n_dropped", "n_kept")
        .as[(Int, Long, Long, Long)].collect().toList
      out shouldBe List((0, 2L, 1L, 1L), (1, 2L, 0L, 2L))
    }
  }

  test("q80 cohort retention: offsets bounded by cohort size; cohorts partition users") {
    val dir = "/root/testdata/sf0.001"
    val rows = EventQueries.q80CohortRetention.fn(spark, dir)
      .select("cohort_day", "day_offset", "n_users")
      .as[(String, Int, Long)].collect().toList
    rows should not be empty
    val size0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    rows.foreach { case (cohort, off, n) =>
      withClue(s"$cohort@$off: ") {
        off should be >= 0
        n should be <= size0(cohort) // active subset of the cohort
      }
    }
    val nUsers = graft.engine.Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    size0.values.sum shouldBe nUsers // every user is in exactly one cohort
  }

  test("q81 source overlap: shared-trigram pairs only, hand-counted jaccard") {
    withTempDir { dir =>
      // A and B share exactly the trigram "b c d"; C shares nothing
      writeDocsSrc(dir, Seq(
        (1L, "a b c d", "A"),
        (2L, "b c d e", "B"),
        (3L, "x y z w", "C")))
      val out = DedupQueries.q81SourceOverlap.fn(spark, dir)
        .select("src_a", "src_b", "n_a", "n_b", "n_shared", "jaccard")
        .as[(String, String, Long, Long, Long, Double)].collect().toList
      out shouldBe List(("A", "B", 2L, 2L, 1L, 1.0 / 3.0))
    }
  }

  test("q82 token budget: keeps the best-scored prefix that fits") {
    withTempDir { dir =>
      // five 500-token docs in one source, quality strictly increasing
      // with doc_id (stopword count = doc_id): budget 2000 keeps the top
      // FOUR scores (ids 5,4,3,2), 2000 tokens exactly
      val docs = (1 to 5).map { i =>
        val toks = Seq.fill(i)("the") ++ Seq.fill(500 - i)("w")
        (i.toLong, toks.mkString(" "), "s")
      }
      writeDocsSrc(dir, docs)
      val (nDocs, nToks, cutoff) = TextQueries.q82TokenBudget.fn(spark, dir)
        .select("n_docs_kept", "n_tokens_kept", "cutoff_score")
        .as[(Long, Long, Double)].collect().head
      nDocs shouldBe 4L
      nToks shouldBe 2000L
      // the cutoff is the 4th-highest q21 score — selection and scoring
      // are the same single-sourced expression
      val q21Scores = TextQueries.q21QualityScore.fn(spark, dir)
        .select("score").as[Double].collect().sorted(Ordering[Double].reverse)
      cutoff shouldBe q21Scores(3)
    }
  }

  test("q84 foreachBatch upsert: merge crosses batches, equals batch latest-per-user") {
    val dir = "/root/testdata/sf0.001"
    val (state, dataBatches) = EventQueries.runQ84(spark, dir)
    // the out-of-order staging must actually feed MULTIPLE micro-batches
    // — one batch would never exercise the merge-into-existing-state path
    dataBatches should be >= 2L
    val got = state.as[(Long, Long, String, Double)].collect().toList
    val expected = graft.engine.Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"), col("value"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts_us").desc)))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("user_id")
      .as[(Long, Long, String, Double)].collect().toList
    got shouldBe expected
  }

  /** Crafted events fixture: `ts` is written as BIGINT nanoseconds,
    * exactly what the ns-fixture arrives as under `nanosAsLong`.
    */
  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, Long, String, Double)]): Unit =
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("q85 moving average: RANGE frame skips absent hours") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L // one hour in ns
      // type "a": hours 0,1,2,3 then a gap to hour 10
      writeEvents(dir, Seq(
        (1L, 1L, 0 * h, "a", 1.0),
        (2L, 1L, 1 * h, "a", 1.0),
        (3L, 1L, 2 * h, "a", 1.0),
        (4L, 1L, 3 * h, "a", 1.0),
        (5L, 1L, 10 * h, "a", 1.0)))
      val out = EventQueries.q85MovingAverage.fn(spark, dir)
        .select("hour_us", "w_events", "w_hours", "w_avg")
        .as[(Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        (0L, 1L, 1L, 1.0),
        (3600000000L, 2L, 2L, 1.0),
        (7200000000L, 3L, 3L, 1.0),
        (10800000000L, 3L, 3L, 1.0),        // hours 1-3 in range
        (36000000000L, 1L, 1L, 1.0))        // hour 10: nothing trails
    }
  }

  test("q86 funnel: stages require strict view -> click -> purchase order") {
    withTempDir { dir =>
      val m = 60L * 1000000000L // one minute in ns
      writeEvents(dir, Seq(
        // u1: full ordered funnel in one session
        (1L, 1L, 0 * m, "view", 1.0),
        (2L, 1L, 1 * m, "click", 1.0),
        (3L, 1L, 2 * m, "purchase", 1.0),
        // u2: click BEFORE the first view -> view stage only
        (4L, 2L, 0 * m, "click", 1.0),
        (5L, 2L, 1 * m, "view", 1.0),
        (6L, 2L, 2 * m, "purchase", 1.0), // no qualifying click first
        // u3: view only
        (7L, 3L, 0 * m, "view", 1.0),
        // u4: TWO sessions (>30 min apart): view-only, then view+click
        (8L, 4L, 0 * m, "view", 1.0),
        (9L, 4L, 120 * m, "view", 1.0),
        (10L, 4L, 121 * m, "click", 1.0)))
      val row = EventQueries.q86SessionFunnel.fn(spark, dir)
        .select("n_sessions", "n_view", "n_view_click",
          "n_view_click_purchase", "conversion")
        .as[(Long, Long, Long, Long, Double)].collect().head
      row shouldBe ((5L, 5L, 2L, 1L, 0.2))
    }
  }

  test("q87 snapshot diff: every CDC status classified from one fixture") {
    withTempDir { dir =>
      // key 1: both versions, untouched -> unchanged; key 3: %3=0 ->
      // updated; key 7: %7=0 leaves v2 -> deleted; key 10: %10=0 never
      // enters v1 -> inserted
      Seq((1L, 0, 10.0), (3L, 0, 10.0), (7L, 0, 10.0), (10L, 0, 10.0))
        .toDF("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("c_name", lit("n")).withColumn("c_mktsegment", lit("m"))
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val out = RelationalQueries.q87SnapshotDiff.fn(spark, dir)
        .select("nation", "status", "n_rows")
        .as[(Int, String, Long)].collect().toList
      out shouldBe List((0, "deleted", 1L), (0, "inserted", 1L),
        (0, "unchanged", 1L), (0, "updated", 1L))
    }
  }

  test("q88 chunking: 200 chars -> 3 chunks at stride 90, width 120") {
    withTempDir { dir =>
      val text = ("abcdefghij" * 20).take(200)
      writeDocs(dir, Seq(1L -> text))
      val out = CorpusQueries.q88ChunkOverlap.fn(spark, dir)
        .select("chunk_idx", "chunk_start", "chunk_len", "chunk_md5")
        .as[(Long, Long, Long, String)].collect().toList
      out.map(t => (t._1, t._2, t._3)) shouldBe List(
        (0L, 1L, 120L), (1L, 91L, 110L), (2L, 181L, 20L))
      val md5s = Seq(text.substring(0, 120), text.substring(90, 200),
        text.substring(180, 200)).map { c =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      out.map(_._4) shouldBe md5s
    }
  }

  test("q89 pagerank step: exact fixed-point contributions on a 2-node graph") {
    withTempDir { dir =>
      Seq((0, "A"), (1, "B")).toDF("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq((1L, 0), (2L, 1)).toDF("c_custkey", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((1L, 0), (2L, 1)).toDF("s_suppkey", "s_nationkey")
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // u0: ->v0 w=3, ->v1 w=1 (out 4); u1: ->v1 w=2 (out 2)
      Seq((10L, 1L), (10L, 1L), (10L, 1L), (10L, 2L), (20L, 2L), (20L, 2L))
        .toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q89PagerankStep.fn(spark, dir)
        .select("n_nationkey", "in_q", "pr")
        .as[(Int, Long, Double)].collect().toList
      out.map(t => (t._1, t._2)) shouldBe List(
        (0, 750000000000000L), (1, 1250000000000000L))
      out(0)._3 shouldBe (0.006 + 0.034 * 0.75) +- 1e-15
      out(1)._3 shouldBe (0.006 + 0.034 * 1.25) +- 1e-15
    }
  }

  test("q90 gap fill: absent hours emit explicit zeros per type") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L // one hour in ns
      writeEvents(dir, Seq(
        (1L, 1L, 0 * h, "a", 1.0),
        (2L, 1L, 0 * h + 5L, "a", 1.0),
        (3L, 1L, 2 * h, "a", 1.0),
        (4L, 1L, 1 * h, "b", 1.0)))
      val out = EventQueries.q90GapFill.fn(spark, dir)
        .as[(Long, String, Long)].collect().toList
      val hu = 3600000000L
      out shouldBe List(
        (0 * hu, "a", 2L), (0 * hu, "b", 0L),
        (1 * hu, "a", 0L), (1 * hu, "b", 1L),
        (2 * hu, "a", 1L), (2 * hu, "b", 0L))
    }
  }

  test("q91 bpe pairs: within-token adjacent character pairs") {
    withTempDir { dir =>
      writeDocs(dir, Seq(1L -> "abc ab"))
      val out = CorpusQueries.q91BpePairs.fn(spark, dir)
        .as[(String, Long)].collect().toList
      out shouldBe List(("ab", 2L), ("bc", 1L))
    }
  }

  test("q92 unigram rarity: integer-division surprisal per doc") {
    withTempDir { dir =>
      // cf: a=2, b=4; N=6; rar(a)=3, rar(b)=1
      writeDocs(dir, Seq(1L -> "a a b", 2L -> "b b b"))
      val out = CorpusQueries.q92UnigramRarity.fn(spark, dir)
        .as[(Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        (1L, 3L, 7L, 7.0 / 3), (2L, 3L, 3L, 1.0))
    }
  }

  test("q93 bigram lift: exact integer numerator/denominator") {
    withTempDir { dir =>
      // bigrams: xy, yx, xy, yx -> c_xy=2 each; uni x=3, y=2; nb=4
      writeDocs(dir, Seq(1L -> "x y x y x"))
      val out = CorpusQueries.q93BigramLift.fn(spark, dir)
        .select("x", "y", "c_xy", "lift")
        .as[(String, String, Long, Double)].collect().toList
      out shouldBe List(
        ("x", "y", 2L, 4.0 * 2 / (3 * 2)), ("y", "x", 2L, 4.0 * 2 / (2 * 3)))
    }
  }

  test("q94 cdc chunking: boundary token starts a new chunk; chunks partition positions") {
    withTempDir { dir =>
      // find a token whose portable hash32 is 0 mod 16 (a boundary) and
      // one that is not, using the same expression the query uses
      val cands = (0 until 200).map(i => s"t$i")
      val hashed = cands.toDF("tok")
        .select(col("tok"), pmod(graft.engine.ext.Text.hash32(col("tok")),
          lit(16)).as("m"))
        .as[(String, Long)].collect().toMap
      val bTok = cands.find(hashed(_) == 0L).get // boundary
      val pTok = cands.find(hashed(_) != 0L).get // plain
      writeDocs(dir, Seq(1L -> s"$pTok $pTok $bTok $pTok $pTok"))
      val out = CorpusQueries.q94CdcChunks.fn(spark, dir)
        .select("chunk_id", "start_pos", "n_tokens")
        .as[(Long, Int, Long)].collect().toList
      // boundary falls AFTER pos 2 -> chunks [0..2] and [3..4]
      out shouldBe List((0L, 0, 3L), (1L, 3, 2L))
    }
  }

  test("q95 hourly anomaly: a spiked hour tops the z ranking with the hand z") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      writeEvents(dir, Seq(
        (1L, 1L, 0 * h, "a", 1.0), (2L, 1L, 1 * h, "a", 1.0),
        (3L, 1L, 2 * h, "a", 1.0)) ++
        (0 until 100).map(i => (10L + i, 1L, 3 * h + i, "a", 1.0)))
      val out = EventQueries.q95HourlyAnomaly.fn(spark, dir)
        .select("hour_us", "n_events", "z")
        .as[(Long, Long, Double)].collect().toList
      val mean = 103.0 / 4
      val std = math.sqrt(10003.0 / 4 - mean * mean)
      out.head._1 shouldBe 3 * 3600000000L
      out.head._2 shouldBe 100L
      out.head._3 shouldBe (100.0 - mean) / std +- 1e-12
    }
  }

  test("q96 quantile norm: percent_rank is (rank-1)/(n-1) in score order per source") {
    withTempDir { dir =>
      writeDocsSrc(dir, Seq(
        (1L, "a", "s1"), (2L, "a b c d", "s1"),
        (3L, "a b c d e f g h i j k l", "s1")))
      val out = CorpusQueries.q96QuantileNorm.fn(spark, dir)
        .select("doc_id", "score", "pct")
        .as[(Long, Double, Double)].collect().toList
      // expected pct from the query's own scores: rank in (score, doc_id)
      // order, normalized by n-1
      val ranked = out.sortBy(t => (t._2, t._1)).zipWithIndex
      ranked.foreach { case ((_, _, pct), i) =>
        pct shouldBe i.toDouble / (out.size - 1)
      }
      out.map(_._3).toSet shouldBe Set(0.0, 0.5, 1.0)
    }
  }

  test("q97 mixture weights: sqrt flattening and exact integer allocation") {
    withTempDir { dir =>
      // n=4 -> w=2; n=9 -> w=3; W=5; alloc 4000 / 6000
      val docs = (1 to 4).map(i => (i.toLong, s"d $i", "s1")) ++
        (5 to 13).map(i => (i.toLong, s"d $i", "s2"))
      writeDocsSrc(dir, docs)
      val out = CorpusQueries.q97MixtureWeights.fn(spark, dir)
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(("s1", 4L, 2L, 4000L), ("s2", 9L, 3L, 6000L))
    }
  }

  test("q83 stream-static enrich equals the batch join+agg") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventQueries.q83StreamStaticEnrich.fn(spark, dir)
      .as[(String, String, Long, Double)].collect().toList
    val ev = graft.engine.Tables.load(spark, dir, "events")
    val cust = graft.engine.Tables.load(spark, dir, "customer")
    val batch = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(30,10)")), 2).cast("double")
          .as("total_value"))
      .orderBy("c_mktsegment", "event_type")
      .as[(String, String, Long, Double)].collect().toList
    streamed shouldBe batch
  }

  test("q102 prefix join equals in-test brute force, incl threshold boundary") {
    withTempDir { dir =>
      // 5-gram shingle sets; J computed on distinct shingles.
      // docs 1,2 identical -> J=1. doc 3 shares a prefix of doc 1 such
      // that J sits near the 0.6 boundary; doc 4 disjoint.
      val docs = Seq(
        1L -> "a b c d e f g h",
        2L -> "a b c d e f g h",
        3L -> "a b c d e f g x",
        4L -> "p q r s t u v w")
      writeDocs(dir, docs)
      def shingles(t: String): Set[String] = {
        val ts = t.split(" ")
        if (ts.length <= 5) Set(ts.mkString(" "))
        else ts.sliding(5).map(_.mkString(" ")).toSet
      }
      val brute = for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        si = shingles(ti); sj = shingles(tj)
        inter = (si & sj).size
        union = (si | sj).size
        if inter.toDouble / union >= 0.6
      } yield (i, j)
      val out = DedupQueries.q102PrefixJoin.fn(spark, dir)
        .select("d1", "d2").as[(Long, Long)].collect().toList
      out.toSet shouldBe brute.toSet
      // sanity on the fixture itself: the identical pair is present and
      // the disjoint doc pairs with nothing
      assert(out.contains((1L, 2L)))
      assert(!out.exists { case (a, b) => a == 4L || b == 4L })
    }
  }

  test("q103 decayed engagement: exact fixed-point halving per day of age") {
    withTempDir { dir =>
      val day = 86400L * 1000000000L // ns
      writeEvents(dir, Seq(
        (1L, 1L, 2 * day, "a", 1.0),  // horizon event: age 0
        (2L, 1L, 1 * day, "a", 1.0),  // age exactly 1 day
        (3L, 1L, 0 * day, "a", 1.0),  // age 2 days
        (4L, 2L, 2 * day - 1000, "a", 2.5))) // age 0 (sub-day remainder)
      val out = EventQueries.q103DecayedEngagement.fn(spark, dir)
        .select("user_id", "n_events", "decayed_milli")
        .as[(Long, Long, Long)].collect().toList
      // cents=100 -> 102400 at age 0, 51200 at 1d, 25600 at 2d
      // user 2: cents=250 -> 256000 at age 0
      out shouldBe List((1L, 3L, 179200L), (2L, 1L, 256000L))
    }
  }

  test("q162 bm25: rarer term outranks a common one at equal tf and dl") {
    withTempDir { dir =>
      // "common" df=3, "rare" df=1; within doc 1 both have tf=1 and the
      // same dl, so only idf separates them -> "rare" must be rank 1
      writeDocs(dir, Seq(
        1L -> "common rare filler",
        2L -> "common other filler",
        3L -> "common again filler"))
      val top = TextQueries.q162Bm25Topk.fn(spark, dir)
        .filter(col("doc_id") === 1L && col("rank") === 1)
        .select("tok").as[String].collect().toList
      top shouldBe List("rare")
    }
  }

  test("q162 bm25: length normalization — same tf scores lower in a " +
      "longer doc") {
    withTempDir { dir =>
      // "term" has tf=1 and df=2 in both docs; doc 2 is 3x longer, so
      // its b-normalized denominator is larger -> strictly lower score
      writeDocs(dir, Seq(
        1L -> "term pad",
        2L -> "term pad pad pad pad pad"))
      val scores = TextQueries.q162Bm25Topk.fn(spark, dir)
        .filter(col("tok") === "term")
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      scores(1L) should be > scores(2L)
    }
  }

  test("q162 bm25: tf saturates — doubling tf less than doubles the " +
      "tf factor") {
    withTempDir { dir =>
      // equal dl (4) across docs; "t" tf=1 vs tf=2 with identical df.
      // BM25's tf/(tf+k1*norm) is concave: score(tf=2) < 2*score(tf=1).
      // Two distinct tokens per doc keeps "t" inside the top-3 window.
      writeDocs(dir, Seq(
        1L -> "t a a a",
        2L -> "t t c c"))
      val s = TextQueries.q162Bm25Topk.fn(spark, dir)
        .filter(col("tok") === "t")
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      s(2L) should be > s(1L)
      s(2L) should be < 2.0 * s(1L)
    }
  }

  test("q163 rrf: exact fused scores, deterministic doc_id tiebreak") {
    withTempDir { dir =>
      // byLen: 1 (dl 6), 2 (dl 4), 3 (dl 2).
      // byTtr: 1 (1.0, id tiebreak), 3 (1.0), 2 (0.25).
      // doc 2 = 1/62+1/63 and doc 3 = 1/63+1/62 TIE exactly -> doc_id
      // ascending must order 2 before 3.
      writeDocs(dir, Seq(
        1L -> "a b c d e f",
        2L -> "x x x x",
        3L -> "p q"))
      val out = TextQueries.q163RrfFusion.fn(spark, dir)
        .select("doc_id", "rrf").as[(Long, Double)].collect().toList
      out.map(_._1) shouldBe List(1L, 2L, 3L)
      out.head._2 shouldBe (1.0 / 61 + 1.0 / 61)
      out(1)._2 shouldBe (1.0 / 62 + 1.0 / 63)
      out(2)._2 shouldBe (1.0 / 63 + 1.0 / 62)
    }
  }

  test("q163 rrf: a doc outside one top-100 list still fuses from the " +
      "other (absent-list contribution is exactly 0)") {
    withTempDir { dir =>
      // 104 medium docs (dl 10, one unique token -> ttr 0.1) push the
      // short all-unique doc 200 off the length list (rank 105 > 100),
      // while it tops the ttr list -> fused = 1/61 + 0, exactly.
      val medium = (1L to 104L).map(i => i -> Seq.fill(10)(s"w$i").mkString(" "))
      writeDocs(dir, medium :+ (200L -> "u1 u2 u3"))
      val out = TextQueries.q163RrfFusion.fn(spark, dir)
      // the special doc is NOT in the top-20 (its single-list score
      // ranks ~33rd); pull its fused row before the final limit by
      // reusing the query at full width: assert via total ordering that
      // top-1 is doc 1 with both first ranks
      val top = out.select("doc_id", "rrf").as[(Long, Double)].collect().toList
      top.head._1 shouldBe 1L
      // doc 1: ra=1 (dl tie -> id) and rb=2 (ttr tie among mediums, the
      // special doc holds rb=1)
      top.head._2 shouldBe (1.0 / 61 + 1.0 / 62)
    }
  }

  test("q166 epoch shard: docs partition across shards, keys are " +
      "injective, and the assignment is rerun-identical") {
    withTempDir { dir =>
      writeDocs(dir, (1L to 64L).map(i => i -> s"tok$i body"))
      val run1 = TextQueries.q166EpochShard.fn(spark, dir)
        .select("shard", "n_docs", "n_keys_distinct", "min_key")
        .as[(Long, Long, Long, Long)].collect().toList
      run1.map(_._2).sum shouldBe 64L
      run1.foreach { case (shard, nDocs, nKeys, minKey) =>
        shard should (be >= 0L and be < 16L)
        nKeys shouldBe nDocs // no key collisions on this corpus
        minKey should be >= 0L
      }
      // determinism: no RNG anywhere -> a second run is identical
      val run2 = TextQueries.q166EpochShard.fn(spark, dir)
        .select("shard", "n_docs", "n_keys_distinct", "min_key")
        .as[(Long, Long, Long, Long)].collect().toList
      run2 shouldBe run1
    }
  }

  test("q167 z-order: on a 32x32 grid every bucket is a 4x4 tile — " +
      "locality in BOTH dimensions at once") {
    withTempDir { dir =>
      val rows = for (p <- 0 to 31; sk <- 0 to 31) yield (p.toLong, sk.toLong)
      rows.toDF("l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q167ZorderLayout.fn(spark, dir)
        .select("z_bucket", "n_rows", "min_part", "max_part",
          "min_supp", "max_supp")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toList
      out.size shouldBe 64
      out.foreach { case (_, n, minP, maxP, minS, maxS) =>
        n shouldBe 16L          // 1024 rows / 64 buckets, exactly
        maxP - minP shouldBe 3L // each bucket covers 1/8 of partkey...
        maxS - minS shouldBe 3L // ...AND 1/8 of suppkey simultaneously
      }
    }
  }

  test("q169 posting lists: df ranks, postings sort ascending, and the " +
      "10-posting cap holds") {
    withTempDir { dir =>
      // "a" in 15 docs (the 10-posting cap bites), "filler" in the same
      // 15, "b" in 3 — doc 20's "b b" must count ONCE (distinct pairs)
      val docs = (1L to 15L).map(i => i -> "a filler") ++
        Seq(16L -> "b x", 17L -> "b y", 20L -> "b b")
      writeDocs(dir, docs)
      val out = CorpusQueries.q169PostingLists.fn(spark, dir)
        .select("tok", "df", "postings")
        .as[(String, Long, String)].collect().toList
      val byTok = out.map(r => r._1 -> r).toMap
      byTok("a")._2 shouldBe 15L
      // ascending postings, truncated to the FIRST 10 doc_ids
      byTok("a")._3 shouldBe (1L to 10L).mkString(",")
      byTok("b")._2 shouldBe 3L
      byTok("b")._3 shouldBe "16,17,20"
      // ranked by df desc then token asc: a and filler (15) before b (3)
      out.map(_._1).take(3) shouldBe List("a", "filler", "b")
    }
  }

  test("q170 conversion lag: exact bin edges, pre-view purchases " +
      "excluded, view-only users absent") {
    withTempDir { dir =>
      val s = 1000000000L // 1 s in ns
      writeEvents(dir, Seq(
        // user 1: purchase 30 s after first view -> bucket 0 (<1m)
        (1L, 1L, 0L, "view", 1.0), (2L, 1L, 30L * s, "purchase", 1.0),
        // user 2: 2 h after -> bucket 3 (<6h); a LATER purchase at 3 h
        // must not add a second row for the user
        (3L, 2L, 0L, "view", 1.0), (4L, 2L, 7200L * s, "purchase", 1.0),
        (5L, 2L, 10800L * s, "purchase", 1.0),
        // user 3: purchase BEFORE any view only -> no conversion
        (6L, 3L, 0L, "purchase", 1.0), (7L, 3L, 10L * s, "view", 1.0),
        // user 4: view only -> absent
        (8L, 4L, 0L, "view", 1.0),
        // user 5: purchase at the view instant -> lag 0, bucket 0
        (9L, 5L, 0L, "view", 1.0), (10L, 5L, 0L, "purchase", 1.0)))
      val out = EventQueries.q170ConversionLag.fn(spark, dir)
        .select("bucket", "n_users", "min_lag_us", "max_lag_us")
        .as[(Int, Long, Long, Long)].collect().toList
      out shouldBe List(
        (0, 2L, 0L, 30000000L),
        (3, 1L, 7200000000L, 7200000000L))
    }
  }

  test("q171 containment: a doc embedded in a longer one is caught in " +
      "ONE direction where Jaccard misses it entirely") {
    withTempDir { dir =>
      // doc 1 = 10 tokens (8 3-shingles); doc 2 = doc 1 + 20 more
      // tokens. containment(1 in 2) = 1.0; Jaccard ≈ 8/28 < 0.5 (q25's
      // threshold would drop the pair); containment(2 in 1) ≈ 8/28 < 0.8
      val a = (1 to 10).map(i => s"w$i").mkString(" ")
      val b = a + " " + (11 to 30).map(i => s"w$i").mkString(" ")
      val c = (41 to 60).map(i => s"x$i").mkString(" ")
      writeDocs(dir, Seq(1L -> a, 2L -> b, 3L -> c))
      val out = DedupQueries.q171ContainmentJoin.fn(spark, dir)
        .select("d1", "d2", "containment")
        .as[(Long, Long, Double)].collect().toList
      out shouldBe List((1L, 2L, 1.0))
    }
  }

  test("q171 containment: identical docs pair in BOTH orientations") {
    withTempDir { dir =>
      val t = (1 to 12).map(i => s"t$i").mkString(" ")
      writeDocs(dir, Seq(1L -> t, 2L -> t))
      val out = DedupQueries.q171ContainmentJoin.fn(spark, dir)
        .select("d1", "d2", "containment")
        .as[(Long, Long, Double)].collect().toList
      out shouldBe List((1L, 2L, 1.0), (2L, 1L, 1.0))
    }
  }

  test("q172 source matrix: within-source pairs land on the diagonal, " +
      "cross-source pairs on the unordered off-diagonal cell") {
    withTempDir { dir =>
      val t = (1 to 12).map(i => s"s$i").mkString(" ")
      Seq((1L, t, "S1"), (2L, t, "S1"), (3L, t, "S2"),
          (4L, (21 to 40).map(i => s"u$i").mkString(" "), "S2"))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = DedupQueries.q172SourceDupMatrix.fn(spark, dir)
        .select("src_a", "src_b", "n_pairs")
        .as[(String, String, Long)].collect().toList
      // pairs: (1,2) S1xS1; (1,3) and (2,3) S1xS2 — doc 4 pairs with
      // nothing
      out shouldBe List(("S1", "S1", 1L), ("S1", "S2", 2L))
    }
  }

  test("q173 burstiness: repeating tokens outrank evenly-spread ones; " +
      "df < 5 never ranks") {
    withTempDir { dir =>
      // "z" 4x in each of 5 docs -> burst 4.0; "f" once in each of 5
      // docs -> burst 1.0; "r" 9x but in only ONE doc -> df 1, excluded
      val docs = (1L to 5L).map(i => i -> "z z z z f") :+
        (6L -> Seq.fill(9)("r").mkString(" "))
      writeDocs(dir, docs)
      val out = CorpusQueries.q173Burstiness.fn(spark, dir)
        .select("tok", "cf", "df", "burst")
        .as[(String, Long, Long, Double)].collect().toList
      out shouldBe List(("z", 20L, 5L, 4.0), ("f", 5L, 5L, 1.0))
    }
  }

  test("q174 RFM: three users with strictly ordered R, F and M land in " +
      "the three diagonal cells; non-purchasers are absent") {
    withTempDir { dir =>
      val s = 1000000000L
      writeEvents(dir, Seq(
        (1L, 1L, 10L * s, "purchase", 1.0),
        (2L, 2L, 20L * s, "purchase", 2.0),
        (3L, 2L, 21L * s, "purchase", 2.0),
        (4L, 3L, 30L * s, "purchase", 5.0),
        (5L, 3L, 31L * s, "purchase", 5.0),
        (6L, 3L, 32L * s, "purchase", 5.0),
        (7L, 4L, 40L * s, "view", 9.9))) // no purchase -> excluded
      val out = EventQueries.q174RfmSegments.fn(spark, dir)
        .select("r_bin", "f_bin", "m_bin", "n_users")
        .as[(Int, Int, Int, Long)].collect().toList
      out shouldBe List((1, 1, 1, 1L), (2, 2, 2, 1L), (3, 3, 3, 1L))
    }
  }

  test("q175 weighted median: quantity weight pulls the median to the " +
      "heavy price, not the middle row") {
    withTempDir { dir =>
      Seq(
        // flag A: 9 units at 1.00 vs 1 unit at 2.00 -> weighted median
        // 1.00 (a row-median over the 2 price rows would say 1.5-ish)
        ("A", 1.00, 9.0), ("A", 2.00, 1.0),
        // flag B: even split -> crossing picks the LOWER price
        ("B", 1.00, 1.0), ("B", 2.00, 1.0))
        .toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q175WeightedMedian.fn(spark, dir)
        .selectExpr("l_returnflag", "wmedian", "tot_qty_centi")
        .as[(String, Double, Long)].collect().toList
      out shouldBe List(("A", 1.00, 1000L), ("B", 1.00, 200L))
    }
  }

  test("q177 reshard: rendezvous movement is a fraction of mod movement " +
      "on the same keys") {
    withTempDir { dir =>
      writeDocs(dir, (1L to 200L).map(i => i -> s"doc $i"))
      val (n, movedMod, movedHrw, fracMod, fracHrw) =
        TextQueries.q177ReshardMovement.fn(spark, dir)
          .select("n_keys", "moved_mod", "moved_hrw", "frac_mod", "frac_hrw")
          .as[(Long, Long, Long, Double, Double)].collect().head
      n shouldBe 200L
      movedMod + movedHrw should be > 0L
      // mod-16 -> mod-17 moves ~15/16 of keys; HRW moves only the keys
      // the NEW shard wins (~1/17). The structural gap, not a tuning
      // artifact: assert HRW strictly under half of mod's movement.
      movedHrw.toDouble should be < movedMod.toDouble / 2
      fracMod shouldBe movedMod.toDouble / 200
      fracHrw shouldBe movedHrw.toDouble / 200
    }
  }

  test("q179 interpolation: interior gaps get the line, the trailing " +
      "edge pads, observed points pass through untouched") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      writeEvents(dir, Seq(
        // type "a": observed at hours 0 (10.0) and 3 (40.0) — hours 1,2
        // interpolate on the line, hour 4 (spine extended by "b") pads
        (1L, 1L, 0 * h, "a", 10.0), (2L, 1L, 3 * h, "a", 40.0),
        // type "b": dense 1.0 at hours 0..4 -> all obs, extends spine
        (3L, 2L, 0 * h, "b", 1.0), (4L, 2L, 1 * h, "b", 1.0),
        (5L, 2L, 2 * h, "b", 1.0), (6L, 2L, 3 * h, "b", 1.0),
        (7L, 2L, 4 * h, "b", 1.0)))
      val out = EventQueries.q179InterpolateGaps.fn(spark, dir)
        .filter(col("event_type") === "a")
        .select("hour_us", "revenue", "src")
        .as[(Long, Double, String)].collect().toList
      val us = 3600000000L
      def line(hh: Double) = 10.0 + (40.0 - 10.0) * (hh / 3.0)
      out shouldBe List(
        (0 * us, 10.0, "obs"),
        (1 * us, line(1.0), "interp"),
        (2 * us, line(2.0), "interp"),
        (3 * us, 40.0, "obs"),
        (4 * us, 40.0, "pad"))
    }
  }

  test("q181 AUC: hand-computed midrank rank-sum, ties get half credit") {
    withTempDir { dir =>
      val s = 1000000000L
      // positives (purchase) at 5.0 and 3.0; negatives at 3.0 and 1.0:
      // pairs (5,3)=1 (5,1)=1 (3,3)=0.5 (3,1)=1 -> U=3.5, AUC=7/8
      writeEvents(dir, Seq(
        (1L, 1L, 1L * s, "purchase", 5.0),
        (2L, 2L, 2L * s, "purchase", 3.0),
        (3L, 3L, 3L * s, "view", 3.0),
        (4L, 4L, 4L * s, "view", 1.0)))
      val out = EventQueries.q181AucRanksum.fn(spark, dir)
        .select("n_pos", "n_neg", "u2", "auc")
        .as[(Long, Long, Long, Double)].collect().head
      out shouldBe ((2L, 2L, 7L, 0.875))
    }
  }

  test("q181 AUC: perfect separation is exactly 1, reversal exactly 0") {
    withTempDir { dir =>
      val s = 1000000000L
      writeEvents(dir, Seq(
        (1L, 1L, 1L * s, "purchase", 10.0),
        (2L, 2L, 2L * s, "purchase", 9.0),
        (3L, 3L, 3L * s, "view", 2.0),
        (4L, 4L, 4L * s, "view", 1.0)))
      EventQueries.q181AucRanksum.fn(spark, dir)
        .select("auc").as[Double].collect().head shouldBe 1.0
      writeEvents(dir, Seq(
        (1L, 1L, 1L * s, "view", 10.0),
        (2L, 2L, 2L * s, "purchase", 1.0)))
      EventQueries.q181AucRanksum.fn(spark, dir)
        .select("auc").as[Double].collect().head shouldBe 0.0
    }
  }

  test("q182 Benford: first SIGNIFICANT digit — leading zeros and the " +
      "decimal point never count, ppm table is exact") {
    withTempDir { dir =>
      // 0.19 -> 1, 100.00 -> 1, 0.05 -> 5, 923.00 -> 9
      Seq(BigDecimal("0.19"), BigDecimal("100.00"), BigDecimal("0.05"),
          BigDecimal("923.00"))
        .toDF("l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q182Benford.fn(spark, dir)
        .select("digit", "n_obs", "obs_ppm", "exp_ppm", "delta_ppm")
        .as[(Long, Long, Long, Long, Long)].collect().toList
      out shouldBe List(
        (1L, 2L, 500000L, 301030L, 198970L),
        (5L, 1L, 250000L, 79181L, 170819L),
        (9L, 1L, 250000L, 45757L, 204243L))
    }
  }

  test("q183 orphan audit: a planted dangling orderkey is counted on " +
      "exactly one edge; intact edges report zero") {
    withTempDir { dir =>
      Seq((1L, 101L, 201L), (2L, 101L, 201L), (99L, 101L, 201L))
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Seq((1L, 11L), (2L, 11L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq(Tuple1(101L)).toDF("p_partkey")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      Seq((201L, 1L)).toDF("s_suppkey", "s_nationkey")
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      Seq((11L, 1L)).toDF("c_custkey", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((1L, 0L)).toDF("n_nationkey", "n_regionkey")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq(Tuple1(0L)).toDF("r_regionkey")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val out = RelationalQueries.q183OrphanAudit.fn(spark, dir)
        .select("edge", "n_child", "n_orphans", "orphan_ppm")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("customer->nation", 1L, 0L, 0L),
        ("lineitem->orders", 3L, 1L, 333333L),
        ("lineitem->part", 3L, 0L, 0L),
        ("lineitem->supplier", 3L, 0L, 0L),
        ("nation->region", 1L, 0L, 0L),
        ("orders->customer", 2L, 0L, 0L),
        ("supplier->nation", 1L, 0L, 0L))
    }
  }

  test("q185 sequence support: a before b counts ANY gap, order is " +
      "strict, absent types contribute nothing") {
    withTempDir { dir =>
      val s = 1000000000L
      writeEvents(dir, Seq(
        // u1: a@1 .. (gap) .. b@9 -> a->b only
        (1L, 1L, 1L * s, "a", 0.0), (2L, 1L, 9L * s, "b", 0.0),
        // u2: b@1, a@2 -> b->a only
        (3L, 2L, 1L * s, "b", 0.0), (4L, 2L, 2L * s, "a", 0.0),
        // u3: only a -> no pair
        (5L, 3L, 1L * s, "a", 0.0)))
      val out = EventQueries.q185SeqPatterns.fn(spark, dir)
        .select("a", "b", "n_users", "support_ppm")
        .as[(String, String, Long, Long)].collect().toList
      out shouldBe List(("a", "b", 1L, 333333L), ("b", "a", 1L, 333333L))
    }
  }

  test("q186 decile lift: distinct scores map decile=score; only buyer " +
      "deciles lift above zero, and exactly to t_users/t_buyers") {
    withTempDir { dir =>
      val s = 1000000000L
      var id = 0L
      val rows = (1 to 10).flatMap { u =>
        val views = (1 to u).map { i =>
          id += 1; (id, u.toLong, (u * 100L + i) * s, "view", 0.0)
        }
        val buys = if (u >= 9)
          Seq({ id += 1; (id, u.toLong, (u * 100L + 50) * s, "purchase", 1.0) })
        else Seq.empty
        views ++ buys
      }
      writeEvents(dir, rows)
      val out = EventQueries.q186DecileLift.fn(spark, dir)
        .select("decile", "n_users", "n_buyers", "lift")
        .as[(Int, Long, Long, Double)].collect().toList
      out.map(_._1) shouldBe (1 to 10).toList
      all(out.map(_._2)) shouldBe 1L
      out.filter(_._1 <= 8).map(_._3).sum shouldBe 0L
      // lift = (1 * 10) / (2 * 1) = 5.0 for the two buyer deciles
      out.filter(_._1 >= 9).map(r => (r._3, r._4)) shouldBe
        List((1L, 5.0), (1L, 5.0))
    }
  }

  test("q180 SNM: sort-adjacent near-dups are found; the same content " +
      "behind a different first word sorts away and is missed") {
    withTempDir { dir =>
      writeDocs(dir, Seq(
        // d1/d2 share the 24-char prefix -> ranks 1,2 -> verified:
        // 3-shingles inter 3 / union 5 = 0.6
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"),
        // four unique spacers push d7 more than Wd=3 ranks away
        (3L, "m1 m2 m3 m4"), (4L, "n1 n2 n3 n4"),
        (5L, "p1 p2 p3 p4"), (6L, "q1 q2 q3 q4"),
        // jaccard 0.8 with d1 — but the leading token sorts it last:
        // the documented SNM blind spot, missed by construction
        (7L, "zzz alpha beta gamma delta epsilon zeta")))
      val out = DedupQueries.q180SortedNeighborhood.fn(spark, dir)
        .select("d1", "d2", "jacc")
        .as[(Long, Long, Double)].collect().toList
      out shouldBe List((1L, 2L, 0.6))
    }
  }

  test("q180 SNM: a window pair straddling a prefix-block boundary is " +
      "still found — the distributed rank is globally contiguous") {
    withTempDir { dir =>
      // 2-char blocks "ax" and "ay": the pair crosses blocks, so it only
      // appears if the block offsets stitch into one global rank
      writeDocs(dir, Seq(
        (1L, "ax common tail one two three four"),
        (2L, "ay common tail one two three four")))
      val out = DedupQueries.q180SortedNeighborhood.fn(spark, dir)
        .select("d1", "d2")
        .as[(Long, Long)].collect().toList
      out shouldBe List((1L, 2L))
    }
  }

  test("q187 zone maps: a file is skippable iff its [min,max] misses " +
      "the predicate window, under both layouts") {
    withTempDir { dir =>
      val day = 86400000L // ms
      def ts(d: Long) = new java.sql.Timestamp(d * day)
      // arrival files (div 8192): f0 = keys 1,2 @ day 0; f1 = key 8193
      // @ day 310 (inside [300,330]); f2 = key 16385 @ day 600
      Seq((1L, ts(0)), (2L, ts(0)), (8193L, ts(310)), (16385L, ts(600)))
        .toDF("o_orderkey", "o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q187ZonemapSkip.fn(spark, dir)
        .select("layout", "n_files", "n_skipped", "skip_ppm", "rows_skipped")
        .as[(String, Long, Long, Long, Long)].collect().toList
      // both layouts isolate day-0 and day-600 rows from the window
      out shouldBe List(
        ("arrival", 3L, 2L, 666666L, 3L),
        ("bydate", 3L, 2L, 666666L, 3L))
    }
  }

  test("q188 SRM: arm counts match an independent MessageDigest mirror " +
      "of the assignment hash") {
    withTempDir { dir =>
      val s = 1000000000L
      val users = (1L to 20L)
      writeEvents(dir, users.map(u => (u, u, u * s, "view", 0.0)))
      val md = java.security.MessageDigest.getInstance("MD5")
      val exp = users.map { u =>
        val hex = md.digest(s"$u:ab1".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % 2
      }
      val (n0, n1, chi2, srm) = EventQueries.q188SrmCheck.fn(spark, dir)
        .select("n0", "n1", "chi2", "srm")
        .as[(Long, Long, Double, Boolean)].collect().head
      n0 shouldBe exp.count(_ == 0L)
      n1 shouldBe exp.count(_ == 1L)
      chi2 shouldBe (n0 - n1).toDouble * (n0 - n1) / (n0 + n1)
      srm shouldBe (chi2 > 3.841)
    }
  }

  test("q189 quantile sketch: exact order statistics land inside the " +
      "estimating bucket, so every error is under one bucket width") {
    withTempDir { dir =>
      // 100 values, 1.00 .. 100.00 dollars: p50=50.00, p90=90.00, p99=99.00
      (1 to 100).map(i => Tuple1(i.toDouble))
        .toDF("l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q189QuantileSketch.fn(spark, dir)
        .select("pct", "est_cents", "exact_cents", "abs_err", "bound",
          "within_bound")
        .as[(Int, Long, Long, Long, Long, Boolean)].collect().toList
      out.map(_._1) shouldBe List(50, 90, 99)
      out.map(_._3) shouldBe List(5000L, 9000L, 9900L)
      all(out.map(_._6)) shouldBe true
      all(out.map(r => r._4 < r._5)) shouldBe true
    }
  }

  test("q190 HITS: authority = distinct buyers, hub = sum of bought " +
      "parts' authorities") {
    withTempDir { dir =>
      Seq((1L, 101L), (1L, 102L), (2L, 101L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      Seq((1L, 11L), (2L, 12L)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = GraphQueries.q190HitsStep.fn(spark, dir)
        .select("kind", "id", "score")
        .as[(String, Long, Long)].collect().toList
      // auth: p101 bought by u11,u12 -> 2; p102 by u11 -> 1
      // hub:  u11 = auth(101)+auth(102) = 3; u12 = auth(101) = 2
      out shouldBe List(
        ("auth", 101L, 2L), ("auth", 102L, 1L),
        ("hub", 11L, 3L), ("hub", 12L, 2L))
    }
  }

  test("q191 phrase search: the top bigram's occurrences resolve by " +
      "positional adjacency, repeats within a doc all count") {
    withTempDir { dir =>
      // bigrams: (x y) x3 tops; d1 has it at positions 0 and 2, d2 at 0
      writeDocs(dir, Seq(
        (1L, "x y x y z"), (2L, "x y q"), (3L, "a b")))
      val out = CorpusQueries.q191PhraseSearch.fn(spark, dir)
        .select("phrase", "doc_id", "n_hits", "first_pos")
        .as[(String, Long, Long, Int)].collect().toList
      out shouldBe List(("x y", 1L, 2L, 0), ("x y", 2L, 1L, 0))
    }
  }

  test("q192 KS: disjoint samples reach D = 1 exactly; identical " +
      "samples reach D = 0; other types are excluded") {
    withTempDir { dir =>
      val s = 1000000000L
      writeEvents(dir, Seq(
        (1L, 1L, 1L * s, "view", 1.0), (2L, 2L, 2L * s, "view", 2.0),
        (3L, 3L, 3L * s, "purchase", 3.0),
        (4L, 4L, 4L * s, "purchase", 4.0),
        (5L, 5L, 5L * s, "click", 99.0))) // excluded type
      val r1 = EventQueries.q192KsTest.fn(spark, dir)
        .select("n1", "n2", "d_numer", "d", "reject")
        .as[(Long, Long, Long, Double, Boolean)].collect().head
      r1 shouldBe ((2L, 2L, 4L, 1.0, false)) // crit at n=2+2 is 1.358
      writeEvents(dir, Seq(
        (1L, 1L, 1L * s, "view", 1.0), (2L, 2L, 2L * s, "view", 2.0),
        (3L, 3L, 3L * s, "purchase", 1.0),
        (4L, 4L, 4L * s, "purchase", 2.0)))
      EventQueries.q192KsTest.fn(spark, dir)
        .select("d_numer").as[Long].collect().head shouldBe 0L
    }
  }

  test("q193 token-multiset dedup: reordered variants collapse into one " +
      "group and the variant count separates them from byte dups") {
    withTempDir { dir =>
      writeDocs(dir, Seq(
        (1L, "b a"), (2L, "a b"), (3L, "a b"), // one bag, 2 exact forms
        (4L, "c d"), (5L, "c d"),              // dup but never reordered
        (6L, "e f")))                          // singleton -> absent
      val out = DedupQueries.q193TokensetDedup.fn(spark, dir)
        .select("keep_id", "n_docs", "n_exact_variants")
        .as[(Long, Long, Long)].collect().toList
      out shouldBe List((1L, 3L, 2L), (4L, 2L, 1L))
    }
  }

  test("q196 bloom join: zero false negatives by construction, and the " +
      "pass set mirrors an independent Scala model of the hash family") {
    withTempDir { dir =>
      val keys = (1L to 40L)
      keys.map(k => (k, if (k % 2 == 0) "BUILDING" else "AUTOMOBILE"))
        .toDF("c_custkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      keys.map(Tuple1(_)).toDF("o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      def pos(k: Long, i: Long): Long =
        (k * (i * 1048573L + 7L) + (i * 2097143L + 31L)) %
          2147483647L % 8192L
      val bits = keys.filter(_ % 2 == 0)
        .flatMap(k => (0L to 2L).map(pos(k, _))).toSet
      val expPass = keys.count(k => (0L to 2L).forall(i => bits(pos(k, i))))
      val r = RelationalQueries.q196BloomJoinAudit.fn(spark, dir)
        .select("n_build", "n_probe", "n_true", "n_pass", "n_fp")
        .as[(Long, Long, Long, Long, Long)].collect().head
      r._1 shouldBe 20L
      r._2 shouldBe 40L
      r._3 shouldBe 20L
      r._4 shouldBe expPass.toLong
      r._4 should be >= r._3 // bloom is one-sided: no false negatives
      r._5 shouldBe r._4 - r._3
    }
  }

  test("q199 purged CV: ten one-event hours partition into exact " +
      "test/purged/train bands per fold") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      writeEvents(dir, (0L to 9L).map(i => (i + 1, i + 1, i * h, "view", 0.0)))
      val out = EventQueries.q199PurgedCvFolds.fn(spark, dir)
        .select("fold", "t_lo", "t_hi", "n_test", "n_train", "n_purged")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toList
      out.map(_._1) shouldBe List(0L, 1L, 2L, 3L, 4L)
      // every fold partitions the corpus
      all(out.map(r => r._4 + r._5 + r._6)) shouldBe 10L
      // fold 0: test hours 0-1; embargo reaches hour 7; train = 8,9
      out.head shouldBe ((0L, 0L, 1L, 2L, 2L, 6L))
      // fold 2: test 4-5; the 6h embargo covers every remaining hour
      out(2) shouldBe ((2L, 4L, 5L, 2L, 0L, 8L))
    }
  }

  test("q200 data ladder: rungs are monotone and the 100% rung is the " +
      "whole corpus") {
    withTempDir { dir =>
      writeDocs(dir, (1L to 50L).map(i => i -> s"tok$i common a b"))
      val out = TextQueries.q200DataLadder.fn(spark, dir)
        .select("pct", "n_docs", "n_tokens", "n_vocab")
        .as[(Long, Long, Long, Long)].collect().toList
      out.map(_._1) shouldBe List(10L, 25L, 50L, 100L)
      out.map(_._2) shouldBe out.map(_._2).sorted // nested -> monotone
      out.map(_._4) shouldBe out.map(_._4).sorted
      out.last._2 shouldBe 50L
      out.last._3 shouldBe 200L            // 4 tokens per doc
      out.last._4 shouldBe 53L             // 50 unique + common, a, b
    }
  }

  test("q201 CUPED: a perfectly predictive pre-period covariate reaches " +
      "theta = 1 and full variance reduction") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      var id = 0L
      def n(u: Long, hour: Long, t: String) = { id += 1; (id, u, hour * h, t, 0.0) }
      // bounds pinned by user 99 at hours 0 and 10 -> mid = hour 5;
      // users 1..3: k views pre-mid, k purchases post-mid; y = x exactly
      val rows = Seq(n(99L, 0L, "click"), n(99L, 10L, "click")) ++
        (1L to 3L).flatMap { u =>
          (1L to u).map(_ => n(u, 1L, "view")) ++
            (1L to u).map(_ => n(u, 6L, "purchase"))
        }
      writeEvents(dir, rows)
      val out = EventQueries.q201CupedAudit.fn(spark, dir)
        .select("n", "sx", "sy", "theta", "var_reduction")
        .as[(Long, Long, Long, Double, Double)].collect().head
      out shouldBe ((4L, 6L, 6L, 1.0, 1.0))
    }
  }

  test("q202 join cardinality: the uniform formula is exact on uniform " +
      "keys and overestimates when probe keys miss the build side") {
    withTempDir { dir =>
      Seq((1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L), (3L, 1L), (3L, 1L),
          (4L, 1L), (4L, 1L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // o_custkey 9 has no customer row -> actual 3 < est 4
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 9L))
        .toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq(Tuple1(1L)).toDF("p_partkey")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      // no customer 9: the containment assumption breaks on that edge
      Seq(Tuple1(1L), Tuple1(5L), Tuple1(7L)).toDF("c_custkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val out = RelationalQueries.q202JoinCardAudit.fn(spark, dir)
        .select("edge", "est", "actual", "err_ppm")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("lineitem-orders", 8L, 8L, 0L),   // 8*4/4, exact
        ("lineitem-part", 8L, 8L, 0L),     // 8*1/1, exact
        // est = 4*3 // max(2,3) = 4; actual = 3 (cust 9 missing)
        ("orders-customer", 4L, 3L, 333333L))
    }
  }

  test("q203 frame dedup: one 64-byte frame shared by two assets is one " +
      "shared hash, two shared frames, one asset pair") {
    withTempDir { dir =>
      val shared = "x" * 64
      writeDocs(dir, Seq((1L, shared), (2L, shared), (3L, "y" * 64)))
      val out = MultimodalQueries.q203FrameDedup.fn(spark, dir)
        .select("n_frames_total", "n_distinct_hashes", "n_shared_hashes",
          "n_frames_shared", "n_asset_pairs")
        .as[(Long, Long, Long, Long, Long)].collect().head
      out shouldBe ((3L, 2L, 1L, 2L, 1L))
    }
  }

  test("q204 waterfall: each row lands in its FIRST failing stage and " +
      "the ledger telescopes") {
    withTempDir { dir =>
      val long1 = Seq.fill(40)("alpha").mkString(" ") // 239 chars
      val long2 = Seq.fill(40)("gamma").mkString(" ")
      Seq(
        (1L, "", "en"),          // empty
        (2L, "short", "en"),     // < 150 chars
        (3L, long1, "fr"),       // unsupported lang
        (4L, long1, "en"),       // kept (first of fp group)
        (5L, long1, "en"),       // exact dup of 4
        (6L, long2, "en"))       // kept
        .toDF("doc_id", "text", "lang")
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .withColumn("source", lit("t"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextQueries.q204MedallionWaterfall.fn(spark, dir)
        .select("stage", "n_dropped", "n_remaining")
        .as[(String, Long, Long)].collect().toList
      out shouldBe List(
        ("1_null_empty", 1L, 5L),
        ("2_too_short", 1L, 4L),
        ("3_unsupported_lang", 1L, 3L),
        ("4_exact_dup", 1L, 2L),
        ("5_kept", 0L, 2L))
    }
  }

  test("q205 IDF drift: a term present in every even doc but half the " +
      "odd docs doubles, a stable term stays at parity") {
    withTempDir { dir =>
      // "e" df: epoch0 (even ids) 10/10, epoch1 (odd ids) 5/10 -> 2x;
      // "c" everywhere -> ratio exactly 1e6
      val docs = (1L to 20L).map { i =>
        val hasE = i % 2 == 0 || i <= 9
        i -> (Seq("c") ++ (if (hasE) Seq("e") else Seq.empty))
          .mkString(" ")
      }
      writeDocs(dir, docs)
      val out = CorpusQueries.q205IdfDrift.fn(spark, dir)
        .select("tok", "df1", "df2", "drift_ppm")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(("e", 10L, 5L, 2000000L), ("c", 10L, 10L, 1000000L))
    }
  }

  test("q168 skyline: dominated, tied and duplicate points resolve to " +
      "the exact per-brand frontier") {
    withTempDir { dir =>
      Seq(
        // brand B1: pk1 frontier; pk5 duplicates it (collapses to pk1);
        // pk4 same size, worse price -> dominated; pk2 worse in both;
        // pk3 pricier but bigger -> frontier
        (1L, "B1", 10, 1.00), (2L, "B1", 5, 2.00), (3L, "B1", 15, 2.00),
        (4L, "B1", 10, 1.50), (5L, "B1", 10, 1.00),
        // brand B2 is its own frontier — groups never interfere
        (6L, "B2", 1, 5.00))
        .toDF("p_partkey", "p_brand", "p_size", "p_retailprice")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val out = RelationalQueries.q168Skyline.fn(spark, dir)
        .select("p_brand", "p_partkey", "price", "p_size")
        .as[(String, Long, Long, Int)].collect().toList
      out shouldBe List(
        ("B1", 1L, 100L, 10), ("B1", 3L, 200L, 15), ("B2", 6L, 500L, 1))
    }
  }

  test("q206 local clustering: triangle corners get credit, pendant is excluded") {
    withTempDir { dir =>
      val cell = 600L * 1000000000L // one 10-minute cell in ns
      // cell 0: users 1,2,3 -> triangle; cell 1: users 3,4 -> pendant edge
      writeEvents(dir, Seq(
        (1L, 1L, 0 * cell, "a", 0.0),
        (2L, 2L, 0 * cell, "a", 0.0),
        (3L, 3L, 0 * cell, "a", 0.0),
        (4L, 3L, 1 * cell, "a", 0.0),
        (5L, 4L, 1 * cell, "a", 0.0)))
      val out = GraphQueries.q206LocalClustering.fn(spark, dir)
        .select("node", "d", "tri_v", "wedges_v", "lcc")
        .as[(Long, Long, Long, Long, Double)].collect().toList
      // degree-1 vertex 4 is absent; 1 and 2 close their only wedge;
      // 3 has 3 wedges, 1 closed
      out shouldBe List(
        (1L, 2L, 1L, 1L, 1.0),
        (2L, 2L, 1L, 1L, 1.0),
        (3L, 3L, 1L, 3L, 1.0 / 3.0))
    }
  }

  test("q207 golden record: longest-text canon, sorted source union, singleton dropped") {
    withTempDir { dir =>
      // ids 1,2,3 share the blocking key (trim+lower 5-token prefix —
      // here both tokens); 4 is alone
      Seq((1L, "hello world", "s2"),
        (2L, "Hello World  ", "s1"),
        (3L, "  HELLO WORLD", "s1"),
        (4L, "something else", "s1"))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = DedupQueries.q207GoldenRecord.fn(spark, dir)
        .select("canon_id", "canon_chars", "n_members", "n_sources",
          "sources", "min_id", "max_id")
        .as[(Long, Long, Long, Long, String, Long, Long)].collect().toList
      // 2 and 3 tie at 13 chars -> lowest id 2 wins the election
      out shouldBe List((2L, 13L, 3L, 2L, "s1,s2", 1L, 3L))
    }
  }

  test("q208 mutual nn: reciprocal top-1 pairs survive, cross pairs don't") {
    withTempDir { dir =>
      // all first-4 signs >= 0 -> one bucket; two tight pairs
      Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
        (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),
        (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0),
        (4L, Seq(0.1f, 0.9f, 0.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = SimilarityQueries.q208MutualNn.fn(spark, dir)
        .select("a", "b").as[(Long, Long)].collect().toList
      out shouldBe List((1L, 2L), (3L, 4L))
    }
  }

  test("q209 cohort ltv: ages offset from first order month, cumulative is exact") {
    withTempDir { dir =>
      Seq((1L, 1L, "1995-01-15", 100.0),
        (2L, 1L, "1995-03-10", 50.0),
        (3L, 2L, "1995-03-20", 200.0))
        .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q209CohortLtv.fn(spark, dir)
        .select("cohort_ym", "age", "n_active", "revenue", "cum_revenue")
        .as[(Long, Long, Long, Double, Double)].collect().toList
      val c1 = 1995L * 12 + 0
      val c2 = 1995L * 12 + 2
      out shouldBe List(
        (c1, 0L, 1L, 100.0, 100.0),
        (c1, 2L, 1L, 50.0, 150.0),
        (c2, 0L, 1L, 200.0, 200.0))
    }
  }

  test("q211 seasonal dow: per-day normalization, Sunday=0 on both engines") {
    withTempDir { dir =>
      // two Sundays (100 each), one Monday (50): Sunday is per-day hot
      Seq((1L, 1L, "1995-01-01", 100.0), (2L, 2L, "1995-01-08", 100.0),
        (3L, 3L, "1995-01-02", 50.0))
        .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q211SeasonalDow.fn(spark, dir)
        .select("dow", "n_orders", "n_days", "revenue", "seasonal_index")
        .as[(Long, Long, Long, Double, Double)].collect().toList
      out shouldBe List(
        (0L, 2L, 2L, 200.0, (200.0 / 2.0) / (250.0 / 3.0)),
        (1L, 1L, 1L, 50.0, (50.0 / 1.0) / (250.0 / 3.0)))
    }
  }

  test("q212 purchase gaps: consecutive-order day gaps bucketed by week") {
    withTempDir { dir =>
      // cust 1: days 0, 10, 24 -> gaps 10 d (week 1) and 14 d (week 2);
      // cust 2: one order -> no gap
      Seq((1L, 1L, "1995-01-01"), (2L, 1L, "1995-01-11"),
        (3L, 1L, "1995-01-25"), (4L, 2L, "1995-06-01"))
        .toDF("o_orderkey", "o_custkey", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q212PurchaseGaps.fn(spark, dir)
        .select("gap_weeks", "n_gaps", "n_customers")
        .as[(Long, Long, Long)].collect().toList
      out shouldBe List((1L, 1L, 1L), (2L, 1L, 1L))
    }
  }

  test("q213 rtbf audit: cohort blast radius matches an independent md5 model") {
    withTempDir { dir =>
      // independent Scala model of the cohort rule (engine uses SQL md5)
      def bucket(k: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(k.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
      }
      val custs = (1L to 200L)
      custs.map(k => Tuple1(k)).toDF("c_custkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      custs.map(k => (k * 10, k)).toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      custs.flatMap(k => Seq((k * 10, 1L), (k * 10, 2L)))
        .toDF("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val nCohort = custs.count(k => bucket(k) < 5).toLong
      nCohort should be > 0L // the model must actually select someone
      val out = GovernanceQueries.q213RtbfAudit.fn(spark, dir)
        .select("table_name", "n_rows", "n_purged", "purge_ppm")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("customer", 200L, nCohort, nCohort * 1000000L / 200L),
        ("lineitem", 400L, 2 * nCohort, 2 * nCohort * 1000000L / 400L),
        ("orders", 200L, nCohort, nCohort * 1000000L / 200L))
    }
  }

  test("q214 abc classes: integer boundary test at exactly 80/95 percent") {
    withTempDir { dir =>
      // cents 800 / 150 / 50: cum hits the 80 % and 95 % boundaries exactly
      Seq((1L, 10L, 8.00), (2L, 20L, 1.50), (3L, 30L, 0.50))
        .toDF("l_orderkey", "l_partkey", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q214AbcClasses.fn(spark, dir)
        .select("abc_class", "n_parts", "cents", "share")
        .as[(String, Long, Long, Double)].collect().toList
      out shouldBe List(
        ("A", 1L, 800L, 0.8), ("B", 1L, 150L, 0.15), ("C", 1L, 50L, 0.05))
    }
  }

  test("q215 trigram paths: windows stay inside the session, both walks counted") {
    withTempDir { dir =>
      val m = 60L * 1000000000L
      // one session a,b,c,d -> trigrams a>b>c and b>c>d; the next
      // session (2 h later) has only 2 events -> no trigram
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "a", 0.0),
        (2L, 1L, 1 * m, "b", 0.0),
        (3L, 1L, 2 * m, "c", 0.0),
        (4L, 1L, 3 * m, "d", 0.0),
        (5L, 1L, 200 * m, "e", 0.0),
        (6L, 1L, 201 * m, "f", 0.0)))
      val out = EventQueries.q215TrigramPaths.fn(spark, dir)
        .select("path", "n_walks").as[(String, Long)].collect().toList
      out shouldBe List(("a>b>c", 1L), ("b>c>d", 1L))
    }
  }

  test("q216 anova: hand-computed F for two weekday groups") {
    withTempDir { dir =>
      // Sundays: daily cents 10000, 20000; Mondays: 10000, 10000
      // T = 450e6 + 200e6; ssb = 650e6 - 625e6 = 25e6; ssw = 50e6; F = 1
      Seq((1L, 1L, "1995-01-01", 100.0), (2L, 2L, "1995-01-08", 200.0),
        (3L, 3L, "1995-01-02", 100.0), (4L, 4L, "1995-01-09", 100.0))
        .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q216AnovaDow.fn(spark, dir)
        .select("n_days", "k", "ssb", "ssw", "f_stat")
        .as[(Long, Long, Double, Double, Double)].collect().toList
      out shouldBe List((4L, 2L, 2.5e7, 5.0e7, 1.0))
    }
  }

  test("q217 hhi: squared-share concentration per nation, monopoly = 1") {
    withTempDir { dir =>
      Seq((0, "A"), (1, "B")).toDF("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq((1L, 0), (2L, 0), (3L, 1)).toDF("s_suppkey", "s_nationkey")
        .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
      // nation A: suppliers earn 300 and 100 cents -> HHI = 0.625;
      // nation B: one supplier -> monopoly
      Seq((10L, 1L, 3.00), (11L, 2L, 1.00), (12L, 3L, 1.00))
        .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q217SupplierHhi.fn(spark, dir)
        .select("n_name", "n_suppliers", "total_cents", "hhi")
        .as[(String, Long, Long, Double)].collect().toList
      out shouldBe List(("A", 2L, 400L, 0.625), ("B", 1L, 100L, 1.0))
    }
  }

  test("q218 cluster margin: orthogonal tight clusters get margin 1") {
    withTempDir { dir =>
      Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
        (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
        (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1),
        (4L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = SimilarityQueries.q218ClusterMargin.fn(spark, dir)
        .select("label", "n_vecs", "cohesion", "nearest_other", "cross_sim",
          "margin")
        .as[(Int, Long, Double, Int, Double, Double)].collect().toList
      out shouldBe List(
        (0, 2L, 1.0, 1, 0.0, 1.0),
        (1, 2L, 1.0, 0, 0.0, 1.0))
    }
  }

  test("q219 hapax profile: once-only vocabulary share per source") {
    withTempDir { dir =>
      Seq((1L, "a a b", "s1"), (2L, "c", "s2"))
        .toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = CorpusQueries.q219HapaxProfile.fn(spark, dir)
        .select("source", "n_docs", "n_tokens", "vocab", "hapax",
          "hapax_share")
        .as[(String, Long, Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        ("s1", 1L, 3L, 2L, 1L, 0.5),
        ("s2", 1L, 1L, 1L, 1L, 1.0))
    }
  }

  test("q220 proximity search: merge-scan min gap, window bound at 5") {
    withTempDir { dir =>
      // x and y tie at 3 occurrences (tiebreak by term: x=tag1, y=tag2);
      // fillers occur once each so they can't reach the top-2
      writeDocs(dir, Seq(
        1L -> "x a b c d y", // min gap 5 -> kept
        2L -> "x e f g h i y", // gap 6 -> dropped
        3L -> "y x")) // gap 1 -> kept
      val out = CorpusQueries.q220ProximitySearch.fn(spark, dir)
        .select("doc_id", "n_a", "n_b", "min_gap")
        .as[(Long, Long, Long, Long)].collect().toList
      out shouldBe List((1L, 1L, 1L, 5L), (3L, 1L, 1L, 1L))
    }
  }

  test("q221 split balance: cells match an independent hash-split model") {
    withTempDir { dir =>
      def bucket(t: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
      }
      def split(t: String): String = {
        val b = bucket(t)
        if (b < 80) "train" else if (b < 90) "val" else "test"
      }
      val docs = (1L to 40L).map(i =>
        (i, s"doc number $i with ${"pad " * (i % 3).toInt}tail",
          if (i % 2 == 0) "en" else "de"))
      docs.toDF("doc_id", "text", "source")
        .withColumn("lang", col("source"))
        .withColumn("source", lit("t"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val expected = docs
        .map { case (_, t, lang) =>
          ((split(t), lang), t.split(" ", -1).length.toLong) }
        .groupBy(_._1).map { case ((sp, lang), xs) =>
          val n = xs.size.toLong
          val tok = xs.map(_._2).sum
          (sp, lang, n, tok)
        }.toList
      val bySplit = expected.groupBy(_._1)
        .map { case (sp, xs) => sp -> xs.map(_._3).sum }
      val expRows = expected.map { case (sp, lang, n, tok) =>
        (sp, lang, n, tok, tok.toDouble / n.toDouble,
          n.toDouble / bySplit(sp).toDouble)
      }.sortBy(r => (r._1, r._2))
      val out = TextQueries.q221SplitBalance.fn(spark, dir)
        .select("split", "lang", "n_docs", "n_tokens", "mean_tokens",
          "share_in_split")
        .as[(String, String, Long, Long, Double, Double)].collect().toList
      out shouldBe expRows
    }
  }

  test("q222 popularity baseline: leave-last-out holdout, top-10 hit test") {
    withTempDir { dir =>
      // c1: train {p5}, test {p7} -> miss; c2: single order (train only);
      // c3: train {p9}, test {p5} -> hit (p5 tops the train ranking)
      Seq((1L, 1L, "1995-01-01"), (2L, 1L, "1995-02-01"),
        (3L, 2L, "1995-01-05"), (4L, 3L, "1995-01-02"),
        (5L, 3L, "1995-03-01"))
        .toDF("o_orderkey", "o_custkey", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((1L, 5L), (2L, 7L), (3L, 5L), (4L, 9L), (5L, 5L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q222PopBaseline.fn(spark, dir)
        .select("n_users", "n_hits", "hit_rate")
        .as[(Long, Long, Double)].collect().toList
      out shouldBe List((2L, 1L, 0.5))
    }
  }

  test("q223 type-7 quantiles: hand-interpolated p50/p90/p99 on five values") {
    withTempDir { dir =>
      // cents 100..500: p50 h=2.0 -> 300; p90 h=3.6 -> 460; p99 h=3.96 -> 496
      (1L to 5L).map(i => (i, s"P1", i.toDouble))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q223QuantileInterp.fn(spark, dir)
        .select("o_orderpriority", "n", "p50", "p90", "p99")
        .as[(String, Long, Double, Double, Double)].collect().toList
      out.map(_._1) shouldBe List("P1")
      val (_, n, p50, p90, p99) = out.head
      n shouldBe 5L
      p50 shouldBe 300.0
      p90 shouldBe (400.0 + (3.6 - 3.0) * 100.0)
      p99 shouldBe (400.0 + (4 * 0.99 - 3.0) * 100.0)
    }
  }

  test("q224 gini mean difference: rank identity equals the pairwise mean") {
    withTempDir { dir =>
      // cents {100,200,300}: pairwise diffs {100,200,100} -> mean 400/3;
      // rank sum = -2*100 + 0*200 + 2*300 = 400 -> gmd = 800/6, gini = 400/1800
      Seq((1L, "P1", 1.00), (2L, "P1", 2.00), (3L, "P1", 3.00))
        .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q224GiniMeanDiff.fn(spark, dir)
        .select("o_orderpriority", "n", "total_cents", "gmd_cents", "gini")
        .as[(String, Long, Long, Double, Double)].collect().toList
      out shouldBe List(("P1", 3L, 600L, 800.0 / 6.0, 400.0 / 1800.0))
    }
  }

  test("q225 return-rate SPC: symmetric brands get symmetric z") {
    withTempDir { dir =>
      Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      // B1: 1/4 returned, B2: 3/4 -> global p0 = 0.5, z = -1 and +1
      val b1 = Seq.fill(3)((1L, "N")) :+ ((1L, "R"))
      val b2 = Seq.fill(3)((2L, "R")) :+ ((2L, "N"))
      (b1 ++ b2).toDF("l_partkey", "l_returnflag")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q225ReturnRate.fn(spark, dir)
        .select("p_brand", "n_lines", "n_returned", "return_ppm", "z")
        .as[(String, Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        ("B1", 4L, 1L, 250000L, -1.0),
        ("B2", 4L, 3L, 750000L, 1.0))
    }
  }

  test("q226 ship SLA: discrete quantiles over the lag histogram, breach ppm") {
    withTempDir { dir =>
      Seq((1L, "1-URGENT", "1995-01-01"))
        .toDF("o_orderkey", "o_orderpriority", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // lags 1, 2, 3, 100 days: p50 = 2, p95 = 100, one 90-day breach
      Seq("1995-01-02", "1995-01-03", "1995-01-04", "1995-04-11")
        .zipWithIndex.map { case (d, i) => (1L, i.toLong, d) }
        .toDF("l_orderkey", "l_linenumber", "sd")
        .withColumn("l_shipdate", to_timestamp(col("sd")))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q226ShipSla.fn(spark, dir)
        .select("o_orderpriority", "n_lines", "min_days", "p50_days",
          "p95_days", "max_days", "n_breach", "breach_ppm")
        .as[(String, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toList
      out shouldBe List(("1-URGENT", 4L, 1L, 2L, 100L, 100L, 1L, 250000L))
    }
  }

  test("q227 invoice reconciliation: one order lands in each band") {
    withTempDir { dir =>
      Seq((1L, 100.0), (2L, 100.0), (3L, 100.0), (4L, 100.0), (5L, 100.0))
        .toDF("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // line totals: 100.00 exact / 100.50 (0.5%) / 103 (3%) / 150 / none
      Seq((1L, 100.0), (2L, 100.5), (3L, 103.0), (4L, 150.0))
        .toDF("l_orderkey", "l_extendedprice")
        .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = GovernanceQueries.q227InvoiceRecon.fn(spark, dir)
        .select("band", "n_orders", "ppm")
        .as[(String, Long, Long)].collect().toList
      out shouldBe List(
        ("a_exact", 1L, 200000L), ("b_within_1pct", 1L, 200000L),
        ("c_within_5pct", 1L, 200000L), ("d_worse", 1L, 200000L),
        ("e_no_lines", 1L, 200000L))
    }
  }

  test("q228 threshold curve: pair survives exactly up to its jaccard, zero rows kept") {
    withTempDir { dir =>
      // docs 1,2: 3-shingle sets {abc,bcd} vs {abc,bcd,cde} -> J = 2/3;
      // doc 3 shares nothing (all its shingles have df 1)
      writeDocs(dir, Seq(
        1L -> "a b c d",
        2L -> "a b c d e",
        3L -> "p q r s"))
      val out = DedupQueries.q228ThresholdCurve.fn(spark, dir)
        .select("threshold", "n_pairs", "n_docs")
        .as[(Double, Long, Long)].collect().toList
      out shouldBe List(
        (0.5, 1L, 2L), (0.6, 1L, 2L), (0.7, 0L, 0L),
        (0.8, 0L, 0L), (0.9, 0L, 0L))
    }
  }

  test("q229 seasonal decomposition: only the complete window scores, exact dev") {
    withTempDir { dir =>
      // days 0..6 of 1970; only day 3 (a Sunday, dow 0) has a full
      // centered window: dev7 = 7*800 - 1400 = 4200 cents
      val cents = Seq(1.0, 1.0, 1.0, 8.0, 1.0, 1.0, 1.0)
      cents.zipWithIndex.map { case (v, i) =>
        (i.toLong, f"1970-01-${i + 1}%02d", v) }
        .toDF("o_orderkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q229SeasonalDecomp.fn(spark, dir)
        .select("dow", "n_windows", "sum_dev7", "mean_dev7_cents")
        .as[(Long, Long, Long, Double)].collect().toList
      out shouldBe List((0L, 1L, 4200L, 4200.0))
    }
  }

  test("q230 target encoding: LOO extremes from exact integer numerators") {
    withTempDir { dir =>
      Seq((1L, "S1"), (2L, "S1"), (3L, "S1"), (4L, "S2"), (5L, "S2"))
        .toDF("c_custkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      // spends: S1 = {100, 200, 600}; S2 = {0 (no orders), 50}
      Seq((1L, 1L, 1.00), (2L, 2L, 2.00), (3L, 3L, 6.00), (4L, 5L, 0.50))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q230TargetEncoding.fn(spark, dir)
        .select("c_mktsegment", "n", "sum_cents", "naive_mean", "min_loo",
          "max_loo", "max_leak_gap")
        .as[(String, Long, Long, Double, Double, Double, Double)]
        .collect().toList
      out shouldBe List(
        ("S1", 3L, 900L, 300.0, 150.0, 400.0, 150.0),
        ("S2", 2L, 50L, 25.0, 0.0, 50.0, 25.0))
    }
  }

  test("q231 link prediction: the open wedge scores, existing edges excluded") {
    withTempDir { dir =>
      val cell = 600L * 1000000000L
      // path 1-2-3 (edges 1-2 and 2-3): only the open pair (1,3) is a
      // candidate, through middle 2, scoring 1/(1+1-1) = 1
      writeEvents(dir, Seq(
        (1L, 1L, 0 * cell, "a", 0.0),
        (2L, 2L, 0 * cell, "a", 0.0),
        (3L, 2L, 1 * cell, "a", 0.0),
        (4L, 3L, 1 * cell, "a", 0.0)))
      val out = GraphQueries.q231LinkPrediction.fn(spark, dir)
        .select("u", "v", "cn", "du", "dv", "score")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toList
      out shouldBe List((1L, 3L, 1L, 1L, 1L, 1.0))
    }
  }

  test("q232 time-decay attribution: exact power-of-two credit split") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      // purchase (800 cents) at hour 2; clicks at hours 2 (w=2^24) and
      // 1 (w=2^23): credits floor(800e6*2/3) and floor(800e6/3)
      writeEvents(dir, Seq(
        (1L, 1L, 1 * h, "click", 0.0),
        (2L, 1L, 2 * h, "click", 0.0),
        (3L, 1L, 2 * h, "purchase", 8.0)))
      val out = EventQueries.q232TimeDecayAttribution.fn(spark, dir)
        .select("hour_of_day", "n_touches", "credited_micro",
          "credited_dollars")
        .as[(Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        (1L, 1L, 266666666L, 266666666L / 1e8),
        (2L, 1L, 533333333L, 533333333L / 1e8))
    }
  }

  test("q233 transition dwell: in-session edges only, exact mean seconds") {
    withTempDir { dir =>
      val m = 60L * 1000000000L
      // a -> b after 60 s; b -> c is 2 h later (outside the session gap)
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "a", 0.0),
        (2L, 1L, 1 * m, "b", 0.0),
        (3L, 1L, 121 * m, "c", 0.0)))
      val out = EventQueries.q233TransitionDwell.fn(spark, dir)
        .select("from_type", "to_type", "n", "sum_gap_us", "mean_gap_s")
        .as[(String, String, Long, Long, Double)].collect().toList
      out shouldBe List(("a", "b", 1L, 60000000L, 60.0))
    }
  }

  test("q234 dedup transitivity: an open similarity wedge yields closure 0") {
    withTempDir { dir =>
      // J(1,2)=3/4 and J(2,3)=3/5 pass 0.5; J(1,3)=2/5 fails ->
      // edges (1,2),(2,3) only: one wedge at doc 2, no triangle
      writeDocs(dir, Seq(
        1L -> "a b c d e",
        2L -> "a b c d e f",
        3L -> "b c d e f g"))
      val out = DedupQueries.q234DedupTransitivity.fn(spark, dir)
        .select("n_pairs", "n_wedges", "n_tri", "closure_rate")
        .as[(Long, Long, Long, Double)].collect().toList
      out shouldBe List((2L, 1L, 0L, 0.0))
    }
  }

  test("q235 drill-across: header and line paths diverge by exact ppm") {
    withTempDir { dir =>
      Seq((0, "A")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      Seq((0, 0)).toDF("n_nationkey", "n_regionkey")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq((1L, 0)).toDF("c_custkey", "c_nationkey")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((1L, 1L, 100.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((1L, 100.5)).toDF("l_orderkey", "l_extendedprice")
        .withColumn("l_discount", lit(0.0)).withColumn("l_tax", lit(0.0))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q235DrillAcross.fn(spark, dir)
        .select("r_name", "hdr_cents", "line_cents", "delta_ppm")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(("A", 10000L, 10050L, 5000L))
    }
  }

  test("q236 fan-out profile: discrete quantiles per FK edge") {
    withTempDir { dir =>
      Seq((1L, 10L), (2L, 10L), (3L, 20L))
        .toDF("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 20L))
        .toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q236FanoutProfile.fn(spark, dir)
        .select("edge", "n_groups", "p50", "p99", "max_size")
        .as[(String, Long, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("lines_per_order", 2L, 1L, 3L, 3L),
        ("lines_per_part", 2L, 2L, 2L, 2L),
        ("orders_per_customer", 2L, 1L, 2L, 2L))
    }
  }

  test("q237 content signature: matches an independent commutative-hash model") {
    withTempDir { dir =>
      def h60(s: String): BigInt = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        BigInt(hex.substring(0, 15), 16)
      }
      val mod = BigInt(2).pow(61)
      Seq((0, "ALPHA"), (1, "BETA")).toDF("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq((7L, "Customer#7", 0, "SEG")).toDF(
          "c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((9L, 7L, "O", "1-URGENT")).toDF(
          "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val expNation = ((h60("0|ALPHA") + h60("1|BETA")) mod mod).toLong
      val expCust = (h60("7|Customer#7|0|SEG") mod mod).toLong
      val expOrders = (h60("9|7|O|1-URGENT") mod mod).toLong
      val out = GovernanceQueries.q237ContentSignature.fn(spark, dir)
        .select("table_name", "n_rows", "signature")
        .as[(String, Long, Long)].collect().toList
      out shouldBe List(
        ("customer", 1L, expCust), ("nation", 2L, expNation),
        ("orders", 1L, expOrders))
    }
  }

  test("q238 process conformance: the error->view edge is flagged") {
    withTempDir { dir =>
      val m = 60L * 1000000000L
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "signup", 0.0),
        (2L, 1L, 1 * m, "view", 0.0),
        (3L, 1L, 2 * m, "error", 0.0),
        (4L, 1L, 3 * m, "view", 0.0)))
      val out = EventQueries.q238ProcessConformance.fn(spark, dir)
        .select("from_type", "to_type", "n", "allowed", "share")
        .as[(String, String, Long, Boolean, Double)].collect().toList
      out shouldBe List(
        ("error", "view", 1L, false, 1.0 / 3.0),
        ("signup", "view", 1L, true, 1.0 / 3.0),
        ("view", "error", 1L, true, 1.0 / 3.0))
    }
  }

  test("q239 diff-in-diff: hand-built 2x2 cells, trend differenced out") {
    withTempDir { dir =>
      def arm(u: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$u:ab1".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2
      }
      val uT = (1L to 50L).find(arm(_) == 1L).get
      val uC = (1L to 50L).find(arm(_) == 0L).get
      val h = 3600L * 1000000000L
      // midpoint of [0, 2h] = 1h: events at 0 are pre, at 2h post
      writeEvents(dir, Seq(
        (1L, uT, 0 * h, "view", 1.0), (2L, uT, 2 * h, "view", 3.0),
        (3L, uC, 0 * h, "view", 1.0), (4L, uC, 2 * h, "view", 1.5)))
      val out = EventQueries.q239DiffInDiff.fn(spark, dir)
        .select("mean_t_pre", "mean_t_post", "mean_c_pre", "mean_c_post",
          "did")
        .as[(Double, Double, Double, Double, Double)].collect().toList
      out shouldBe List((100.0, 300.0, 100.0, 150.0, 150.0))
    }
  }

  test("q240 cohen's kappa: integer identity matches the hand matrix") {
    withTempDir { dir =>
      // cells: (en,en,1), (de,de,1), (de,en,1): D=2, P=1*2+2*1=4,
      // kappa = (3*2-4)/(9-4) = 0.4
      Seq((1L, "the a", "en"), (2L, "scan", "de"), (3L, "the", "de"))
        .toDF("doc_id", "text", "lang")
        .withColumn("source", lit("t"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = TextQueries.q240CohensKappa.fn(spark, dir)
        .select("n_docs", "d_agree", "p_chance_num", "accuracy", "kappa")
        .as[(Long, Long, Long, Double, Double)].collect().toList
      out shouldBe List((3L, 2L, 4L, 2.0 / 3.0, 0.4))
    }
  }

  test("q241 ann bits curve: two clean clusters give full recall at 0.4 scan") {
    withTempDir { dir =>
      // ids 0-4: dim1 positive; ids 5-9: dim1 negative -> the clusters
      // never share a bucket at any k, and cross-cluster cosines are
      // negative, so bucket top-3 = global truth for every query
      val rows =
        (0 until 5).map(i => (i.toLong,
          Seq(1.0f, 0.1f * i, 0.1f, 0.1f), 0)) ++
        (5 until 10).map(i => (i.toLong,
          Seq(-1.0f, 0.1f * (i - 5), 0.1f, 0.1f), 1))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val out = SimilarityQueries.q241AnnBitsCurve.fn(spark, dir)
        .select("n_planes", "n_candidates", "n_hits", "recall_at_3",
          "scan_frac")
        .as[(Int, Long, Long, Double, Double)].collect().toList
      out shouldBe List(
        (2, 40L, 30L, 1.0, 0.4),
        (3, 40L, 30L, 1.0, 0.4),
        (4, 40L, 30L, 1.0, 0.4))
    }
  }

  test("q242 minhash accuracy: the J=2/3 pair lands in decile 6 with a sane estimate") {
    withTempDir { dir =>
      writeDocs(dir, Seq(
        1L -> "a b c d",
        2L -> "a b c d e",
        3L -> "p q r s"))
      val out = DedupQueries.q242MinhashAccuracy.fn(spark, dir)
        .select("decile", "n_pairs", "mean_est", "mean_signed_err",
          "max_abs_err_256ths")
        .as[(Long, Long, Double, Double, Long)].collect().toList
      out.map(r => (r._1, r._2)) shouldBe List((6L, 1L))
      val (_, _, est, signed, maxErr) = out.head
      est should be >= 0.0
      est should be <= 1.0
      // signed error is est - 2/3, both rounded at 1e-6 in decimal
      math.abs(signed - (est - 2.0 / 3.0)) should be < 2e-6
      maxErr should be <= 256L
    }
  }

  test("q243 fd discovery: a planted violation is counted in rows and groups") {
    withTempDir { dir =>
      // c_custkey -> c_nationkey holds; c_nationkey -> c_mktsegment is
      // broken for nation 0 (two segments, 3 rows in the broken group)
      Seq((1L, 0, "S1"), (2L, 0, "S1"), (3L, 0, "S2"), (4L, 1, "S1"))
        .toDF("c_custkey", "c_nationkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((0, 0), (1, 0)).toDF("n_nationkey", "n_regionkey")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      Seq((10L, "B1")).toDF("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      Seq((100L, 7L), (100L, 8L)).toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = GovernanceQueries.q243FdDiscovery.fn(spark, dir)
        .select("fd", "n_groups", "n_broken_groups", "n_rows",
          "n_broken_rows", "broken_ppm")
        .as[(String, Long, Long, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("custkey_to_nation", 4L, 0L, 4L, 0L, 0L),
        ("nation_to_segment", 2L, 1L, 4L, 3L, 750000L),
        ("nationkey_to_region", 2L, 0L, 2L, 0L, 0L),
        ("order_to_supplier", 1L, 1L, 2L, 2L, 1000000L),
        ("partkey_to_brand", 1L, 0L, 1L, 0L, 0L))
    }
  }

  test("q244 double-fire: same-type repeats inside 10 min, fresh ids caught") {
    withTempDir { dir =>
      val m = 60L * 1000000000L
      // clicks at 0, 3 min, 6 min: two qualifying repeats; the views
      // are 20 min apart and never qualify
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "click", 0.0),
        (2L, 1L, 3 * m, "click", 0.0),
        (3L, 1L, 6 * m, "click", 0.0),
        (4L, 1L, 30 * m, "view", 0.0),
        (5L, 1L, 50 * m, "view", 0.0)))
      val out = EventQueries.q244DoubleFire.fn(spark, dir)
        .select("event_type", "n_refires", "n_users", "tightest_gap_us")
        .as[(String, Long, Long, Long)].collect().toList
      out shouldBe List(("click", 2L, 1L, 180000000L))
    }
  }

  test("q245 forecast backtest: flat week forecasting a 50% jump") {
    withTempDir { dir =>
      // week 1: 100 cents/day; week 2: 150 -> every scored day has
      // abs_err 50, MAPE 50/150 rounded at 1e-6
      val rows = (0 until 14).map { d =>
        (d.toLong, f"1970-01-${d + 1}%02d", if (d < 7) 1.00 else 1.50) }
      rows.toDF("o_orderkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q245ForecastBacktest.fn(spark, dir)
        .select("dow", "n_days", "sum_abs_err", "mae_cents", "mape")
        .as[(Long, Long, Long, Double, Double)].collect().toList
      out.map(_._1) shouldBe (0L to 6L).toList
      out.foreach { case (_, n, sae, mae, mape) =>
        n shouldBe 1L
        sae shouldBe 50L
        mae shouldBe 50.0
        mape shouldBe 0.333333
      }
    }
  }

  test("q246 fill rate: blanks and nulls counted as unfilled") {
    withTempDir { dir =>
      Seq((1L, "Name", "SEG"), (2L, "", "S2"))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      Seq((1L, "O", "1-URGENT"))
        .toDF("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((1L, "hello", "en", Some("s")), (2L, "", "de", None))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      writeEvents(dir, Seq((1L, 1L, 0L, "view", 0.0)))
      val out = RelationalQueries.q246FillRate.fn(spark, dir)
        .select("table_name", "column_name", "n_rows", "n_filled",
          "fill_ppm")
        .as[(String, String, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("customer", "c_mktsegment", 2L, 2L, 1000000L),
        ("customer", "c_name", 2L, 1L, 500000L),
        ("documents", "lang", 2L, 2L, 1000000L),
        ("documents", "source", 2L, 1L, 500000L),
        ("documents", "text", 2L, 1L, 500000L),
        ("events", "event_type", 1L, 1L, 1000000L),
        ("events", "props", 1L, 1L, 1000000L),
        ("orders", "o_orderpriority", 1L, 1L, 1000000L),
        ("orders", "o_orderstatus", 1L, 1L, 1000000L))
    }
  }

  test("q247 freshness skew: lags against the freshest table, 30-day tails") {
    withTempDir { dir =>
      Seq((1L, "1995-01-01"), (2L, "1995-02-15"))
        .toDF("o_orderkey", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      Seq((1L, "1995-03-01")).toDF("l_orderkey", "sd")
        .withColumn("l_shipdate", to_timestamp(col("sd")))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // one event on 1995-01-10: 50 days behind lineitem's watermark
      val day = 86400000000L
      val jan10Us = java.time.LocalDate.parse("1995-01-10")
        .toEpochDay * day
      val mar01Us = java.time.LocalDate.parse("1995-03-01")
        .toEpochDay * day
      writeEvents(dir, Seq((1L, 1L, jan10Us * 1000L, "view", 0.0)))
      val out = GovernanceQueries.q247FreshnessSkew.fn(spark, dir)
        .select("table_name", "n_rows", "max_ts_us", "lag_us", "n_last_30d")
        .as[(String, Long, Long, Long, Long)].collect().toList
      out shouldBe List(
        ("events", 1L, jan10Us, mar01Us - jan10Us, 1L),
        ("lineitem", 1L, mar01Us, 0L, 1L),
        ("orders", 2L, mar01Us - 14L * day, 14L * day, 1L))
    }
  }

  test("q248 lead-lag xcorr: a shifted linear series correlates exactly at +1") {
    withTempDir { dir =>
      val d = 86400L * 1000000000L
      // purchases 100/200/300 on days 0/1/2; errors 1/2/3 on days 1/2/3:
      // err(d+1) is a perfect linear function of rev(d) -> r(+1) = 1
      writeEvents(dir, Seq(
        (1L, 1L, 0 * d, "purchase", 1.0),
        (2L, 1L, 1 * d, "purchase", 2.0),
        (3L, 1L, 2 * d, "purchase", 3.0),
        (4L, 2L, 1 * d, "error", 0.0),
        (5L, 2L, 2 * d, "error", 0.0), (6L, 3L, 2 * d, "error", 0.0),
        (7L, 2L, 3 * d, "error", 0.0), (8L, 3L, 3 * d, "error", 0.0),
        (9L, 4L, 3 * d, "error", 0.0)))
      val byLag = EventQueries.q248LeadLagXcorr.fn(spark, dir)
        .select("lag", "n_days", "r")
        .as[(Long, Long, Option[Double])].collect().toList
        .map(t => t._1 -> (t._2, t._3)).toMap
      byLag(1L) shouldBe ((3L, Some(1.0)))
    }
  }

  test("q249 otif score: late and returned failures separated, worst first") {
    withTempDir { dir =>
      Seq((1L, "1995-01-01")).toDF("o_orderkey", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // s1: one OTIF line + one late; s2: one returned -> s2 ranks worst
      Seq((1L, 1L, "N", "1995-01-11"), (1L, 1L, "N", "1995-02-10"),
        (1L, 2L, "R", "1995-01-06"))
        .toDF("l_orderkey", "l_suppkey", "l_returnflag", "sd")
        .withColumn("l_shipdate", to_timestamp(col("sd")))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q249OtifScore.fn(spark, dir)
        .select("l_suppkey", "n_lines", "n_otif", "n_late", "n_returned",
          "otif_ppm")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toList
      out shouldBe List(
        (2L, 1L, 0L, 0L, 1L, 0L),
        (1L, 2L, 1L, 1L, 0L, 500000L))
    }
  }

  test("q250 revenue bridge: hand-decomposed gross/discount/tax/net") {
    withTempDir { dir =>
      Seq((1L, 100.0, 0.1, 0.2))
        .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q250RevenueBridge.fn(spark, dir)
        .select("component", "cents", "share_of_gross")
        .as[(String, Long, Double)].collect().toList
      out shouldBe List(
        ("a_gross", 10000L, 1.0), ("b_discount", 1000L, 0.1),
        ("c_tax", 1800L, 0.18), ("d_net", 10800L, 1.08))
    }
  }

  test("q251 concurrency profile: time-weighted levels from the boundary sweep") {
    withTempDir { dir =>
      val m = 60L * 1000000000L
      // u1 session [0, 10 min]; u3 session [2, 8 min]; u2 point session
      // at 5 min (zero duration -- weightless). Level 2 holds 6 of the
      // 10 observed minutes -> p50 = p99 = max = 2
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "a", 0.0), (2L, 1L, 10 * m, "a", 0.0),
        (3L, 3L, 2 * m, "a", 0.0), (4L, 3L, 8 * m, "a", 0.0),
        (5L, 2L, 5 * m, "a", 0.0)))
      val out = EventQueries.q251ConcurrencyProfile.fn(spark, dir)
        .select("observed_us", "max_conc", "p50_conc", "p99_conc")
        .as[(Long, Long, Long, Long)].collect().toList
      out shouldBe List((600000000L, 2L, 2L, 2L))
    }
  }

  test("q252 basket economics: joint size-value table with shares") {
    withTempDir { dir =>
      Seq((1L, 1.00), (2L, 2.00), (2L, 3.00))
        .toDF("l_orderkey", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q252BasketEconomics.fn(spark, dir)
        .select("n_lines", "n_orders", "order_share", "avg_order_cents")
        .as[(Long, Long, Double, Double)].collect().toList
      out shouldBe List((1L, 1L, 0.5, 100.0), (2L, 1L, 0.5, 500.0))
    }
  }

  test("q253 deviation drawdown: hand-walked cumulative deviation") {
    withTempDir { dir =>
      // cents 100,100,40,160: n-scaled deviations 0,0,-240,240 ->
      // cumulative 0,0,-240,0 -> max drawdown 240 at day 2
      Seq((1L, "1970-01-01", 1.00), (2L, "1970-01-02", 1.00),
        (3L, "1970-01-03", 0.40), (4L, "1970-01-04", 1.60))
        .toDF("o_orderkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q253DeviationDrawdown.fn(spark, dir)
        .select("n_days", "max_drawdown_ncents", "trough_day")
        .as[(Long, Double, Long)].collect().toList
      out shouldBe List((4L, 240.0, 2L))
    }
  }

  test("q254 activity heatmap: one total-order peak cell, exact shares") {
    withTempDir { dir =>
      val h = 3600L * 1000000000L
      val day3 = 3L * 24 * h // epoch day 3 is a Sunday (dow 0)
      val day4 = 4L * 24 * h
      writeEvents(dir, Seq(
        (1L, 1L, day3 + 5 * h, "a", 0.0),
        (2L, 2L, day3 + 5 * h, "a", 0.0),
        (3L, 3L, day3 + 5 * h, "a", 0.0),
        (4L, 1L, day4 + 5 * h, "a", 0.0)))
      val out = EventQueries.q254ActivityHeatmap.fn(spark, dir)
        .select("dow", "hour", "n_events", "share", "is_peak")
        .as[(Long, Long, Long, Double, Boolean)].collect().toList
      out shouldBe List(
        (0L, 5L, 3L, 0.75, true),
        (1L, 5L, 1L, 0.25, false))
    }
  }

  test("q255 new vs returning: first-month revenue split with exact cents") {
    withTempDir { dir =>
      // c1: Jan (new) then Mar (returning); c2: Mar (new)
      Seq((1L, 1L, "1995-01-15", 100.0), (2L, 1L, "1995-03-10", 50.0),
        (3L, 2L, "1995-03-20", 200.0))
        .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = RelationalQueries.q255NewVsReturning.fn(spark, dir)
        .select("ym", "n_new_cust", "n_ret_cust", "new_cents", "ret_cents",
          "new_share")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toList
      val jan = 1995L * 12
      out shouldBe List(
        (jan, 1L, 0L, 10000L, 0L, 1.0),
        (jan + 2, 1L, 1L, 20000L, 5000L, 0.8))
    }
  }

  test("q256 hhi trend: per-year concentration with a total-order top brand") {
    withTempDir { dir =>
      Seq((1L, "B1"), (2L, "B2")).toDF("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      Seq((1L, "1995-06-01"), (2L, "1996-06-01"))
        .toDF("o_orderkey", "d")
        .withColumn("o_orderdate", to_timestamp(col("d")))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      // 1995: B1=300, B2=100 -> HHI 0.625, top B1 0.75;
      // 1996: B2 only -> monopoly
      Seq((1L, 1L, 3.00), (1L, 2L, 1.00), (2L, 2L, 1.00))
        .toDF("l_orderkey", "l_partkey", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val out = RelationalQueries.q256HhiTrend.fn(spark, dir)
        .select("yr", "n_brands", "total_cents", "top_brand", "top_share",
          "hhi")
        .as[(Long, Long, Long, String, Double, Double)].collect().toList
      out shouldBe List(
        (1995L, 2L, 400L, "B1", 0.75, 0.625),
        (1996L, 1L, 100L, "B2", 1.0, 1.0))
    }
  }

  test("q210 entry/exit/bounce: roles from session position, bounce = both") {
    withTempDir { dir =>
      val m = 60L * 1000000000L // one minute in ns
      // user 1: session 1 = [a, b] (1 min apart), session 2 = [c] (2 h later)
      writeEvents(dir, Seq(
        (1L, 1L, 0 * m, "a", 0.0),
        (2L, 1L, 1 * m, "b", 0.0),
        (3L, 1L, 121 * m, "c", 0.0)))
      val out = EventQueries.q210EntryExitBounce.fn(spark, dir)
        .select("event_type", "n_entry", "n_exit", "n_bounce", "entry_share")
        .as[(String, Long, Long, Long, Double)].collect().toList
      out shouldBe List(
        ("a", 1L, 0L, 0L, 0.5),
        ("b", 0L, 1L, 0L, 0.0),
        ("c", 1L, 1L, 1L, 0.5))
    }
  }

  test("q257 matryoshka: full-width arm would be perfect, hit counts bounded") {
    val dir = "/root/testdata/sf0.001"
    val out = SimilarityQueries.q257MatryoshkaRecall.fn(spark, dir)
      .select("d", "n_queries", "n_hits", "recall_at_5")
      .as[(Int, Long, Long, Double)].collect().toList
    out.map(_._1) shouldBe List(8, 16, 32)
    out.foreach { case (_, nq, hits, recall) =>
      nq shouldBe 10L
      hits should be >= 0L
      hits should be <= 5 * nq
      recall shouldBe hits.toDouble / (5.0 * nq)
    }
    // wider truncation keeps at least as much of the head-packed signal
    // on this corpus (not a theorem, but a fixture-stable sanity rail)
    val nHits = out.map(_._3)
    nHits.zip(nHits.tail).foreach { case (a, b) => b should be >= a }
  }

  test("q258 prefix-dup curve: refinement monotonicity across k") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q258PrefixDupCurve.fn(spark, dir)
      .select("k", "n_docs", "n_prefixes", "n_shared_docs", "max_group")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe List(1L, 2L, 3L, 5L, 8L)
    // every arm sees the whole (non-null-text) corpus
    out.map(_._2).distinct should have size 1
    // longer prefixes REFINE shorter ones: distinct-prefix counts can
    // only grow, shared-doc counts and the largest group can only shrink
    def pairs(xs: List[Long]) = xs.zip(xs.tail)
    pairs(out.map(_._3)).foreach { case (a, b) => b should be >= a }
    pairs(out.map(_._4)).foreach { case (a, b) => b should be <= a }
    pairs(out.map(_._5)).foreach { case (a, b) => b should be <= a }
  }

  test("q260 shard packing: shards partition the corpus in id order") {
    val dir = "/root/testdata/sf0.001"
    val out = MultimodalQueries.q260ShardPacking.fn(spark, dir)
      .select("shard", "n_assets", "bytes", "first_id", "last_id")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    // contiguous shard ids from 0
    out.map(_._1) shouldBe out.indices.map(_.toLong).toList
    // id ranges are ordered and non-overlapping across shards
    out.sliding(2).foreach { case List(a, b) =>
      b._4 should be > a._5
    case _ => ()
    }
    // the shards partition the corpus exactly
    val docs = graft.engine.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
    out.map(_._2).sum shouldBe docs.count()
    out.map(_._3).sum shouldBe docs
      .agg(sum(octet_length(col("text")).cast("long"))).as[Long]
      .collect().head
  }

  test("q261 contrastive mining: hard above easy, no dups, bounded per anchor") {
    val dir = "/root/testdata/sf0.001"
    val out = DedupQueries.q261ContrastiveMining.fn(spark, dir)
      .select("a_id", "kind", "rank", "neg_id", "jacc")
      .as[(Long, String, Long, Long, Double)].collect().toList
    out should not be empty
    // per (anchor, kind): at most 3, ranks 1..n, no self-pairs
    out.groupBy(t => (t._1, t._2)).foreach { case (_, rows) =>
      rows.length should be <= 3
      rows.map(_._3).sorted shouldBe (1L to rows.length).toList
    }
    out.foreach { case (a, _, _, n, j) =>
      n should not be a
      j should be < 0.8 // never a duplicate-level pair
    }
    // the mined hard negatives are at least as similar as the easy ones
    val hard = out.filter(_._2 == "hard").map(_._5)
    val easy = out.filter(_._2 == "easy").map(_._5)
    if (hard.nonEmpty && easy.nonEmpty)
      hard.sum / hard.length should be >= easy.sum / easy.length
  }

  test("q262 padding waste: buckets cover the corpus, padding bounds hold") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q262PaddingWaste.fn(spark, dir)
      .select("bucket", "n_docs", "real_tokens", "padded_tokens", "waste_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    val nDocs = graft.engine.Tables.load(spark, dir, "documents").count()
    out.map(_._2).sum shouldBe nDocs
    out.foreach { case (bucket, n, real, padded, ppm) =>
      padded shouldBe bucket * n
      real should be <= padded
      // every doc in the bucket exceeds the previous power of two
      real should be > (if (bucket > 16) bucket / 2 * n - n else 0L)
      ppm shouldBe (padded - real) * 1000000L / padded
    }
  }

  test("q263 quality-dup matrix: cells partition the corpus, OR from cells") {
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q263QualityDupMatrix.fn(spark, dir)
      .select("is_dup", "is_hq", "n_docs", "odds_ratio")
      .as[(Boolean, Boolean, Long, Option[Double])].collect().toList
    out should not be empty
    val nDocs = graft.engine.Tables.load(spark, dir, "documents").count()
    out.map(_._3).sum shouldBe nDocs
    def cell(d: Boolean, h: Boolean) =
      out.find(t => t._1 == d && t._2 == h).map(_._3).getOrElse(0L)
    val (a, b, c, dd) =
      (cell(true, true), cell(true, false), cell(false, true),
        cell(false, false))
    val or = out.head._4
    if (b > 0 && c > 0)
      or.get shouldBe (a * dd).toDouble / (b * c).toDouble
    else or shouldBe None
  }

  test("q264 record highs: strictly increasing chain, first has no prior") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q264RecordHighs.fn(spark, dir)
      .select("ts_us", "cents", "prev_record")
      .as[(Long, Long, Option[Long])].collect().toList
    out should not be empty
    out.head._3 shouldBe None
    // records strictly increase, and each broke exactly the previous one
    out.sliding(2).foreach {
      case List(a, b) =>
        b._2 should be > a._2
        b._3 shouldBe Some(a._2)
      case _ => ()
    }
    // the last record is the corpus maximum
    val maxCents = graft.engine.Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .agg(max(floor(col("value") * 100).cast("long"))).as[Long]
      .collect().head
    out.last._2 shouldBe maxCents
  }

  test("q259 truncation loss: kept <= total and ppm is the exact ratio") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q259TruncationLoss.fn(spark, dir)
      .select("n_docs", "n_over", "total_tokens", "kept_tokens", "loss_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    out.foreach { case (nDocs, nOver, total, kept, ppm) =>
      nOver should be <= nDocs
      kept should be <= total
      // a doc over budget keeps exactly 64 tokens, so the clipped
      // token mass bounds: kept >= total - (docs * max_doc_len)
      ppm shouldBe (total - kept) * 1000000L / total
    }
  }

  test("q267 layout pruning: rows conserved, linear prunes x only, " +
      "zorder prunes both") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q267LayoutPruning.fn(spark, dir)
      .select("layout", "n_files", "n_rows", "files_hit_x", "files_hit_y",
        "skip_ppm_x", "skip_ppm_y")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1).sorted shouldBe List("linear", "zorder")
    val nEvents = graft.engine.Tables.load(spark, dir, "events").count()
    out.foreach { case (_, nFiles, nRows, hitX, hitY, skipX, skipY) =>
      nRows shouldBe nEvents // every event lands in exactly one file
      hitX should be <= nFiles
      hitY should be <= nFiles
      skipX shouldBe (nFiles - hitX) * 1000000L / nFiles
      skipY shouldBe (nFiles - hitY) * 1000000L / nFiles
    }
    val lin = out.find(_._1 == "linear").get
    val zo = out.find(_._1 == "zorder").get
    // lexicographic files are single-x slices: perfect x pruning, none on y
    lin._4 shouldBe 1L
    lin._5 shouldBe lin._2
    // z-order tiles are 8x4: both dimensions prune to a strict subset
    zo._4 should be < zo._2
    zo._5 should be < zo._2
  }

  test("q268 apportionment: allocations are exact and sum to the budget") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q268TokenApportionment.fn(spark, dir)
      .select("source", "tokens", "base_alloc", "extra", "alloc")
      .as[(String, Long, Long, Long, Long)].collect().toList
    out should not be empty
    out.map(_._5).sum shouldBe 1000000L // Hamilton invariant: exact budget
    val w = out.map(_._2).sum
    out.foreach { case (_, tok, base, extra, alloc) =>
      base shouldBe tok * 1000000L / w
      (extra == 0L || extra == 1L) shouldBe true
      alloc shouldBe base + extra
    }
    // leftover went to the largest remainders: every source that got an
    // extra unit has remainder >= every source that did not (ties broken
    // by name, so compare (rem, reversed-name) lexicographically)
    val withRem = out.map(t => (t._1, t._2 * 1000000L % w, t._4))
    val minGot = withRem.filter(_._3 == 1L).map(_._2).minOption
    val maxNot = withRem.filter(_._3 == 0L).map(_._2).maxOption
    (minGot, maxNot) match {
      case (Some(g), Some(n)) => g should be >= n
      case _ => ()
    }
  }

  test("q269 fixed sample: exactly min(k, stratum) docs, dense ranks, " +
      "deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q269FixedSample.fn(spark, dir)
      .select("lang", "rk", "doc_id")
      .as[(String, Long, Long)].collect().toList
    out should not be empty
    val strata = graft.engine.Tables.load(spark, dir, "documents")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      rows.size.toLong shouldBe math.min(50L, strata(lang))
      rows.map(_._2).sorted shouldBe (1L to rows.size.toLong).toList
    }
    // re-running yields the identical sample (hash order, not encounter
    // order — the reservoir property a distributed engine can promise)
    val again = TextQueries.q269FixedSample.fn(spark, dir)
      .select("lang", "rk", "doc_id")
      .as[(String, Long, Long)].collect().toList
    again shouldBe out
  }

  test("q271 encoding audit: stats are exact and the rule is applied") {
    val dir = "/root/testdata/sf0.001"
    val out = RelationalQueries.q271EncodingAudit.fn(spark, dir)
      .select("col_name", "n", "ndv", "ndv_ppm", "top_share_ppm",
        "encoding")
      .as[(String, Long, Long, Long, Long, String)].collect().toList
    out.map(_._1).sorted shouldBe List("l_linestatus", "l_partkey",
      "l_returnflag", "l_shipday", "o_orderpriority", "o_orderstatus")
    out.foreach { case (_, n, ndv, ndvPpm, topPpm, enc) =>
      ndv should be >= 1L
      ndv should be <= n
      ndvPpm shouldBe ndv * 1000000L / n
      topPpm should be <= 1000000L
      // the declared decision rule, re-derived
      enc shouldBe (if (ndv <= 4096 && topPpm >= 200000) "DICT_RLE"
        else if (ndv <= 4096) "DICT" else "PLAIN")
    }
    // the two-value flag column dictionary+RLE-encodes at every SF;
    // the key column's NDV dwarfs the flag columns' (it reaches PLAIN
    // from sf0.01 up — the per-SF oracle checks pin that)
    out.find(_._1 == "l_linestatus").get._6 shouldBe "DICT_RLE"
    out.find(_._1 == "l_partkey").get._3 should be >
      out.find(_._1 == "l_returnflag").get._3 * 10
  }

  test("q272 vocab coverage: dense frequency-sorted ids, exact " +
      "monotone coverage reaching 100%") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q272VocabCoverage.fn(spark, dir)
      .select("id", "cf", "df", "cover_ppm")
      .as[(Long, Long, Long, Long)].collect().toList
    out should not be empty
    out.map(_._1) shouldBe (1L to out.size.toLong).toList // dense ids
    out.sliding(2).foreach {
      case List(a, b) =>
        b._2 should be <= a._2 // cf non-increasing down the ranking
        b._4 should be >= a._4 // coverage monotone
      case _ => ()
    }
    out.foreach { case (_, cf, df, _) => df should be <= cf }
    out.last._4 shouldBe 1000000L // the full vocabulary covers everything
  }

  test("q273 curriculum stages: near-equal deciles, difficulty " +
      "monotone across stages, corpus fully covered") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q273CurriculumStages.fn(spark, dir)
      .select("stage", "n_docs", "n_tokens", "min_diff", "max_diff")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe (0L to 9L).toList
    val nDocs = graft.engine.Tables.load(spark, dir, "documents").count()
    out.map(_._2).sum shouldBe nDocs // stages partition the corpus
    // exact decile formula: every stage within 1 doc of n/10
    out.foreach { case (_, d, toks, lo, hi) =>
      math.abs(d - nDocs / 10) should be <= 1L
      toks should be >= d // every doc has >= 1 token
      lo should be <= hi
    }
    // stage ranges never decrease: stage k's max <= stage k+1's max
    out.sliding(2).foreach {
      case List(a, b) => b._5 should be >= a._4
      case _ => ()
    }
  }

  test("q274 stride interleave: every full batch carries near-" +
      "proportional source shares") {
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q274StrideInterleave.fn(spark, dir)
      .select("batch", "batch_size", "n_sources", "max_dev_ppm")
      .as[(Long, Long, Long, Long)].collect().toList
    out should not be empty
    val nDocs = graft.engine.Tables.load(spark, dir, "documents").count()
    out.map(_._2).sum shouldBe nDocs // batches partition the corpus
    // every FULL batch of the stride order deviates from proportional
    // by at most 1 doc per source: dev <= (1/batch) + rounding
    out.filter(_._2 == 100L).foreach { case (_, bn, _, dev) =>
      dev should be <= 1000000L / bn + 10000L
    }
  }

  test("q278 retractable agg: subtract-then-eliminate equals " +
      "never-having-seen-them") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q278RetractableAgg.fn(spark, dir)
      .select("user_id", "n", "cents")
      .as[(Long, Long, Long)].collect().toList
    out should not be empty
    // direct survivor aggregation, bypassing the merge machinery
    val direct = graft.engine.Tables.load(spark, dir, "events")
      .filter(col("event_id") % 7 =!= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .orderBy("user_id")
      .as[(Long, Long, Long)].collect().toList
    out shouldBe direct
    out.foreach { case (_, n, _) => n should be > 0L } // zero-elim held
  }

  test("q279 restatement scope: batch 2 restates nothing, counts are " +
      "ppm-consistent") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q279RestatementScope.fn(spark, dir)
      .select("batch", "n_rows", "n_restating", "n_cells_reopened",
        "restate_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe List(2L, 3L)
    out.foreach { case (batch, n, restating, cells, ppm) =>
      restating should be <= n
      cells should be <= restating
      ppm shouldBe restating * 1000000L / n
      // batch 2 is strictly-newer rows: it cannot reopen finalized cells
      if (batch == 2L) restating shouldBe 0L
    }
  }

  test("q280 watermark curve: state rises and restatements fall " +
      "monotonically in the delay") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q280WatermarkCurve.fn(spark, dir)
      .select("delay_h", "open_cells", "restating_rows", "reopened_cells")
      .as[(Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe List(0L, 1L, 2L, 4L, 8L, 16L)
    out.sliding(2).foreach {
      case List(a, b) =>
        b._2 should be >= a._2 // more delay -> more open state
        b._3 should be <= a._3 // more delay -> fewer restatements
      case _ => ()
    }
    out.foreach { case (_, _, restating, cells) =>
      cells should be <= restating
    }
  }

  test("q281 embedding QA: fixture audits clean — uniform dims, " +
      "no zero or non-finite vectors, unit-ish norms") {
    val dir = "/root/testdata/sf0.001"
    val out = SimilarityQueries.q281EmbeddingQa.fn(spark, dir)
      .select("label", "n_vecs", "dim_min", "dim_max", "n_zero",
        "n_nonfinite", "min_norm", "max_norm")
      .as[(Int, Long, Long, Long, Long, Long, Double, Double)]
      .collect().toList
    out should not be empty
    val nVecs = graft.engine.Tables.load(spark, dir, "embeddings").count()
    out.map(_._2).sum shouldBe nVecs // labels partition the table
    out.foreach { case (_, _, dMin, dMax, nZero, nBad, lo, hi) =>
      dMin shouldBe dMax // no ragged dimensions
      nZero shouldBe 0L
      nBad shouldBe 0L
      lo should be <= hi
      lo should be > 0.0
    }
  }

  test("q282 RLE profile: linear is run-perfect on x; ppm arithmetic " +
      "exact; rows conserved") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q282RleProfile.fn(spark, dir)
      .select("layout", "n_files", "n_rows", "runs_x", "runs_y",
        "rle_x_ppm", "rle_y_ppm")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1).sorted shouldBe List("linear", "zorder")
    val nEvents = graft.engine.Tables.load(spark, dir, "events").count()
    out.foreach { case (_, nFiles, nRows, rx, ry, px, py) =>
      nRows shouldBe nEvents
      rx should be >= nFiles // at least one run per file
      ry should be >= nFiles
      px shouldBe rx * 1000000L / nRows
      py shouldBe ry * 1000000L / nRows
    }
    // lexicographic files hold a single x value: one x-run per file
    val lin = out.find(_._1 == "linear").get
    lin._4 shouldBe lin._2
    // Morton order pays on x against the lexicographic optimum
    out.find(_._1 == "zorder").get._4 should be > lin._4
  }

  test("q285 jackknife: replicates bracket the full ratio and the SE " +
      "matches a direct recomputation") {
    val dir = "/root/testdata/sf0.001"
    val out = RelationalQueries.q285JackknifeRatio.fn(spark, dir)
      .select("nation", "r_micro", "full_ratio_micro", "mean_rep_micro",
        "jack_se")
      .as[(Int, Long, Long, Long, Double)].collect().toList
    out should not be empty
    val g = out.size
    val full = out.head._3
    // every row carries the same summary values
    out.map(_._3).distinct.size shouldBe 1
    out.map(_._5).distinct.size shouldBe 1
    // deleting one group moves the ratio both ways around the full value
    out.map(_._2).min should be <= full
    out.map(_._2).max should be >= full
    // SE recomputed directly from the replicates (same integer path)
    val rbar = out.map(_._2).sum / g
    val ss = out.map(r => BigInt(r._2 - rbar) * BigInt(r._2 - rbar)).sum
    val expected = math.sqrt(ss.toDouble * (g - 1) / g)
    out.head._5 shouldBe expected
  }

  test("q286 metronome rank: ascending spread, exact ppm, gap bounds") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q286MetronomeRank.fn(spark, dir)
      .select("user_id", "n_gaps", "min_gap_us", "max_gap_us",
        "spread_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    out.size should be <= 20
    out.map(_._5) shouldBe out.map(_._5).sorted // most regular first
    out.foreach { case (_, n, lo, hi, ppm) =>
      n should be >= 5L
      lo should be >= 0L
      lo should be <= hi
      ppm shouldBe (hi - lo) * 1000000L / hi
    }
  }

  test("q287 partition balance: loads conserve rows, envelope ordered, " +
      "excess exact") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q287PartitionBalance.fn(spark, dir)
      .select("p", "parts_used", "n_rows", "max_rows", "min_rows",
        "hot_excess_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe List(8L, 32L, 128L)
    val n = graft.engine.Tables.load(spark, dir, "events").count()
    out.foreach { case (p, used, nRows, mx, mn, excess) =>
      nRows shouldBe n // every event lands in exactly one reducer
      used should be <= p
      mn should be <= mx
      mx should be >= nRows / p // max is at least the perfect share
      excess shouldBe (mx * p - nRows) * 1000000L / nRows
    }
  }

  test("q288 QTE deciles: per-arm deciles are monotone and diffs " +
      "consistent") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q288QteDeciles.fn(spark, dir)
      .select("k", "d_control", "d_treat", "qte_cents")
      .as[(Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe (1L to 9L).toList
    out.sliding(2).foreach {
      case List(a, b) =>
        b._2 should be >= a._2 // deciles monotone within each arm
        b._3 should be >= a._3
      case _ => ()
    }
    out.foreach { case (_, c, t, d) => d shouldBe t - c }
  }

  test("q289 salting balance: salting flattens the hot reducer at the " +
      "same width") {
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.q289SaltingBalance.fn(spark, dir)
      .select("strategy", "parts_used", "n_rows", "max_rows", "min_rows",
        "hot_excess_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    out.map(_._1).sorted shouldBe List("raw", "salted")
    val n = graft.engine.Tables.load(spark, dir, "events").count()
    out.foreach { case (_, used, nRows, mx, mn, excess) =>
      nRows shouldBe n
      used should be <= 32L
      mn should be <= mx
      excess shouldBe (mx * 32 - nRows) * 1000000L / nRows
    }
    val raw = out.find(_._1 == "raw").get
    val salted = out.find(_._1 == "salted").get
    // the q73/q115 design decision, measured: more KEYS flatten the
    // wave where more PARTITIONS (q287) could not
    salted._6 should be < raw._6
  }

  test("q290 IVF probe curve: recall is monotone in nprobe and " +
      "ppm-exact") {
    val dir = "/root/testdata/sf0.001"
    val out = SimilarityQueries.q290IvfProbeCurve.fn(spark, dir)
      .select("nprobe", "n_truth", "n_hit", "recall_ppm")
      .as[(Long, Long, Long, Long)].collect().toList
    out.map(_._1) shouldBe List(1L, 2L, 4L)
    out.map(_._2).distinct.size shouldBe 1 // shared truth set
    out.sliding(2).foreach {
      case List(a, b) => b._3 should be >= a._3 // more cells, >= recall
      case _ => ()
    }
    out.foreach { case (_, truth, hit, ppm) =>
      hit should be <= truth
      ppm shouldBe hit * 1000000L / truth
    }
  }

  test("q291 hierarchical apportionment: exact at both tree levels") {
    val dir = "/root/testdata/sf0.001"
    val out = CorpusQueries.q291HierApportion.fn(spark, dir)
      .select("source", "lang", "tokens", "base_alloc", "extra", "alloc",
        "source_alloc")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    // level 1: source allocations sum exactly to the budget
    out.groupBy(_._1).map(_._2.head._7).sum shouldBe 1000000L
    // level 2: language allocations within a source sum exactly to
    // that source's allocation — the invariant a flat apportionment
    // does not give
    out.groupBy(_._1).foreach { case (_, rows) =>
      rows.map(_._6).sum shouldBe rows.head._7
    }
    out.foreach { case (_, _, _, base, extra, alloc, _) =>
      (extra == 0L || extra == 1L) shouldBe true
      alloc shouldBe base + extra
    }
  }

  test("q270 shuffle mixing: bands cover all blocks, shares are ppm-exact") {
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q270ShuffleMixing.fn(spark, dir)
      .select("band", "n_blocks", "min_share_ppm", "max_share_ppm",
        "min_sources")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out should not be empty
    val nDocs = graft.engine.Tables.load(spark, dir, "documents").count()
    out.map(_._2).sum shouldBe (nDocs + 99) / 100 // every block in a band
    out.foreach { case (band, _, minS, maxS, minSrc) =>
      band should be >= 0L
      band should be <= 9L
      minS should be <= maxS
      // a band's shares live inside its 10% slice (band 9 is open-topped)
      minS should be >= band * 100000L
      if (band < 9L) maxS should be < (band + 1L) * 100000L
      minSrc should be >= 1L
    }
  }
}
