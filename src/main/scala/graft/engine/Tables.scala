package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** Fixture-table loaders (one parquet per table, see /root/repo/TESTDATA.md).
  *
  * At 100 TB each of these would be a partitioned/bucketed dataset instead of
  * a single file; the loader is the one place that would change (directory
  * scan + partition pruning are handled by the parquet source either way).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The engine-wide `events.ts` contract is BIGINT epoch-NANOSECONDS
    * (every downstream query does exact integer arithmetic on it — `ts
    * div 1000` to µs, `div 1000000000` to seconds — and the DuckDB
    * oracles mirror via `epoch_us(CAST(ts AS TIMESTAMP))`). Fixture
    * generations have stored the column two ways: TIMESTAMP(NANOS)
    * (which Spark 4 reads as BIGINT ns under `nanosAsLong`, see
    * [[Sessions]]) and plain µs TIMESTAMP / TIMESTAMP_NTZ. This is the
    * ONE seam that maps either physical encoding onto the contract, so
    * no query carries schema dispatch. The NTZ wall-clock is interpreted
    * in the session timezone (pinned UTC) — the same reading DuckDB's
    * naive-timestamp `epoch_us` uses, so both engines agree by
    * construction. Works on batch and streaming frames alike (stateless
    * projection).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast("timestamp_ltz")) * lit(1000L))
      case Some(other) => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other " +
          "(expected BIGINT ns or a timestamp)")
    }

  /** Epoch-µs column for a RAW (un-normalized) events frame — for the
    * few places that must keep the frame's physical schema intact (the
    * out-of-order stream staging writes files that a later
    * `readStream.schema(batchSchema)` must match byte-for-byte) but
    * still need µs arithmetic on whatever `ts` encoding the fixture has.
    */
  def rawTsUs(tsType: DataType): Column = tsType match {
    case LongType => expr("ts div 1000")
    case TimestampNTZType | TimestampType =>
      unix_micros(col("ts").cast("timestamp_ltz"))
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical type $other")
  }

  /** Persist AND materialize now: one count job plus a cache fill, paid
    * before the query's own plan runs. The rule, measured: a COMPUTED
    * frame is persisted only
    *  - where two consumers need identical partition ids (the
    *    [[Cumulative]] cell pass and its join-back); or
    *  - where a named query measured slower without it: q86, q162 and
    *    q190, each slower by more than the quartile spread of
    *    interleaved runs at sf0.1 on 4 cores.
    * More than one consumer is not reason enough: AQE reuses the
    * exchanges the branches share, and the same runs found 22 of 25
    * such sites no slower without the persist. Better still, give a
    * frame one consumer (q114 explodes its six rows out of one row).
    *
    * Never `eager` a [[landed]] read. A landed table is already
    * materialized; a Project/Filter over its scan costs one more scan,
    * so a second, in-memory copy buys an extra count job and a cache
    * fill. GlobalWindowPolicySpec enforces this. A loop's state is
    * [[Fixpoint]]'s to materialize, one checkpoint per round.
    */
  def eager(df: DataFrame): DataFrame = {
    MaterializationAudit.record("eager", df)
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Widen an UNDER-PARTITIONED input to the cluster's parallelism
    * before compute-heavy per-row work (decimal moment sums, hashing).
    * The fixture tables are single-row-group parquet files, so their
    * scans yield one non-empty partition and per-row-expensive
    * aggregation runs on one thread (q114's 15 decimal sums: 5.4 s on
    * 1 thread, 1.6 s repartitioned). The repartition is CONDITIONAL on
    * the scan being narrower than the cluster: a 100 TB scan is
    * already wider than any executor pool, so this adds NO shuffle at
    * scale — it only repairs small-file parallelism, the same job
    * AQE's coalesce does in the opposite direction.
    *
    * `df.rdd.getNumPartitions` here is DRIVER-SIDE PLAN INTROSPECTION
    * only: it plans the scan (file listing Spark does anyway) and reads
    * the partition count off the planned RDD — no job runs, no row is
    * ever computed through the RDD path, and the returned DataFrame is
    * built from `df` itself, not from the introspected RDD. It is the
    * narrowest public API that answers "how many splits will this scan
    * produce" (`inputFiles` would ship every file PATH to the driver —
    * millions of strings at 100 TB — and still miss row-group splits).
    */
  def widen(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private lazy val landedRoot: java.nio.file.Path =
    TempDirs.createCleanedAtExit("graft_landed_")
  private val landedPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build `name` into its own dir ONCE per (JVM, name, fixture dir,
    * signatures of `tables` in it); every later call returns the built
    * dir. The one once-per-JVM memo of the engine: [[landed]] is this
    * plus a parquet write, and builds that are not a single parquet
    * write (q283/q293/q294's manifest tables, q295's bucketed tables,
    * the two events stream stagings: a symlink to the fixture and a
    * three-file out-of-order copy) call it directly. The fixture signatures in the key make a table
    * rewritten in place recompute instead of serving a stale build;
    * the dir is named from the WHOLE key, so nested builds (gtri ->
    * goedges -> gedges) never share a dir, and a build that threw
    * leaves no entry and restarts from an empty dir. Every dir lives
    * under one root removed at JVM exit.
    *
    * The memo relies on sequential callers (Verify, Bench and the specs
    * run queries one at a time): two threads racing on an unbuilt key
    * may both run the build. No concurrent caller exists, so there is
    * no lock.
    */
  def landedDir(name: String, dir: String, tables: Seq[String])(
      build: String => Unit): String = {
    val key = s"$name:$dir@" + tables.map(fileSignature(dir, _)).mkString("@")
    landedPaths.getOrElseUpdate(key, {
      val p = landedRoot.resolve(
        name.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
          java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")))
      Fs.deleteRecursively(p)
      build(p.toString)
      p.toString
    })
  }

  /** Land `compute` as parquet through [[landedDir]]; every later call
    * for the same key scans the landed table. The gold-sink pattern
    * behind [[graft.queries.DedupQueries.docShingleTable]] (q81
    * 18.3 s -> 2.4 s) and the graph family's shared edge list: a
    * projection consumed by a whole query family is a landed silver
    * table, not a per-query recompute. `counter` (when given) counts
    * from-scratch computes — the spec hook proving
    * one-compute-many-consumers.
    */
  def landed(s: SparkSession, name: String, dir: String, tables: Seq[String],
      counter: java.util.concurrent.atomic.AtomicInteger = null)(
      compute: => DataFrame): DataFrame = {
    var computedHere = false
    val path = landedDir(name, dir, tables) { p =>
      if (counter != null) counter.incrementAndGet()
      val df = compute
      MaterializationAudit.record(s"landed:$name", df)
      Sinks.writeParquet(df, p)
      computedHere = true
    }
    // already-landed keys still expose their compute PLAN to an enabled
    // audit (by-name, never built otherwise), so plan-policy coverage
    // does not depend on which suite landed the table first
    if (!computedHere) MaterializationAudit.record(s"landed:$name", compute)
    s.read.parquet(path)
  }

  /** Signature of one fixture table's parquet files (names, sizes,
    * mtimes) — the key component that makes [[landedDir]] safe against
    * in-place fixture rewrites (the property specs overwrite temp dirs
    * between runs).
    */
  private def fileSignature(dir: String, table: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
          .flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$dir/$table.parquet"))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|").hashCode.toHexString
  }
}
