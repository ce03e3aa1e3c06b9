package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The reference's whole pipeline as function composition
  * (SURVEY.md §2.9, §7.1): the Airflow DAG
  * `extract >> bronze >> silver >> quality >> gold`
  * (reference: dags/dag-brewery_pipeline.py:119) becomes one call chain
  * with the DQ gate as a throwing step — quality failures are control
  * flow, not data (the reference's contract, ditto :92-100).
  *
  * Each stage writes its layer once and returns that landed copy, read
  * back, so the next stage reads what was published. Gold's serving
  * mirror composes at the call site,
  * `Sinks.writeJdbc(Medallion.toGold(...), url, table)`, and so reads the
  * landed gold — unlike the reference, which recomputes the gold plan for
  * its second (JDBC) write.
  */
object Medallion {

  final case class Layout(bronzeRoot: String, silverPath: String, goldPath: String)

  /** S10 failure: the source-availability probe never succeeded, so the
    * gated pipeline stage was NOT run (the reference's sensor contract:
    * no 200, no pipeline — dags/dag-brewery_pipeline.py:53-62).
    */
  final case class SourceUnavailable(message: String, last: Throwable)
    extends RuntimeException(message, last)

  /** S10: source-availability probe as an engine-side precondition — the
    * library form of the reference's `HttpSensor` (poke with a timeout
    * and bounded retries; anything but success means downstream work must
    * not start). The probe is any `() => Try[Unit]` so tests and non-HTTP
    * sources (JDBC ping, path existence) plug in directly; `httpProbe`
    * below is the HTTP form.
    *
    * `body` is by-name and is never evaluated unless a probe attempt
    * succeeds — the gate is control flow, exactly like the DQ gate.
    */
  def requireAvailable[A](probe: () => Try[Unit], attempts: Int = 3,
                          delayMs: Long = 0L)(body: => A): A = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      // Try(...).flatten: a probe that THROWS instead of returning Failure
      // still gets the retry/typed-failure contract
      Try(probe()).flatten match {
        case Success(()) => return body
        case Failure(e) =>
          last = e
          i += 1
          if (i < attempts && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw SourceUnavailable(
      s"source probe failed after $attempts attempt(s): ${last.getMessage}", last)
  }

  /** HTTP-HEAD availability probe with explicit connect/read timeouts;
    * non-2xx (or no answer inside the timeout) = unavailable. Mirrors the
    * reference sensor's "GET with timeout, expect 200" poke.
    */
  def httpProbe(url: String, connectTimeoutMs: Int = 5000,
                readTimeoutMs: Int = 5000): () => Try[Unit] = () => Try {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("HEAD")
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    try {
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"probe $url: HTTP $code")
    } finally conn.disconnect()
  }

  /** Name of the batch's schema (`StructType.json`) in each bronze
    * snapshot dir. Spark's file listing skips `_`-prefixed names, so the
    * JSON scan never sees it.
    */
  private val SchemaFile = "_schema.json"

  /** Ingested batch -> bronze JSON snapshot plus its schema (returns the
    * snapshot dir). The schema lets silver read the snapshot without an
    * inference pass, and read an empty batch at all.
    */
  def toBronze(raw: DataFrame, layout: Layout, runTs: String): String = {
    val dir = Sinks.writeBronzeJson(raw, layout.bronzeRoot, runTs)
    val path = new Path(dir, SchemaFile)
    val out = path.getFileSystem(raw.sparkSession.sparkContext.hadoopConfiguration)
      .create(path, true)
    try out.write(raw.schema.json.getBytes(UTF_8)) finally out.close()
    dir
  }

  /** Latest bronze snapshot -> cleaned silver, hive-partitioned, read back
    * with the projected schema (partition columns last, as a discovered
    * read orders them).
    */
  def toSilver(spark: SparkSession, layout: Layout,
               projection: Seq[(String, Column)],
               partitionCols: Seq[String]): DataFrame = {
    val snapshot = Sources.latestSnapshotPath(spark, layout.bronzeRoot)
      .getOrElse(throw new IllegalStateException(
        s"no bronze snapshot under ${layout.bronzeRoot}"))
    val bronze = Sources.readJson(spark, snapshot, Some(snapshotSchema(spark, snapshot)))
    val silver = Silver.project(bronze, projection)
    Sinks.writePartitionedParquet(silver, layout.silverPath, partitionCols)
    val (parts, data) = silver.schema.partition(f => partitionCols.contains(f.name))
    spark.read.schema(StructType(data ++ parts)).parquet(layout.silverPath)
  }

  private def snapshotSchema(spark: SparkSession, snapshot: String): StructType = {
    val path = new Path(snapshot, SchemaFile)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path))
      throw new IllegalStateException(
        s"bronze snapshot $snapshot has no $SchemaFile; write it with Medallion.toBronze")
    val in = fs.open(path)
    try DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType]
    finally in.close()
  }

  /** Throwing DQ gate between silver and gold (P7-P9/A2). */
  def gate(silver: DataFrame, checks: Seq[Quality.Check]): DataFrame = {
    Quality.assertGate(silver, checks)
    silver
  }

  /** Gated silver -> gold aggregate, landed as parquet and read back with
    * the aggregate's schema (no footer-inference job).
    */
  def toGold(silver: DataFrame, layout: Layout,
             keys: Seq[Column], countCol: Column, countName: String): DataFrame = {
    val gold = Gold.groupCount(silver, keys, countCol, countName)
    Sinks.writeParquet(gold, layout.goldPath)
    silver.sparkSession.read.schema(gold.schema).parquet(layout.goldPath)
  }
}
