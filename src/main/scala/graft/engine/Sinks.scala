package graft.engine

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Write paths (SURVEY.md §2.1 S2/S5/S7/S8/S9) — the medallion layers all
  * end in a write; this is the engine API for them.
  *
  * ## 100 TB notes
  *  - The partitioned silver sink is dynamic-partition overwrite territory:
  *    a full `Overwrite` (the reference's semantics,
  *    brewery_operators.py:194-196) rewrites the whole dataset each run; at
  *    scale you flip `partitionOverwriteMode=dynamic` and only changed
  *    partitions land. That posture is [[overwritePartitionsDynamic]];
  *    the partitioned sink also takes `SaveMode.Append` (a streaming
  *    `foreachBatch` landing each micro-batch), every other sink here
  *    overwrites.
  *  - File layout: the partitioned sinks own it. A plain `partitionBy`
  *    lands one file per (write task, partition value): 4 tasks over 50
  *    states is 200 small files. Both sinks first hash-repartition on the
  *    partition columns into an explicit count: one writer task per core,
  *    or `spark.sql.shuffle.partitions` if that is smaller (the two are
  *    equal under [[Sessions.local]]; a cluster that sizes shuffle
  *    partitions to data volume still gets one writer per core). Each
  *    value goes to exactly one task and lands one file, and distinct
  *    values spread over the cores (values that share a hash bucket share
  *    a task). The count is explicit because AQE never coalesces a
  *    repartition that names one. It does coalesce the `rebalance` hint,
  *    with or without a count: a brewery day (about 1.5 MB of JSON)
  *    shuffles about 0.5 MB, under AQE's 1 MB
  *    `coalescePartitions.minPartitionSize` floor, so one task wrote all
  *    50 state files, one after another, and `REBALANCE(n, cols)` still
  *    ran one writer task in a traced `medallion_daily` day. The trades:
  *    `rebalance` would split a value larger than the 64 MB advisory size
  *    across files, where a hash repartition keeps it in one file written
  *    by one task; and with fewer values than cores the surplus writer
  *    tasks run empty, where AQE would drop them. Callers pass the frame
  *    as it is.
  *  - JDBC lands through executor-side batch inserts; `overwrite`
  *    drop+recreates like the reference (brewery_operators.py:386-387).
  *    The serving database is the scale bottleneck by design — gold tables
  *    are small aggregates.
  */
object Sinks {

  /** Bronze write (S2): one run-timestamped JSON directory per ingest,
    * mirroring the reference's `{prefix}_{yyyyMMdd_HHmmss}.json` blob
    * naming (brewery_operators.py:117-130) as a `run_ts=` directory.
    * Null fields are written as `null`, like the API's raw payload, not
    * dropped as by the JSON writer's default. Returns the directory
    * written.
    */
  def writeBronzeJson(df: DataFrame, bronzeRoot: String, runTs: String): String = {
    val dir = s"$bronzeRoot/run_ts=$runTs"
    df.write.mode(SaveMode.Overwrite).option("ignoreNullFields", "false").json(dir)
    dir
  }

  /** Latest-wins upsert resolution: union the existing table with an
    * updates delta and keep, per key, the row with the greatest version
    * column (updates win ties). The incremental alternative to the
    * reference's full-overwrite-every-run posture — compute the merged
    * state relationally, then land it through any sink (with
    * dynamic-partition overwrite, only touched partitions rewrite).
    * One shuffle on the key; at scale the window prunes map-side when
    * the inputs are bucketed by the key.
    */
  def upsertLatestWins(base: DataFrame, updates: DataFrame,
                       keyCols: Seq[String], versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    // trailing whole-row struct: two updates fully tied on (key, version)
    // would otherwise be resolved by partition-internal order — the
    // surviving payload must not depend on the shuffle
    val payload = struct(tagged.columns.filterNot(c =>
      keyCols.contains(c) || c == "__src").map(col).toSeq: _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc, payload.desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Partitioned parquet sink (S5): silver layout, hive-partitioned, one
    * file per partition value (see the header's file-layout note).
    */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              mode: SaveMode = SaveMode.Overwrite): Unit =
    byValue(df, partitionCols).write.partitionBy(partitionCols: _*).mode(mode).parquet(path)

  /** Dynamic-partition overwrite: land ONLY the partitions present in
    * `df`, leaving sibling partitions untouched — the at-scale posture the
    * header note describes (a daily run rewrites one `run_date=` slice of
    * a 100 TB silver table, not the table). The writer-level option
    * overrides the session's `partitionOverwriteMode`, so callers don't
    * need session mutation.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
                                 partitionCols: Seq[String]): Unit =
    byValue(df, partitionCols).write.partitionBy(partitionCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(path)

  /** Each partition value in one writer task, one task per core at most
    * (see the header's file-layout note).
    */
  private def byValue(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val writers = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism)
    df.repartition(writers, partitionCols.map(col): _*)
  }

  /** Unpartitioned parquet sink (S7): gold layout. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** CSV sink — the interchange format for hand-off OUT of the lake
    * (serving exports, spreadsheet consumers). Header on so the file is
    * self-describing; type fidelity is the reader's problem (see
    * [[Sources.readCsv]] — always re-read with an explicit schema).
    * Not a lake format: no column pruning, no predicate pushdown, no
    * splittable compression by default — gold-sized tables only.
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode(SaveMode.Overwrite).csv(path)

  /** ORC sink — the second columnar lake format Spark ships natively.
    * Same pushdown/pruning story as parquet (min/max stripe stats,
    * column projection), so a lake standardized on ORC gets the same
    * engine; everything else in this codebase stays parquet, this is the
    * interop path.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** JDBC sink (S8): drop+recreate like the reference's overwrite. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: Properties = new Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** DDL side-channel (S9): the reference pre-creates the serving schema
    * with psycopg2 before the Spark JDBC write
    * (brewery_operators.py:335-356); plain JDBC from the driver here.
    */
  def createSchema(url: String, schema: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(s"CREATE SCHEMA $schema")
    } catch {
      // idempotent: schema may already exist (SQLSTATE X0Y68 on Derby,
      // 42P06 on Postgres); anything else propagates
      case e: java.sql.SQLException
        if e.getSQLState == "X0Y68" || e.getSQLState == "42P06" => ()
    } finally conn.close()
  }
}
