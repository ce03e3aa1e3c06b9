package graft.engine

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory (SURVEY.md §7.1, operator S11).
  *
  * The reference builds three near-identical sessions per pipeline run
  * (reference: plugins/brewery_operators.py:229-244,358-371;
  * plugins/data_quality_operator.py:43-53) — config drift between them is
  * a documented hazard. The engine has exactly one builder.
  *
  * Config posture:
  *  - `shuffle.partitions` = cores in local mode (the reference leaves the
  *    200 default untuned — pure overhead at small scale; on a real
  *    cluster this would be sized to data volume / 128 MB-256 MB per
  *    partition, with AQE coalescing the rest). The partitioned sinks
  *    take the smaller of it and the cores as an explicit writer count,
  *    which AQE does not coalesce (see [[Sinks]]);
  *  - AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  *    broadcast demotion/promotion at 100 TB);
  *  - session timezone pinned UTC so timestamp semantics are stable
  *    across the engine, the DuckDB oracle, and any cluster locale;
  *  - partition discovery lists on the driver however many partition
  *    dirs a table has (Spark's default runs a listing job above 32, so
  *    silver's 50 `state=` dirs cost a 50-task job per read-back); in
  *    local mode that job runs in the same JVM and only adds scheduling
  *    and task deserialization. A cluster keeps the default, where the
  *    job spreads a large listing over the executors.
  */
object Sessions {

  private lazy val warehouseDir = TempDirs.createCleanedAtExit("graft-warehouse")

  /** Local session sized from env (driver harness contract). */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      // the events fixture stores TIMESTAMP(NANOS) which Spark 4 rejects
      // outright (PARQUET_TYPE_ILLEGAL); this reads NANOS as BIGINT ns
      // and the engine converts explicitly (see EventQueries)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // partition columns read back EXACTLY as written: inference would
      // silently retype numeric-looking string partitions (state "00901"
      // -> INT 901, leading zeros lost) on the medallion read-back path
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // managed-table root: every engine table is external (see
      // Bucketing), so nothing needs it past the JVM; one dir per JVM,
      // out of the repo working tree and removed at exit
      .config("spark.sql.warehouse.dir", warehouseDir.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
