package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Snapshot readers (SURVEY.md §2.1 S3/S4/S6).
  *
  * The reference's entire "incremental" story is latest-snapshot selection:
  * list the bronze objects, take the max by last-modified
  * (reference: plugins/brewery_operators.py:202-225). Here that is a
  * FileSystem metadata operation — one driver-side `listStatus`, no data
  * read. At 100 TB the listing is still O(#snapshots), not O(data); for
  * object stores with slow listings the same contract would be served by a
  * manifest table (then selection = `row_number() over mtime desc = 1`,
  * which q05 demonstrates relationally).
  */
object Sources {

  /** Bronze JSON scan (S4). Schema inference (the reference's posture,
    * brewery_operators.py:189) costs an extra pass over the data — pass an
    * explicit schema wherever the layout is known.
    */
  def readJson(spark: SparkSession, path: String,
               schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** Parquet scan (S6). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV scan — interchange ingest. The schema is REQUIRED, not
    * optional like [[readJson]]'s: header-only CSV types everything
    * string, and `inferSchema` buys types with a full extra pass plus
    * row-order-dependent guesses — neither is acceptable on a lake
    * ingest path, so this API forces the caller to state the contract.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** ORC scan — same native pushdown/pruning posture as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Latest-snapshot selection (S3): newest child of `root` by
    * modification time; None if the directory is empty/absent.
    */
  def latestSnapshotPath(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).maxByOption(_.getModificationTime)
      .map(_.getPath.toString)
  }
}
