package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout: the storage-side half of the engine's
  * shuffle-avoidance strategy.
  *
  * Every equi-join/aggregation in the query surface shuffles on its key
  * unless the scan already satisfies the required hash distribution.
  * Bucketing persists that distribution INTO the table layout:
  * `bucketBy(n, key)` hash-partitions rows into n files per write task
  * and records the bucket spec in the catalog, so any later join or
  * aggregation on the bucket key reads co-located data and skips the
  * exchange entirely — the dominant cost of a 100 TB fact-fact join.
  * `sortBy` additionally orders rows within each bucket, letting a
  * sort-merge join skip its per-partition sort.
  *
  * Rules encoded here (and demonstrated in `BucketingSpec`, which
  * asserts the resulting physical plans are exchange-free):
  *  - both sides of a co-located join must agree on bucket COUNT and
  *    bucket KEY (Spark requires compatible bucketing; a mismatched
  *    count re-shuffles the smaller side);
  *  - one file per bucket per table keeps the within-bucket sort usable
  *    (many files per bucket forces a merge-sort at read); writers here
  *    repartition on the bucket key first so each bucket is one file;
  *  - at 100 TB the bucket count is sized so a single bucket fits an
  *    executor's memory (e.g. 4096 buckets over ~25 GB/bucket), NOT the
  *    32 used at test scale.
  */
object Bucketing {

  /** Write `df` as an EXTERNAL catalog table at `location`, bucketed
    * (and within-bucket sorted) by `key`. Overwrites any existing table
    * of the same name. The caller owns the location, so nothing lands
    * under the session warehouse dir and dropping the table leaves the
    * data in place.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, location: String): Unit =
    df.repartition(buckets, df(key))
      .write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .option("path", location)
      .saveAsTable(table)

  /** Read a bucketed table back (scan carries the bucket distribution). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
