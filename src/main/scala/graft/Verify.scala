package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names (local
    // iteration aid, mirrors check.py's `only` filter) restrict which
    // queries run; the driver passes exactly two args and gets all.
    val (sfDir, outDir) = (args(0), args(1))
    // a typo'd name must not silently select nothing and exit 0
    val selected =
      try Catalog.select(args.drop(2).toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(2)
      }
    val spark = graft.engine.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json FIRST: it is static (no query execution involved),
    // and the driver compare needs it for ANY completed query — written
    // last, a wall-budget kill mid-run would discard every result already
    // on disk (the bench learned this lesson as rc 124 in round 6)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the declared semantically-empty allowlist (Catalog.Q.emptyOk),
    // exported for check.py's zero-row non-degeneracy gate: a query
    // that degenerates to 0 rows still hash-matches its oracle (same
    // SQL, same data), so emptiness must be adjudicated against the
    // catalog's own declaration, not against the oracle
    Files.writeString(Paths.get(s"$outDir/empty_ok.json"),
      Catalog.emptyOkNames.toSeq.sorted
        .map(Jsons.quote).mkString("[", ",", "]"))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case Catalog.Q(name, fn, _, _, _) =>
      try {
        val df = fn(spark, sfDir)
        // fail loudly here, not as an opaque pandas error driver-side
        ComparatorContract.require(name, df.schema)
        // ... and the q175 class too: a precision-saturated decimal
        // multiply/divide can pass every local sweep and still flip at
        // the driver's DuckDB — reject it before a result is written
        val wide = ComparatorContract.wideDecimalArithmetic(
          df.queryExecution.analyzed)
        if (wide.nonEmpty) throw new IllegalStateException(
          s"$name breaks the decimal discipline: ${wide.mkString("; ")}")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // a failure must not be maskable: remove any stale result a
        // prior run left for this query, and remember it for the exit
        // code — a zero exit with old parquet in place would read as
        // green driver-side
        engine.Fs.deleteRecursively(Paths.get(s"$outDir/$name"))
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

}
