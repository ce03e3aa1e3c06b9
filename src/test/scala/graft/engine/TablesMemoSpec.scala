package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{EventQueries, GraphQueries, RelationalQueries}

/** The once-per-JVM build memo ([[Tables.landedDir]] / [[Tables.landed]]):
  *
  *  - its dirs are named from the WHOLE key: nested builds share a
  *    fixture signature, so a name built from less (say, the key's
  *    tail) collides on a long fixture path, and the outer build's
  *    overwrite then deletes the inner build's files;
  *  - the key carries the signatures of exactly the fixture tables the
  *    build names: rewriting one of them recomputes, rewriting any
  *    other table in the dir does not;
  *  - q295's bucketed tables live under the memo's dir, never under the
  *    session warehouse dir;
  *  - the events stream stagings are memo builds: staging adds nothing
  *    to the temp dir, and a fixture rewritten in place restages.
  */
class TablesMemoSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A fixture dir whose path is at least 95 characters long. */
  private def withLongDir[T](f: String => T): T = withTempDir { tmp =>
    val dir = s"$tmp/" + "fixture_directory_" * 5
    Files.createDirectories(Paths.get(dir))
    dir.length should be >= 95
    f(dir)
  }

  private def copyTables(dir: String, tables: String*): Unit =
    tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet")
      .write.parquet(s"$dir/$t.parquet"))

  test("nested landed builds on a long fixture path keep their own rows") {
    withLongDir { dir =>
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b").write.parquet(s"$dir/t.parquet")
      def inner() = Tables.landed(spark, "memo_inner", dir, Seq("t")) {
        spark.read.parquet(s"$dir/t.parquet")
      }
      val outer = Tables.landed(spark, "memo_outer", dir, Seq("t")) {
        inner().select((col("a") + col("b")).as("s"))
      }
      outer.as[Long].collect().sorted shouldBe Array(3L, 7L)
      inner().as[(Long, Long)].collect().sorted shouldBe
        Array((1L, 2L), (3L, 4L))
    }
  }

  test("q110 triangles on a long fixture path match the short path") {
    withLongDir { dir =>
      copyTables(dir, "events")
      val q = GraphQueries.q110Triangles.fn
      q(spark, dir).collect() shouldBe q(spark, sf).collect()
    }
  }

  test("rewriting a named table recomputes; rewriting another does not") {
    withTempDir { dir =>
      val computes = new AtomicInteger
      def write(t: String, n: Int): Unit =
        spark.range(n).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      def build() = Tables.landed(spark, "memo_rewrite", dir, Seq("named"),
          computes) {
        spark.read.parquet(s"$dir/named.parquet")
      }.count()
      write("named", 3); write("other", 3)
      build() shouldBe 3L
      build() shouldBe 3L
      computes.get shouldBe 1
      write("other", 5)
      build() shouldBe 3L
      computes.get shouldBe 1
      write("named", 4)
      build() shouldBe 4L
      computes.get shouldBe 2
    }
  }

  test("q295's bucketed build adds nothing under the warehouse dir") {
    val warehouse = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def listing(): Set[String] =
      if (!Files.isDirectory(warehouse)) Set.empty
      else {
        val s = Files.list(warehouse)
        try s.iterator.asScala.map(_.getFileName.toString).toSet
        finally s.close()
      }
    withTempDir { dir =>
      copyTables(dir, "orders", "customer")
      val before = listing()
      val q = RelationalQueries.q295BucketedJoin.fn
      q(spark, dir).collect() shouldBe q(spark, sf).collect()
      listing() shouldBe before
    }
  }

  test("staging the events streams adds nothing to the temp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def stagings(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_stream_events")).toSet
      finally s.close()
    }
    withTempDir { dir =>
      copyTables(dir, "events")
      val before = stagings()
      EventQueries.prestage(spark, dir)
      stagings() shouldBe before
    }
  }

  test("rewriting events in place restages the out-of-order stream") {
    def lateDrop(dir: String) = EventQueries.runQ76(spark, dir)._1.collect()
    val kept = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") % 3 =!= 0)
    withTempDir { dir =>
      copyTables(dir, "events")
      val before = lateDrop(dir)
      kept.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val rewritten = lateDrop(dir)
      rewritten should not equal before
      withTempDir { fresh =>
        kept.write.parquet(s"$fresh/events.parquet")
        rewritten shouldBe lateDrop(fresh)
      }
    }
  }
}
