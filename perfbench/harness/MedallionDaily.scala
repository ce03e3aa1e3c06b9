package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.{Medallion, Quality, Silver}

/** The reference DAG, run day after day in one JVM:
  * `toBronze -> toSilver(partitionBy state) -> gate -> toGold`, with the
  * bronze snapshots accumulating across days.
  *
  * Each day's raw batch is generated on the driver from (seed, day), so
  * it is the same on every run, before the day is timed: the timed day is
  * "raw batch in, gold published". The batch is dirty like the
  * OpenBreweryDB API: padded names, mixed-case types, sparse
  * address_2/address_3, about 5% malformed coordinates, and states skewed
  * towards a few.
  */
final class MedallionDaily(spark: SparkSession, s: Settings, run: Run,
    checks: mutable.ArrayBuffer[(String, Boolean, String)],
    days: mutable.ArrayBuffer[String]) {
  import MedallionDaily._

  def apply(root: Int): Unit = {
    val layout = layoutUnder(s"${s.work}/lake")
    // the run's seconds are counted from the first published gold: the
    // days up to it pay the JVM's first-run costs and are reported on
    // their own, and the steady-state median needs at least MinSteadyDays
    var deadline = Long.MaxValue
    var day, completed = 0
    do {
      if (oneDay(root, layout, day)) {
        completed += 1
        if (completed == 1)
          deadline = System.nanoTime() + (s.seconds * 1e9).toLong
      }
      day += 1
    } while (completed < 1 + MinSteadyDays || System.nanoTime() < deadline)
  }

  /** Runs one day; returns whether it published gold. */
  private def oneDay(root: Int, layout: Medallion.Layout, day: Int): Boolean = {
    val name = s"day$day"
    val raw = run.stage(root, "input", "harness.input", name)(
      batch(spark, s.seed, day, s.rowsPerDay, bad = false))
    val runTs = f"day$day%05d"
    val op = run.timedOp(root, "day", name, "", 0) { id =>
      def stage[A](layer: String)(body: => A): A =
        run.stage(id, layer, layer, name)(body)
      stage("bronze")(Medallion.toBronze(raw.df, layout, runTs))
      val silver = stage("silver")(
        Medallion.toSilver(spark, layout, projection, Seq("state")))
      val gated = stage("gate")(Medallion.gate(silver, gateChecks))
      stage("gold")(Medallion.toGold(gated, layout,
        Seq(col("brewery_type"), col("state")), col("id"), "brewery_count"))
    }
    run.stage(root, "check", "harness.check", name)(check(layout, day, runTs,
      op, raw.rows, raw.ids, raw.bytes))
    op.error.isEmpty
  }

  private def check(layout: Medallion.Layout, day: Int, runTs: String, op: Op,
      rows: Long, ids: Long, inputBytes: Long): Unit = {
    val name = op.name
    var silverRows, goldSum = -1L
    if (op.error.isEmpty) {
      // output checks, untimed: silver is 1:1 with the input, and gold
      // counts every non-null id exactly once
      silverRows = spark.read.parquet(layout.silverPath).count()
      goldSum = spark.read.parquet(layout.goldPath)
        .agg(sum("brewery_count")).head().getLong(0)
      checks += ((s"$name silver rows", silverRows == rows,
        s"silver=$silverRows input=$rows"))
      checks += ((s"$name gold count", goldSum == ids,
        s"sum(brewery_count)=$goldSum non-null ids=$ids"))
    }
    val (bronzeBytes, _) = sizeAndFiles(
      Paths.get(layout.bronzeRoot, s"run_ts=$runTs"))
    val (silverBytes, silverFiles) = sizeAndFiles(Paths.get(layout.silverPath))
    val (goldBytes, _) = sizeAndFiles(Paths.get(layout.goldPath))
    days += Json.obj("day" -> day.toString, "span" -> op.span.toString,
      "ok" -> (op.error.isEmpty && silverRows == rows && goldSum == ids).toString,
      "rows" -> rows.toString, "input_bytes" -> inputBytes.toString,
      "bronze_bytes" -> bronzeBytes.toString,
      "silver_bytes" -> silverBytes.toString,
      "gold_bytes" -> goldBytes.toString,
      "silver_files" -> silverFiles.toString)
  }
}

object MedallionDaily {
  val MinSteadyDays = 3

  /** Share of records with a non-null address_3. No record of the real
    * API's rate is at hand beyond "mostly null"; at one record in 10,000
    * a 5,000-record batch has an all-null address_3 on about 61% of days,
    * and `toSilver` fails those days with UNRESOLVED_COLUMN (its schema
    * inference drops the column). Such a day counts as a failed
    * operation. Which records carry an address_3 is drawn from the day
    * alone, not the run's seed, so every run fails on the same days and
    * runs with different seeds measure the same sequence of work. */
  val Address3Rate = 1e-4

  /** Total size and number of data files under `root`. */
  def sizeAndFiles(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) =>
          val part = if (p.getFileName.toString.startsWith("part-")) 1 else 0
          (b + Files.size(p), n + part)
        }
      finally st.close()
    }

  def layoutUnder(root: String): Medallion.Layout =
    Medallion.Layout(s"$root/bronze", s"$root/silver", s"$root/gold")

  /** The reference's silver projection (plugins/brewery_operators.py). */
  val projection: Seq[(String, Column)] = Seq(
    "id" -> col("id"),
    "brewery_name" -> Silver.cleanName(col("name")),
    "brewery_type" -> Silver.normKey(col("brewery_type")),
    "full_address" -> Silver.fullAddress(
      col("address_1"), col("address_2"), col("address_3")),
    "city" -> Silver.cleanName(col("city")),
    "state" -> col("state_province"),
    "country" -> col("country"),
    "longitude" -> Silver.castDoubleLenient(col("longitude")),
    "latitude" -> Silver.castDoubleLenient(col("latitude")))

  /** The reference DAG's gate parameters. */
  val gateChecks: Seq[Quality.Check] = Seq(Quality.MinCount(100),
    Quality.NotNullOrEmpty("id"), Quality.NotNullOrEmpty("brewery_name"),
    Quality.NotNullOrEmpty("brewery_type"))

  private val states = Seq("California", "Colorado", "Washington",
    "Michigan", "New York", "Pennsylvania", "Texas", "Oregon", "Ohio",
    "North Carolina", "Florida", "Illinois", "Virginia", "Wisconsin",
    "Massachusetts", "Minnesota", "Indiana", "Missouri", "Maine", "Vermont",
    "Georgia", "Arizona", "Montana", "Idaho", "Utah", "Iowa", "Kentucky",
    "Maryland", "Tennessee", "New Jersey", "Connecticut", "Alabama",
    "Nevada", "Kansas", "Nebraska", "Alaska", "Oklahoma", "Louisiana",
    "New Mexico", "South Carolina", "Wyoming", "Arkansas", "Hawaii",
    "Delaware", "Rhode Island", "West Virginia", "New Hampshire",
    "Mississippi", "South Dakota", "North Dakota")
  private val types = Seq("micro", "Micro", "MICRO", "brewpub", "BrewPub",
    "regional", "Regional", "nano", "planning", "large", "contract",
    "proprietor", "closed")
  private val words = Seq("Hop", "Barrel", "Copper", "Iron", "River",
    "Mountain", "Valley", "Harbor", "Old", "Lost", "Wild", "Golden",
    "Black", "Red", "Stone", "Oak", "Pine", "Cedar", "Bear", "Fox")
  private val kinds = Seq("Brewing", "Brewery", "Beer Co.", "Ales",
    "Brewhouse", "Craft Works")
  private val streets = Seq("Main St", "Oak Ave", "Market St", "1st Ave",
    "Broadway", "Park Rd", "Mill St", "Water St", "Elm St", "Depot Rd")
  private val cities = Seq("Portland", "Denver", "San Diego", "Asheville",
    "Grand Rapids", "Bend", "Austin", "Seattle", "Boulder", "Burlington",
    "Chicago", "Milwaukee")

  /** One day's raw batch, with its row count, non-null ids and size as
    * JSON lines (the input bytes). */
  final case class Batch(df: DataFrame, rows: Long, ids: Long, bytes: Long)

  val columns: Seq[String] = Seq("id", "name", "brewery_type", "address_1",
    "address_2", "address_3", "city", "state_province", "postal_code",
    "country", "longitude", "latitude")
  private val schema = StructType(columns.map(StructField(_, StringType)))

  /** One day's raw batch: `rows` records drawn from a generator seeded
    * with (seed, day), built on the driver and spread over the session's
    * cores, so it costs no Spark job and is the same on every run. `bad`
    * plants records whose name is all blanks, so the gate must refuse the
    * batch. */
  def batch(spark: SparkSession, seed: Long, day: Int, rows: Long,
      bad: Boolean): Batch = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + day)
    val a3 = new java.util.SplittableRandom(day)
    def pick(xs: Seq[String]): String = xs(rnd.nextInt(xs.size))
    def u(): Double = rnd.nextDouble()
    def coord(v: Double): String =
      if (u() < 0.05) pick(Seq("", "N/A", "12.3.4", "nan-ish")) else "%.6f".formatLocal(java.util.Locale.ROOT, v)
    val blanks = Seq("", " ", "  ")
    val data = (0L until rows).map { r =>
      val padded = pick(blanks) + Seq(pick(words), pick(words), pick(kinds))
        .mkString(" ") + pick(blanks)
      val name = if (bad && u() < 0.01) "   " else padded
      // skew: state index = floor(50 * u^3), so the first few states dominate
      val state = states(math.floor(math.pow(u(), 3.0) * states.size).toInt)
      val lon = coord(u() * -60.0 - 65.0)
      val lat = coord(u() * 50.0 + 20.0)
      Row(f"${rnd.nextLong()}%016x-$day-$r", name, pick(types),
        if (u() < 0.98) s"${rnd.nextInt(9999) + 1} ${pick(streets)}" else null,
        if (u() < 0.10) s"Suite ${rnd.nextInt(500) + 1}" else null,
        if (a3.nextDouble() < Address3Rate) s"Bldg ${rnd.nextInt(20) + 1}" else null,
        pick(cities) + (if (u() < 0.2) " " else ""), state,
        f"${rnd.nextInt(99999)}%05d", "United States", lon, lat)
    }
    // bytes as JSON lines without null fields, as toBronze writes them
    val bytes = data.map { row =>
      columns.indices.filterNot(row.isNullAt).map(i =>
        Json.str(columns(i)).length + 1 + Json.str(row.getString(i)).length)
        .sum + columns.indices.count(!row.isNullAt(_)) + 2
    }.sum
    val n = spark.sparkContext.defaultParallelism
    Batch(spark.createDataFrame(spark.sparkContext.parallelize(data, n), schema),
      data.size, data.count(!_.isNullAt(0)), bytes)
  }

  val GateRefusal = "critical column brewery_name has null/empty values"

  /** A seeded bad batch must make the gate throw, on the blank names it
    * carries. The batch is projected to silver in memory with the same
    * projection, so the check exercises the gate whatever `toSilver`
    * does with the batch. */
  def badBatch(spark: SparkSession, s: Settings,
      checks: mutable.ArrayBuffer[(String, Boolean, String)]): Unit = {
    val silver = Silver.project(
      batch(spark, s.seed, -1, s.rowsPerDay, bad = true).df, projection)
    val outcome =
      try {
        Medallion.gate(silver, gateChecks)
        (false, "gate passed a batch with blank names")
      } catch {
        case e: IllegalStateException if e.getMessage == GateRefusal =>
          (true, e.getMessage)
        case e: Throwable => (false, s"unexpected failure: $e".take(300))
      }
    checks += (("bad batch refused by gate", outcome._1, outcome._2))
  }
}
