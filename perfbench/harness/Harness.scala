package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Catalog, Jsons}
import graft.engine.{MaterializationAudit, Sessions}
import graft.queries.EventQueries

/** JVM side of the benchmark. `run.py` builds it, writes a run's settings
  * to a properties file and reads back one JSON record of raw samples;
  * all statistics are computed on the Python side.
  *
  *   Harness list <out.json>          the catalog: name, family, streaming
  *   Harness run  <settings>          one run of one workload
  *
  * One client, closed loop: each operation starts after the previous one
  * has returned. The engine is driven only through its public entry
  * points. A traced run additionally attaches Spark listeners, sets a job
  * group per span and enables [[MaterializationAudit]].
  */
object Harness {

  /** The query objects whose `all` make up [[Catalog.all]]. */
  val families: Seq[(String, Seq[Catalog.Q])] = {
    import graft.queries._
    Seq("ReferenceQueries" -> ReferenceQueries.all,
      "RelationalQueries" -> RelationalQueries.all,
      "EventQueries" -> EventQueries.all,
      "DedupQueries" -> DedupQueries.all,
      "SimilarityQueries" -> SimilarityQueries.all,
      "TextQueries" -> TextQueries.all,
      "CorpusQueries" -> CorpusQueries.all,
      "GovernanceQueries" -> GovernanceQueries.all,
      "GraphQueries" -> GraphQueries.all,
      "MultimodalQueries" -> MultimodalQueries.all)
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("list", out) => list(out)
    case Seq("run", settings) => new Run(Settings(settings)).apply()
    case _ =>
      System.err.println("usage: Harness list <out.json> | run <settings>")
      sys.exit(2)
  }

  private def list(out: String): Unit = {
    val rows = for ((fam, qs) <- families; q <- qs) yield
      Json.obj("name" -> Json.str(q.name), "family" -> Json.str(fam),
        "streaming" -> q.streaming.toString)
    Files.writeString(Paths.get(out), rows.mkString("[", ",\n", "]"))
  }
}

/** A run's settings, as written by run.py. */
final case class Settings(p: java.util.Properties) {
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
  def workload: String = this("workload")
  def seed: Long = this("seed").toLong
  def seconds: Double = this("seconds").toDouble
  def trace: Boolean = this("trace") == "1"
  def fixture: String = this("fixture")
  def work: String = this("work")
  def out: String = this("out")
  def queries: Seq[String] = list("queries")
  def streams: Seq[String] = list("streams")
  private def list(k: String): Seq[String] = this(k).split(",").toSeq.filter(_.nonEmpty)
  def rowsPerDay: Long = this("rows_per_day").toLong
}

object Settings {
  def apply(path: String): Settings = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(path))
    try p.load(in) finally in.close()
    Settings(p)
  }
}

/** Minimal JSON writing; values are pre-rendered strings. */
object Json {
  def str(s: String): String = Jsons.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One timed operation: a day, or one execution of one query. */
final case class Op(kind: String, name: String, family: String, pass: Int,
    span: Int, seconds: Double, error: Option[String])

final class Run(s: Settings) {
  private val rec = new Recorder
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val days = mutable.ArrayBuffer.empty[String]
  private val passes = mutable.ArrayBuffer.empty[(String, Int, Int)]
  private var jobs: JobListener = _
  private var streams: StreamListener = _
  private var landedCalls, eagerCalls = 0
  private lazy val spark = SparkSession.active

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(): Unit = {
    val (setupS, startS, warmupS, prestageS) = setup()
    if (s.trace) attachTracing()
    val heap = new LiveHeap
    val runStart = System.nanoTime()
    rec.span(0, "run", "run", s.workload) { root =>
      s.workload match {
        case "medallion_daily" =>
          new MedallionDaily(spark, s, this, checks, days)(root)
        case "catalog_batch" => catalogBatch(root)
        case w => sys.error(s"unknown workload $w")
      }
    }
    val measured = (System.nanoTime() - runStart) / 1e9
    val peakMb = heap.close() / 1048576.0
    if (s.workload == "medallion_daily")
      MedallionDaily.badBatch(spark, s, checks)
    if (s.trace) detachTracing()

    val verify = s.workload != "medallion_daily"
    val spanJson = if (!s.trace) Nil else rec.spans.map { sp =>
      Json.obj("id" -> sp.id.toString, "parent" -> sp.parent.toString,
        "name" -> Json.str(sp.name), "layer" -> Json.str(sp.layer),
        "request" -> Json.str(sp.request), "start" -> sp.start.toString,
        "end" -> sp.end.toString, "counts" -> Json.obj(
          sp.counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }
    val record = Json.obj(
      "workload" -> Json.str(s.workload), "seed" -> s.seed.toString,
      "trace" -> s.trace.toString, "measured_s" -> Json.num(measured),
      "setup" -> Json.obj("seconds" -> Json.num(setupS),
        "start_s" -> Json.num(startS), "warmup_s" -> Json.num(warmupS),
        "prestage_s" -> Json.num(prestageS)),
      "heap_limit_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "peak_heap_mb" -> Json.num(peakMb),
      "ops" -> Json.arr(ops.map(o => Json.obj("kind" -> Json.str(o.kind),
        "name" -> Json.str(o.name), "family" -> Json.str(o.family),
        "pass" -> o.pass.toString, "span" -> o.span.toString,
        "seconds" -> Json.num(o.seconds),
        "error" -> o.error.map(Json.str).getOrElse("null")))),
      "passes" -> Json.arr(passes.map { case (k, i, sp) =>
        Json.obj("kind" -> Json.str(k), "index" -> i.toString,
          "span" -> sp.toString,
          "seconds" -> Json.num(rec.byId(sp).seconds)) }),
      "checks" -> Json.arr(checks.map { case (n, ok, d) =>
        Json.obj("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)) }),
      "days" -> Json.arr(days),
      "tables" -> Json.obj("landed_calls" -> landedCalls.toString,
        "eager_calls" -> eagerCalls.toString),
      "spans" -> Json.arr(spanJson),
      "verify" -> verify.toString)
    Files.writeString(Paths.get(s.out), record)
    // Output check (untimed, after the record is on disk): the engine's
    // own Verify main writes each query's result for scripts/check.py.
    // It stops the session and exits 1 if a query throws.
    if (verify)
      graft.Verify.main(Array(s.fixture, s"${s.work}/verify") ++ s.queries ++
        s.streams)
    else spark.stop()
  }

  /** The run's one set-up, as a span: session start, a warm-up job and,
    * when the run has streaming queries, `EventQueries.prestage` (their
    * staging). Returns the set-up's time and each part's, in seconds. */
  private def setup(): (Double, Double, Double, Double) = {
    var start, warmup, prestage = 0.0
    rec.span(0, "setup", "setup", "setup") { id =>
      def timed(name: String, layer: String)(body: => Unit): Double = {
        rec.span(id, name, layer, "setup")(_ => body)
        rec.last.seconds
      }
      start = timed("start", "sessions.start") {
        Sessions.local("perfbench")
      }
      warmup = timed("warmup", "sessions.warmup") {
        spark.range(0, 100000, 1, cpus).selectExpr("sum(id)")
          .write.format("noop").mode("overwrite").save()
      }
      if (s.streams.nonEmpty)
        prestage = timed("prestage", "streams.prestage") {
          EventQueries.prestage(spark, s.fixture)
        }
    }
    (rec.last.seconds, start, warmup, prestage)
  }

  private def attachTracing(): Unit = {
    jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(jobs.planListener)
    streams = new StreamListener(jobs)
    spark.streams.addListener(streams)
    MaterializationAudit.enable()
  }

  private def detachTracing(): Unit = {
    MaterializationAudit.disable()
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(jobs.planListener)
    spark.sparkContext.removeSparkListener(jobs)
  }

  /** Runs one span of an operation; in a traced run its Spark jobs run
    * under a job group named after the span. */
  private[perfbench] def stage[A](parent: Int, name: String, layer: String,
      request: String)(body: => A): A =
    rec.span(parent, name, layer, request) { id =>
      if (s.trace) {
        spark.sparkContext.setJobGroup(s"s$id", name)
        streams.group = s"s$id"
      }
      try body finally if (s.trace) spark.sparkContext.clearJobGroup()
    }

  /** Times one operation. A throw is recorded as the op's error and does
    * not stop the run. In a traced run, the listener counts of the
    * operation's spans are attached to them once the bus has drained. */
  private[perfbench] def timedOp(parent: Int, kind: String, name: String,
      family: String, pass: Int)(body: Int => Unit): Op = {
    val id = rec.newId()
    val t0 = System.nanoTime()
    val err =
      try { body(id); None }
      catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.toString).linesIterator
          .take(3).mkString(" ").take(400)) }
    val t1 = System.nanoTime()
    rec.spans += Span(id, parent, name, kind, name, t0, t1)
    if (s.trace) annotate(id)
    val op = Op(kind, name, family, pass, id, (t1 - t0) / 1e9, err)
    ops += op
    op
  }

  private def annotate(opId: Int): Unit = {
    streams.awaitTerminated()
    jobs.drain(spark, s"perfbench-marker-$opId")
    val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def innermost(scope: Seq[Span], a: Long, b: Long): Option[Span] = {
      val mid = a + (b - a) / 2
      scope.filter(sp => sp.start <= mid && mid <= sp.end)
        .sortBy(sp => sp.end - sp.start).headOption
    }
    val outer = rec.byId(opId) +: rec.spans.filter(_.parent == opId).toSeq
    // each streaming micro-batch, from the query's progress events, goes
    // under the innermost span it ran in
    Iterator.continually(streams.progress.poll()).takeWhile(_ != null).foreach { p =>
      val a = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + off
      val b = a + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L
      innermost(outer, a, b).foreach { sp =>
        val mb = Span(rec.newId(), sp.id, s"batch ${p.batchId}", "microbatch",
          sp.request, a, b)
        StreamListener.counts(p).foreach { case (k, v) => mb.counts(k) = v }
        rec.spans += mb
      }
    }
    val scope = outer ++ rec.spans.filter(sp =>
      sp.layer == "microbatch" && outer.exists(_.id == sp.parent))
    scope.foreach { sp =>
      jobs.take(s"s${sp.id}").counts.foreach { case (k, v) => sp.counts(k) = v }
    }
    // each Catalyst phase goes under the innermost span it ran in
    Iterator.continually(jobs.phases.poll()).takeWhile(_ != null).foreach {
      case (st, en) =>
        val (a, b) = (st * 1000000L + off, en * 1000000L + off)
        innermost(scope, a, b).foreach { sp =>
          rec.spans += Span(rec.newId(), sp.id, "catalyst", "plan",
            sp.request, a, b)
        }
    }
    MaterializationAudit.drain().foreach { r =>
      if (r.site == "eager") eagerCalls += 1
      else if (r.site.startsWith("landed:")) landedCalls += 1
    }
  }

  /** One query execution: build (the query function, which runs any
    * landed/eager jobs), then exec (a `noop` write of the result, so the
    * whole plan runs). */
  private def query(parent: Int, kind: String, q: (Catalog.Q, String),
      pass: Int): Op =
    timedOp(parent, kind, q._1.name, q._2, pass) { id =>
      val df: DataFrame = stage(id, "build", "build", q._1.name)(
        q._1.fn(spark, s.fixture))
      stage(id, "exec", "exec", q._1.name)(
        df.write.format("noop").mode("overwrite").save())
    }

  private lazy val byName: Map[String, (Catalog.Q, String)] =
    (for ((f, qs) <- Harness.families; q <- qs) yield q.name -> (q, f)).toMap

  private def clearCache(): Unit = spark.sharedState.cacheManager.clearCache()

  /** Cold pass over the batch queries (the first execution of each in
    * this JVM), then one pass over the streaming queries, then warm passes
    * over the batch queries in the same order until the run's seconds are
    * spent. A streaming query re-pays its provisioning on every run, so it
    * runs once, as graft.Bench does. The cache is cleared after every
    * query, as graft.Bench does. */
  private def catalogBatch(root: Int): Unit = {
    val deadline = System.nanoTime() + (s.seconds * 1e9).toLong
    def onePass(kind: String, pass: Int, names: Seq[String]): Unit =
      rec.span(root, s"$kind pass", "pass", s"$kind$pass") { pid =>
        passes += ((kind, pass, pid))
        names.foreach { n => query(pid, kind, byName(n), pass); clearCache() }
      }
    onePass("cold", 0, s.queries)
    if (s.streams.nonEmpty) onePass("stream", 0, s.streams)
    var pass = 1
    do {
      onePass("warm", pass, s.queries)
      pass += 1
    } while (System.nanoTime() < deadline)
  }
}

/** Peak live heap: the largest heap occupancy right after a garbage
  * collection, from the JVM's GC notifications. Unlike peak heap use it
  * does not depend on when the young generation happens to be collected. */
final class LiveHeap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
          .map(_.getUsed).sum
        synchronized { if (after > peak) peak = after }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stops listening; returns the peak in bytes (the current heap use if
    * no collection ran). */
  def close(): Long = {
    emitters.foreach(_.removeNotificationListener(listener))
    synchronized {
      if (peak == 0L) ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      else peak
    }
  }
}
