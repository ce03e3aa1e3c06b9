package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed on the benchmark's clock (ns).
  * `request` is shared by every span of one query or day. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    request: String, start: Long, end: Long) {
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the harness's calls into the engine. Spans are
  * kept in memory in every run (a span is two clock reads); only a traced
  * run also scopes listener counts to them and writes them out. */
final class Recorder {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var lastId = 0

  def newId(): Int = { lastId += 1; lastId }

  /** Runs `body` inside a span under `parent`. The span is recorded
    * whether or not `body` throws. */
  def span[A](parent: Int, name: String, layer: String, request: String)(
      body: Int => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id)
    finally spans += Span(id, parent, name, layer, request, t0, System.nanoTime())
  }

  def byId(id: Int): Span = spans.find(_.id == id).get

  def last: Span = spans.last
}

/** Spark work attributed to one job group. */
final class Acc {
  var jobs, stages, singleTaskStages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var inputBytes, outputBytes, shuffleWriteBytes, spillBytes = 0L

  def counts: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "single_task_stages" -> singleTaskStages.toDouble,
    "tasks" -> tasks.toDouble, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "bytes_read" -> inputBytes.toDouble,
    "bytes_written" -> outputBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble)
}

/** Job, stage and task metrics per job group, from Spark's public listener
  * bus; jobs carry the group the harness set on its thread. Catalyst
  * phases (analysis, optimization, planning) of every finished SQL
  * execution come from the QueryExecutionListener as wall-clock intervals;
  * the harness places them in the span they ran in. */
final class JobListener extends SparkListener {
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  val phases = new ConcurrentLinkedQueue[(Long, Long)]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val aliases = new ConcurrentHashMap[String, String]()

  private def acc(group: String): Acc = accs.computeIfAbsent(group, _ => new Acc)

  /** Removes and returns the work recorded for `group`. */
  def take(group: String): Acc = Option(accs.remove(group)).getOrElse(new Acc)

  /** Jobs of job group `group` are counted under `as` from now on. */
  def alias(group: String, as: String): Unit = aliases.put(group, as)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(g => aliases.getOrDefault(g, g)).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    val a = acc(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).flatMap(g => Option(markers.get(g)))
      .foreach(_.countDown())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized {
      a.stages += 1
      if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p =>
        phases.add((p.startTimeMs, p.endTimeMs)))
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Blocks until every listener event posted before the call has been
    * delivered: a one-task marker job runs, and its job end is posted
    * after them on the same queue. */
  def drain(spark: SparkSession, key: String): Unit = {
    val latch = new CountDownLatch(1)
    markers.put(key, latch)
    val sc = spark.sparkContext
    sc.setJobGroup(key, key)
    try sc.parallelize(Seq(1), 1).foreach(_ => ())
    finally sc.clearJobGroup()
    latch.await(30, TimeUnit.SECONDS)
    markers.remove(key)
    accs.remove(key)
  }
}

/** Structured Streaming progress, from Spark's public
  * StreamingQueryListener. A streaming query runs its jobs under its own
  * job group (the run id); when it starts, that group is aliased to the
  * span the harness is in, so its jobs count there. */
final class StreamListener(jobs: JobListener) extends StreamingQueryListener {
  import StreamingQueryListener._

  /** The job group of the span the harness is in. */
  @volatile var group: String = ""
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val running = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    // delivered before the query's first batch runs
    jobs.alias(e.runId.toString, group)
    running.add(e.runId)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress)

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    running.remove(e.runId)

  /** Waits until every started query's termination has been delivered;
    * its progress events come before it on the same queue. */
  def awaitTerminated(timeoutMs: Long = 30000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!running.isEmpty && System.currentTimeMillis() < until)
      Thread.sleep(5)
  }
}

object StreamListener {
  /** One micro-batch's counts, by metric name. */
  def counts(p: StreamingQueryProgress): Seq[(String, Double)] = {
    def ms(k: String): Double = p.durationMs.getOrDefault(k, 0L) / 1e3
    val ops = p.stateOperators.toSeq
    Seq("batches" -> 1.0, "input_rows" -> p.numInputRows.toDouble,
      "trigger_s" -> ms("triggerExecution"), "add_batch_s" -> ms("addBatch"),
      "planning_s" -> ms("queryPlanning"), "wal_commit_s" -> ms("walCommit"),
      "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
      "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3)
  }
}
