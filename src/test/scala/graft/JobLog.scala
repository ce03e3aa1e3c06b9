package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of test code runs, from a listener that is
  * registered for that block only. `description` is the job's
  * `spark.job.description` ("" when unset); `stageTasks` maps each stage
  * that ran (skipped stages are not completed) to its task count, and
  * `stageWriters` to its tasks that wrote at least one row to a sink.
  */
final case class JobRun(description: String, stageTasks: Map[Int, Int],
                        stageWriters: Map[Int, Int]) {

  /** Tasks of the job's result stage, the last of its stages, that wrote
    * rows.
    */
  def resultWriters: Int = stageWriters.getOrElse(stageTasks.keys.max, 0)
}

object JobLog {

  private val MarkerGroup = "graft-joblog-drain"

  /** Runs `body` and returns its value with the jobs it ran, in order.
    * Listener events arrive asynchronously, so the log is drained before
    * it is read: a one-task marker job runs, and its job end is posted
    * after every earlier event on the same queue.
    */
  def of[A](spark: SparkSession)(body: => A): (A, Seq[JobRun]) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val writes = new ConcurrentLinkedQueue[Int]()
    val marker = new AtomicInteger(-1)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == MarkerGroup)
          marker.set(e.jobId)
        else starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker.get) drained.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writes.add(e.stageId)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(MarkerGroup, MarkerGroup)
      try sc.parallelize(Seq(1), 1).foreach(_ => ())
      finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      val ran = stages.asScala.map(s => s.stageId -> s.numTasks).toMap
      val wrote = writes.asScala.groupBy(identity).map { case (id, ts) => id -> ts.size }
      val jobs = starts.asScala.toSeq.sortBy(_.jobId).map { j =>
        val ids = j.stageIds.filter(ran.contains)
        JobRun(
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""),
          ids.map(id => id -> ran(id)).toMap,
          ids.flatMap(id => wrote.get(id).map(id -> _)).toMap)
      }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }
}
