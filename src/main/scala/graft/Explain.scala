package graft

/** Plan-audit utility: prints the formatted physical plan for the named
  * queries (all queries if none named) over a given sf dir. Used for the
  * per-round plan audit (pushdown/pruning/broadcast/codegen checks) —
  * `runMain graft.Explain /root/testdata/sf0.01 q07_star_revenue ...`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = Catalog.select(args.drop(1).toSeq)
    val qs = if (args.length > 1) named else named.sortBy(_.name)
    val spark = engine.Sessions.local("graft-explain")
    qs.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

/** Compact whole-suite plan audit: one summary line per query (join
  * strategies, exchange/sort counts, scan column widths, pushed filters)
  * as a markdown table — `runMain graft.PlanAudit <sfDir>` writes
  * PLANS.md. This is the artifact of the "explain then iterate" loop:
  * regenerate after plan-shape changes and diff.
  */
object PlanAudit {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** Every node of the plan, descending through the AQE wrapper into its
    * initial plan — `collect` stops at the wrapper. The one traversal
    * the plan audits and plan-policy specs share. (Deliberately does NOT
    * descend into cached relations: a final plan's `InMemoryTableScan`
    * contents are audited separately via MaterializationAudit, at the
    * moment they materialize.)
    */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.initialPlan)
    case other => other +: other.children.flatMap(flatten)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = engine.Sessions.local("graft-plan-audit")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit (generated by `graft.PlanAudit`)\n\n"
    sb ++= s"Scale dir: `$sfDir`. One row per query: physical join strategies,\n"
    sb ++= "exchange (shuffle/broadcast) and sort counts, and the widest scan's\n"
    sb ++= "read schema column count (column pruning at work). Iterative\n"
    sb ++= "queries (q43) report the plan of the final label table.\n\n"
    sb ++= "| query | joins | shuffles | bcasts | sorts | windows | aggs | max scan cols |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val nodes = flatten(fn(spark, sfDir).queryExecution.executedPlan)
        def count(pred: String => Boolean) =
          nodes.count(n => pred(n.nodeName))
        val joins = nodes.map(_.nodeName)
          .filter(_.contains("Join")).groupBy(identity)
          .map { case (k, v) => if (v.size > 1) s"${v.size}x$k" else k }
          .toSeq.sorted.mkString(" ")
        val scanCols = nodes.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.requiredSchema.size
          // DSv2 scans (graft-manifest, graft-paged) — readSchema is
          // the negotiated pruned schema, same pruning evidence as the
          // file source's requiredSchema
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.readSchema().size
        }
        // v2 relations get a marker so the audit shows WHICH queries
        // read through a custom connector (q283: the manifest scan)
        val v2 = nodes.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.getClass.getName match {
              case n if n.contains("Manifest") => "manifest-scan"
              case n if n.contains("Paged") => "paged-scan"
              case _ => "v2-scan"
            }
        }.distinct.mkString(" ")
        sb ++= s"| $name | ${if (joins.isEmpty) "—" else joins} " +
          s"| ${count(_ == "Exchange")} | ${count(_ == "BroadcastExchange")} " +
          s"| ${count(_.startsWith("Sort"))} | ${count(_.startsWith("Window"))} " +
          s"| ${count(_.contains("Aggregate"))} " +
          s"| ${if (scanCols.isEmpty) "—" else scanCols.max.toString}" +
          s"${if (v2.isEmpty) "" else s" ($v2)"} |\n"
      } catch { case e: Throwable =>
        sb ++= s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | | |\n"
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}

/** Streaming-plan audit: runs the named streaming queries through the
  * real catalog path and dumps, per micro-batch, the state operators'
  * provisioned shuffle-partition counts from StreamingQueryProgress —
  * the one plan property `Explain` cannot see (the catalog returns the
  * drained batch table, not the streaming query handle). This is the
  * evidence artifact for state-partition sizing changes: run it before
  * and after such a change and diff the outputs.
  * `runMain graft.StreamPlanAudit <sfDir> <query ...>`.
  */
object StreamPlanAudit {
  import scala.jdk.CollectionConverters._
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = Catalog.select(args.drop(1).toSeq)
      .filter(q => args.length > 1 || q.streaming)
    val spark = engine.Sessions.local("graft-stream-plan-audit")
    val lines = new scala.collection.mutable.ArrayBuffer[String]
    val current = new java.util.concurrent.atomic.AtomicReference[String]("?")
    // r20 ADVICE: the listener bus is async, so attributing events to
    // `current` under fixed sleeps can label a late-flushing progress
    // event from query N as query N+1 (or drop the last query's). The
    // bus is FIFO per query and a query's progress events precede its
    // terminated event, so tracking started/terminated ids and waiting
    // until every started run has terminated BEFORE advancing `current`
    // makes the attribution exact — no wall-clock guessing.
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
        def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          terminated.add(e.runId)
        def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val ops = p.stateOperators.map(o =>
            s"${o.operatorName}[partitions=${o.numShufflePartitions}" +
            s" rowsTotal=${o.numRowsTotal}]").mkString(" ")
          lines.synchronized {
            lines += f"${current.get}%-30s sink=${p.name} batch=${p.batchId}" +
              s" inputRows=${p.numInputRows}" +
              s" ${if (ops.isEmpty) "stateless" else ops}"
          }
        }
      })
    def drainListenerEvents(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000
      while (!started.asScala.forall(terminated.contains) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    qs.foreach { q =>
      current.set(q.name)
      q.fn(spark, sfDir).collect()
      drainListenerEvents()
    }
    println(s"# StreamPlanAudit sfDir=$sfDir " +
      s"sessionPartitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    lines.synchronized(lines.sorted.foreach(println))
    spark.stop()
  }
}
