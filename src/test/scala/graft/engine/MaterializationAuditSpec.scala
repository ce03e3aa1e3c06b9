package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{PlanAudit, SparkSpec}

/** Contracts of the [[MaterializationAudit]] spec hook — each pinned because the
  * policy sweep riding it ([[graft.GlobalWindowPolicySpec]]) silently
  * loses coverage if any of them regresses:
  *
  *  1. plans are snapshotted at RECORD time, before the caller persists
  *     — `Dataset.persist` returns the same instance, so a late
  *     `executedPlan` force would see the cache manager's
  *     `InMemoryTableScan` substitution instead of the operators the
  *     audit exists to expose (the bug the round-17 first cut had);
  *  2. [[Tables.landed]] records the compute plan even for a key that
  *     is ALREADY landed, so audit coverage does not depend on which
  *     suite landed a shared table first within the JVM;
  *  3. disabled (the default) means the by-name frame is never built
  *     and nothing accumulates — the hook must stay free in the
  *     bench/verify mains.
  */
class MaterializationAuditSpec extends SparkSpec {

  test("eager snapshots the original operators, not the cache scan") {
    import spark.implicits._
    // a global window eager'd away: exactly the q180 shape the final
    // plan hides behind an InMemoryTableScan
    def build() = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .withColumn("rn", row_number().over(Window.orderBy(col("k"))))
    MaterializationAudit.enable()
    try {
      val p = Tables.eager(build())
      val recs = MaterializationAudit.drain()
      recs.map(_.site) shouldBe Seq("eager")
      withClue("audited plan must carry the window: ") {
        PlanAudit.flatten(recs.head.plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        } should not be empty
      }
      // the substitution the snapshot defends against: any plan-identical
      // frame planned AFTER the persist resolves to the cache scan with
      // the window gone — an audit that forced executedPlan late (or a
      // consumer reading the persisted instance's plan before the QE was
      // memoized) would see only this
      withClue("a fresh identical lineage planned post-persist hides it: ") {
        val post = PlanAudit.flatten(build().queryExecution.executedPlan)
        post.collect { case w: WindowExec => w } shouldBe empty
        post.collect { case s: InMemoryTableScanExec => s } should
          not be empty
      }
      p.unpersist(blocking = true)
    } finally MaterializationAudit.disable()
  }

  test("landed records the compute plan even when already landed") {
    import spark.implicits._
    val computes = new AtomicInteger
    // no fixture tables: the key is the name alone
    def build() = Tables.landed(spark, "plan_audit_spec_key", dir = "",
        tables = Nil, counter = computes) {
      Seq((1L, "x")).toDF("id", "s")
        .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    }
    build() // land it with the audit OFF (another suite's first touch)
    computes.get shouldBe 1
    MaterializationAudit.enable()
    try {
      build() // already landed: plan-only audit, no recompute
      computes.get shouldBe 1
      val recs = MaterializationAudit.drain()
      recs.map(_.site) shouldBe Seq("landed:plan_audit_spec_key")
      PlanAudit.flatten(recs.head.plan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      } should not be empty
    } finally MaterializationAudit.disable()
  }

  test("disabled: nothing is built and nothing accumulates") {
    var built = false
    MaterializationAudit.record("off", { built = true; spark.range(1).toDF() })
    built shouldBe false
    MaterializationAudit.enabled shouldBe false
    MaterializationAudit.drain() shouldBe empty
  }
}
