package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contracts of [[Fixpoint.iterate]], the one driver of the catalog's
  * five iterative queries (q43, q69, q111, q165, q176):
  *
  *  1. the bound counts the final no-op round: a step that converges in
  *     exactly `maxRounds` rounds returns, one that needs one more throws
  *     naming the loop;
  *  2. an init with nothing to change costs exactly one round;
  *  3. each round's plan executes once — the change count that decides
  *     convergence is also the action that fills the round's checkpoint,
  *     and reading the result re-executes nothing;
  *  4. the plans of `init` and of each round are visible to
  *     [[MaterializationAudit]].
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** `rows` rows, each counting down from `from` by one per round; a
    * row changes while it is above zero, so the fixpoint needs
    * `from + 1` rounds (the last one a no-op).
    */
  private def countdown(rows: Int, from: Long): DataFrame =
    (1 to rows).map(i => (i, from)).toDF("id", "k")
      .withColumn("changed", lit(false))

  private def down(state: DataFrame): DataFrame =
    state.select(col("id"), greatest(col("k") - 1, lit(0L)).as("k"),
      (col("k") > 0).as("changed"))

  test("the bound counts the final no-op round") {
    val rounds = ArrayBuffer.empty[Int]
    val out = Fixpoint.iterate(countdown(3, 2), 3, "countdown") {
      (state, n) => rounds += n; down(state)
    }
    rounds shouldBe Seq(1, 2, 3)
    out.columns shouldBe Array("id", "k")
    out.as[(Int, Long)].collect().toSet shouldBe Set((1, 0L), (2, 0L), (3, 0L))

    val e = the[IllegalStateException] thrownBy
      Fixpoint.iterate(countdown(3, 3), 3, "countdown")((state, _) => down(state))
    e.getMessage should include("countdown")
    e.getMessage should include("3 rounds")
  }

  test("an init with nothing to change returns after one round") {
    val rounds = ArrayBuffer.empty[Int]
    val out = Fixpoint.iterate(countdown(2, 0), 5, "settled") {
      (state, n) => rounds += n; down(state)
    }
    rounds shouldBe Seq(1)
    out.as[(Int, Long)].collect().toSet shouldBe Set((1, 0L), (2, 0L))
  }

  test("each round's step plan executes once") {
    val acc = spark.sparkContext.longAccumulator("fixpoint-rows")
    // bumps once per row each time a plan holding it runs
    val tick = udf { (k: Long) => acc.add(1); k }.asNondeterministic()
    val init = countdown(5, 3)
      .select(col("id"), tick(col("k")).as("k"), col("changed"))
    val out = Fixpoint.iterate(init, 10, "ticking") { (state, _) =>
      // the step reads its state twice; a state that was not
      // materialized would re-run every earlier round's ticks
      down(state.select(col("id"), tick(col("k")).as("k")))
        .join(state.select(col("id")), "id")
    }
    out.collect()
    out.collect()
    // init once, then 4 rounds of 5 rows: the checkpoint, the change
    // count and both reads of the result share one execution per round
    acc.value shouldBe 5L + 4 * 5L
  }

  test("init's plan and every round's are recorded for the plan audits") {
    MaterializationAudit.enable()
    try {
      Fixpoint.iterate(countdown(1, 2), 5, "audited")((state, _) => down(state))
      MaterializationAudit.drain().map(_.site) shouldBe
        Seq.fill(1 + 3)("fixpoint:audited")
    } finally MaterializationAudit.disable()
  }
}
