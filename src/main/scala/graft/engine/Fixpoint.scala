package graft.engine

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Iteration to a fixpoint: the one thing the catalog needs that Spark's
  * relational API does not give. q43, q69, q111, q165 and q176 run
  * through [[iterate]]; each keeps only its round function.
  *
  * Every state, `init` included, is `localCheckpoint`ed, lazily: a round
  * reads its predecessor two to five times, so raw lineage would grow
  * the logical plan geometrically with the round count (driver OOM
  * while just rendering the plan, observed at ~12 star rounds) and
  * recompute each read, while a checkpoint cuts round N to one flat
  * plan over a leaf. The round's one action, the count of its `changed`
  * rows, both fills that checkpoint and decides convergence, so each
  * round's plan executes once and no separate emptiness or set-equality
  * probe runs. On a cluster the checkpoint would be `checkpoint` to
  * reliable storage, the standard iterative-Spark form.
  */
object Fixpoint {

  /** Run `step` from `init` until a round marks no row `changed`, and
    * return that round's state without the flag.
    *
    * `step(state, round)` gets the previous round's state (`init` for
    * round 1) and returns the next one, with a boolean `changed` column
    * marking what this round altered. What "altered" means is the call
    * site's: a lowered label, a newly reached node, a retired edge. Rows
    * the state keeps only to report a change (a peeled edge) are the
    * next step's to drop. `init` carries the flag too, so round 1 reads
    * it like any other state.
    *
    * The rounds run, counting the final no-op round, are at most
    * `maxRounds`; a round `maxRounds` that still changes something
    * throws naming `what`, so a query never returns a partial fixpoint.
    * `init`'s plan and each round's are recorded with
    * [[MaterializationAudit]] under `fixpoint:<what>` before they are
    * checkpointed, so plan policies see them as they see `Tables.eager`
    * and `Tables.landed` intermediates.
    */
  def iterate(init: DataFrame, maxRounds: Int, what: String)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    def cut(state: DataFrame): DataFrame = {
      MaterializationAudit.record(s"fixpoint:$what", state)
      state.localCheckpoint(eager = false)
    }
    @tailrec def round(state: DataFrame, n: Int): DataFrame = {
      val next = cut(step(state, n))
      if (next.filter(col("changed")).count() == 0) next.drop("changed")
      else if (n >= maxRounds) throw new IllegalStateException(
        s"$what did not converge in $maxRounds rounds")
      else round(next, n + 1)
    }
    round(cut(init), 1)
  }
}
