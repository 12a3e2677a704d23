package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}

/** The one loop shape of the iterative graph operators ([[WebGraph.kCore]],
  * [[WebGraph.kTruss]], both inner loops of
  * [[WebGraph.stronglyConnectedComponents]] and
  * [[Dedup.connectedComponentsWithRounds]]).
  *
  * Loop discipline, owned here so no operator restates or varies it:
  *   - every round's frame, and the initial one, is marked with a LAZY
  *     `localCheckpoint(false)`: the mark cuts lineage, so round k never
  *     replays rounds 1..k-1, and costs no job of its own;
  *   - each round runs exactly one action, a full-scan count over the
  *     round's frame. That count both materializes the checkpoint (every
  *     partition, so the truncated lineage is never needed again) and
  *     answers "did anything change". A partial action such as `isEmpty`
  *     or `take` over a lazy checkpoint would cut lineage with
  *     partitions never computed, which is why callers never get to run
  *     their own convergence action (OPTIMIZATION_r13 §4);
  *   - the count is the one eager `localCheckpoint()` itself runs, a row
  *     count over the plan's RDD: one job, no exchange. `Dataset.count()`
  *     plans a global aggregate instead, which under AQE is two jobs and
  *     a shuffle of one row per partition;
  *   - a loop that has not converged after `maxIter` rounds throws an
  *     [[IllegalStateException]] naming the operator and the cap. A
  *     silently truncated fixpoint returns a wrong answer that looks like
  *     a right one (split components, an unpeeled core).
  *
  * Measured (`Measure count`, sf0.1; BENCH_NOTES "Fixpoint: one loop
  * shape"): against the per-operator loops it replaced, jobs fell on
  * every query that runs one (q252 81 → 69, q136 43 → 35, q50 40 → 37)
  * and shuffle figures only lost the count's one-row-per-partition
  * exchange. */
object Fixpoint {

  /** Iterate `step` from `init` until a round changes nothing.
    *
    * "Nothing changed" is read from the round's one count:
    *   - `changed = Some(p)`: the rows of the round's frame matching `p`
    *     are the ones that changed this round (a step carries the old
    *     value beside the new one); converged when none match;
    *   - `changed = None`: the frame is a monotone set whose rows only
    *     leave (a peel); converged when its size stops moving. The size
    *     of `init` is then counted once up front.
    *
    * @param op      operator name for the non-convergence error
    * @param maxIter the most rounds allowed before failing
    * @return the converged frame (the last round's, marker columns
    *         included) and the number of rounds run, the converged round
    *         included */
  def converge(op: String, maxIter: Int, init: DataFrame, changed: Option[Column] = None)(
      step: DataFrame => DataFrame): (DataFrame, Int) = {
    def countOf(frame: DataFrame): Long =
      changed.fold(frame)(frame.filter).queryExecution.toRdd.count()
    @tailrec def loop(cur: DataFrame, curCount: Long, rounds: Int): (DataFrame, Int) = {
      if (rounds >= maxIter)
        throw new IllegalStateException(s"$op did not converge in $maxIter rounds")
      val next = step(cur).localCheckpoint(false)
      val n = countOf(next)
      if (n == (if (changed.isDefined) 0L else curCount)) (next, rounds + 1)
      else loop(next, n, rounds + 1)
    }
    val first = init.localCheckpoint(false)
    loop(first, if (changed.isDefined) -1L else countOf(first), 0)
  }
}
