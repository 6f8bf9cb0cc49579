package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The round policy of the data-dependent iterative operators: kNN ring
  * and cap expansion ([[Knn]]), min-label propagation
  * ([[Dedup.dupClusters]], which DBSCAN and mutual-kNN clustering share)
  * and k-core peeling ([[Graph.kCore]]). Each operator keeps only its
  * round body; this object owns what they have in common.
  *
  * Checkpoint. A round's frame is materialized once with an eager
  * `localCheckpoint`: the next round, the finished parts and the final
  * union all read the checkpointed rows, so the round's join and window
  * run exactly once and the lineage stays one round deep. An input every
  * round re-reads (an edge list) is checkpointed the same way rather than
  * persisted: a cached plan keeps its full shuffle-partition count (AQE
  * may not coalesce it), so every round stage over a persisted edge list
  * runs one task per shuffle partition, nearly all empty on small graphs.
  *
  * Count. The number the loop steers by (retired queries, changed labels,
  * dropped nodes) is an `observe()` metric collected during that same
  * checkpoint action, so it costs no extra job. The metric arrives on the
  * listener bus, usually within milliseconds of the action, but a busy bus
  * can lag without bound: the loop blocks on it for at most 100 ms and
  * then counts exactly over the checkpointed frame instead of stalling.
  *
  * Hint versus exact. An observed metric is only a hint: a retried or
  * speculative task can count its rows twice. A hint may keep the loop
  * running, or make it do work whose result is exact anyway (pruning
  * retired queries by their flags). It never ends the loop: "nothing left"
  * is always confirmed by an exact count over the checkpointed frame, one
  * small job on the last round.
  *
  * Cleanup. Inputs the operator persisted for the rounds (kNN's point
  * projection, persisted by default so `persistPoints = false` can opt
  * out) are unpersisted in `finally`, also when a round fails or the loop
  * does not converge. */
private[operators] object Iterate {

  /** A checkpointed round frame and the number of its rows matching `pred`.
    * `hint` is the observed count; `None` when it did not arrive in time. */
  final class Round(val frame: DataFrame, pred: Column, hint: Option[Long]) {

    /** The exact count: one job over the checkpointed frame, run once. */
    lazy val exact: Long = frame.filter(pred).count()

    /** The hint, or the exact count when there is none. Good for decisions
      * an overcount cannot break: doing work, or reporting. */
    def observed: Long = hint.getOrElse(exact)

    /** Whether any row matches. A positive hint answers at once; a zero or
      * missing one is confirmed by the exact count. */
    def nonEmpty: Boolean = hint.exists(_ > 0) || exact > 0
  }

  /** Checkpoint `df` eagerly, counting the rows matching `pred` in the
    * same action. */
  def checkpoint(df: DataFrame, pred: Column): Round = {
    val obs = Observation()
    val frame = df
      .observe(obs, sum(when(pred, 1L).otherwise(0L)).as("__n"))
      .localCheckpoint(eager = true)
    val hint = Try(Await.result(obs.future, 100.millis)).toOption
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
    new Round(frame, pred, hint)
  }

  /** Run `round(0)`, `round(1)`, ... while it returns true, at most
    * `maxIter` rounds, then unpersist `inputs` (a no-op for a frame that
    * was never persisted). A round ends the loop only through
    * [[Round.nonEmpty]] or driver-side state, never through a bare hint. */
  def loop(what: String, maxIter: Int, inputs: DataFrame*)(
      round: Int => Boolean): Unit =
    try {
      var i = 0
      while (round(i)) {
        i += 1
        require(i < maxIter, s"$what did not converge within $maxIter rounds")
      }
    } finally inputs.foreach(_.unpersist(blocking = false))
}
