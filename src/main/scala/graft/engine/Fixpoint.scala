package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** The driver loop of the iterative kernels (Expand, PageRank, MinPlus,
  * Propagate.pointerDouble, Simplify.dpRounds) and the convergence
  * probe of Expand and Components. A kernel passes its round as a step
  * function and keeps no loop state of its own.
  *
  * Truncation cadence (a constant, not an option): the running frame
  * goes through [[Checkpoint.truncate]] after every second round and
  * after the last one. A step references its input frame k times
  * (PageRank 2: contributions + dangling mass; Expand 3: uncertain
  * cells, positive neighbours, fold join), so one deferred level costs
  * at most k re-evaluations of one round over materialised leaves —
  * cheap — while halving the loop's eager checkpoint jobs. Deeper
  * deferral would compound k^depth references, hence never more than
  * one deferred level. Truncating also re-leafs the frame, so n rounds
  * never re-plan an n-deep tree and inherited size stats cannot
  * compound across rounds.
  */
object Fixpoint {

  /** Runs `step` from `init` for up to `maxRounds` rounds. A step that
    * returns None ends the loop: that round does not count, and the
    * frame it was given is returned as it stands (no extra truncation).
    * @return (final frame, rounds that produced a frame) */
  def iterate(s: SparkSession, init: DataFrame, maxRounds: Int)(
      step: DataFrame => Option[DataFrame]): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(frame: DataFrame, r: Int): (DataFrame, Int) =
      (if (r > maxRounds) None else step(frame)) match {
        case None => (frame, r - 1)
        case Some(next) =>
          loop(if (r % 2 == 0 || r == maxRounds) Checkpoint.truncate(s, next)
               else next, r + 1)
      }
    loop(init, 1)
  }

  /** The fixed-count form of [[iterate]]: exactly `n` rounds. */
  def rounds(s: SparkSession, init: DataFrame, n: Int)(
      step: DataFrame => DataFrame): DataFrame =
    iterate(s, init, n)(frame => Some(step(frame)))._1

  /** Counts the rows of `df` matching `p` DURING the caller's own
    * materialising job (`materialize` must evaluate eagerly, e.g. a
    * checkpoint) instead of a separate count action — one driver action
    * fewer per round. For a deterministic `df` the count is an upper
    * bound: a task retry or speculative attempt that counted a row saw
    * a row the committed partition also holds, so it can inflate the
    * count but never turn an empty frame nonzero. Callers consume the
    * zero/nonzero bit (Expand) or treat an over-count as one extra
    * monotone no-op block (Components).
    * @return (materialised frame, matching rows) */
  def counted(s: SparkSession, df: DataFrame, name: String)(
      materialize: DataFrame => DataFrame)(
      p: Row => Boolean): (DataFrame, Long) = {
    val acc = s.sparkContext.longAccumulator(name)
    val tapped = df.mapPartitions { it =>
      it.map { r => if (p(r)) acc.add(1L); r }
    }(Encoders.row(df.schema))
    val out = materialize(tapped)
    (out, acc.value)
  }
}
