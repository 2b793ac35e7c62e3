package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

import scala.annotation.tailrec

/** The one lifecycle for iterative operators that truncate lineage every
  * round (`DupGraph.components` and `pageRank`, `Bpe` and `WordPiece`
  * merge training). Round k's frame is built from round k−1's, so
  * without truncation round k re-plans k stacked rounds (Kiveris et al.
  * bound the star rounds by O(log²n), not the plan); `persist` keeps the
  * lineage, `localCheckpoint` cuts it. Shark (SIGMOD 2013) runs
  * iterative jobs over in-memory data the same way.
  *
  * A lazy checkpoint's last stage runs inside the action of the step
  * that reads it (an argmax collect, a star-forest count), which fills
  * it at no extra job. An eager one runs that stage as its own job,
  * which pays where the job is the round's only action (`pageRank`) or
  * the table feeds every round. Filling round k can READ round k−1's
  * blocks, so round k−1 is freed once round k's action has returned;
  * freeing it earlier races the fill and loses blocks. A call that
  * throws frees every checkpoint it made. On success the checkpoints
  * the returned frame reads are its one leftover (a freed checkpoint
  * cannot be recomputed); the rest is freed.
  */
final class Rounds private {
  private var whole, open = Vector.empty[Dataset[_]] // the call's; this round's
  private var openFilled = true
  private var closed = Vector.empty[Vector[Dataset[_]]] // oldest first

  /** An eager checkpoint every round reads, held until the call ends. */
  def shared[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint(false)
    whole :+= c
    Rounds.fill(c)
  }

  /** This round's checkpoint, filled now. */
  def eagerly[T](ds: Dataset[T]): Dataset[T] = add(ds, eager = true)

  /** This round's checkpoint, filled by the action of the step that reads it. */
  def lazily[T](ds: Dataset[T]): Dataset[T] = add(ds, eager = false)

  private def add[T](ds: Dataset[T], eager: Boolean): Dataset[T] = {
    val c = ds.localCheckpoint(false)
    open :+= c
    openFilled &&= eager
    if (eager) Rounds.fill(c) else c
  }

  /** Runs `step` from `first` until it returns `Left(result)`. Step k
    * gets round k's state and k; checkpoints made before the first step
    * form round 0, those made in step k round k+1. Step k must run an
    * action over every lazy checkpoint of round k and checkpoint the
    * state it returns.
    */
  def iterate[S](first: S)(step: (S, Int) => Either[DataFrame, S]): DataFrame = {
    @tailrec def go(s: S, k: Int): DataFrame = {
      // the newest filled round: round k if it was filled on creation,
      // else round k−1, which step k−1's action filled
      val filled = open.nonEmpty && openFilled
      closed :+= open
      open = Vector.empty
      openFilled = true
      val spent = closed.length - (if (filled) 1 else 2)
      CacheRelease.release(closed.take(spent).flatten: _*)
      closed = closed.drop(spent)
      step(s, k) match {
        case Left(result) => result
        case Right(next) => go(next, k + 1)
      }
    }
    go(first, 0)
  }
}

object Rounds {

  private def rdds(d: Dataset[_]) =
    d.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** The one count `localCheckpoint(true)` runs, run once the checkpoint
    * is held: Spark persists the RDD before that job, so a failing job
    * would otherwise leave it registered with nothing to free it.
    */
  private def fill[T](c: Dataset[T]): Dataset[T] = {
    rdds(c).foreach(_.count())
    c
  }

  /** An eager checkpoint outside any loop (the merge changelog, whose
    * plan must be evaluated once), taken the way a round's is: lazily,
    * then filled, and freed if the fill throws. The caller frees it
    * with [[CacheRelease.release]].
    */
  private[graft] def pin[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint(false)
    try fill(c)
    catch { case e: Throwable => CacheRelease.release(c); throw e }
  }

  /** Runs an iterative operator's body and returns its frame. Every
    * checkpoint the body made through the [[Rounds]] it is handed is
    * freed on the way out, on success or failure, except those the
    * returned frame reads.
    */
  def run(body: Rounds => DataFrame): DataFrame = {
    val rounds = new Rounds
    var result: DataFrame = null
    try {
      result = body(rounds)
      result
    } finally {
      val kept = Option(result).toSeq.flatMap(rdds).map(_.id).toSet
      val held = rounds.whole ++ rounds.closed.flatten ++ rounds.open
      CacheRelease.release(held.filterNot(rdds(_).exists(r => kept(r.id))): _*)
    }
  }
}
