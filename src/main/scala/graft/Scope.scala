package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The owner of every intermediate an operator hands back still pinned.
  *
  * Several operators return a lazily-evaluated plan that reads a
  * persisted or locally-checkpointed intermediate (LSH candidate pairs,
  * component labels, cached cell assignments, …). The operator cannot
  * free it: the caller has not evaluated the plan yet, and a local
  * checkpoint cannot be recomputed, so a plan whose blocks are gone
  * fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Instead the operator
  * [[hold]]s it, and the owner frees it.
  *
  * The owner is the calling thread. Each thread has its own list of
  * held frames, so two callers on two threads never free each other's
  * blocks, and two lazy results of one operator on one thread both stay
  * readable until their thread calls [[close]]. The contract:
  *   - A registered query (`SparkEntry.queries`) calls [[close]] before
  *     it builds, so a caller that materializes one query at a time
  *     pins at most one query's intermediates, and frees query N's when
  *     it builds query N+1.
  *   - A direct operator caller calls [[close]] once every result it
  *     built on this thread is materialized (collected, written, or
  *     abandoned). Prompt release matters at scale: at 10⁷ docs, a
  *     dedup_survivor run right after a dedup_clusters run in the same
  *     session was ~2× its clean-session cost until the earlier run's
  *     blocks were released.
  *   - Work fanned out to other threads by [[graft.ops.Par]] holds into
  *     the caller's scope.
  *
  * The scope is a plain, not an inherited, thread-local: an inherited
  * one would hand one owner to every thread the caller starts.
  */
object Scope {

  /** One thread's held frames. */
  private[graft] type Frames = mutable.ArrayBuffer[DataFrame]

  private val current = new ThreadLocal[Frames] {
    override def initialValue(): Frames = mutable.ArrayBuffer.empty
  }

  /** Register `df` with this thread's scope and return it. */
  def hold(df: DataFrame): DataFrame = {
    val fs = current.get
    fs.synchronized(fs += df)
    df
  }

  /** Free every frame this thread's scope holds. Non-blocking and
    * idempotent. */
  def close(): Unit = {
    val fs = current.get
    val held = fs.synchronized { val h = fs.toList; fs.clear(); h }
    held.foreach(free)
  }

  /** Free the blocks behind `df`: its cache entry, if it was persisted,
    * and every local checkpoint its plan reads. `Dataset.unpersist`
    * only clears CacheManager entries, NOT the RDD blocks a local
    * checkpoint lives in — those sit behind `LogicalRDD` leaves and are
    * unpersisted at the RDD level, else each loop round leaks a
    * generation of blocks until the ContextCleaner happens to collect
    * them. The plan is WALKED, not root-matched: held plans are often a
    * Project or Aggregate over the checkpoint leaf. Each half is a
    * no-op where it does not apply. Only call this once no live plan
    * reads the blocks. */
  private[graft] def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** This thread's frames, for [[within]]. */
  private[graft] def owner: Frames = current.get

  /** Run `body` with its holds going to `owner` — how [[graft.ops.Par]]
    * runs a task on a pool thread under its caller's scope. */
  private[graft] def within[A](owner: Frames)(body: => A): A = {
    val saved = current.get
    current.set(owner)
    try body
    finally current.set(saved)
  }
}
