package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** An owner of staged blocks: persisted frames and local checkpoints.
  *
  * Ownership rule, stated once for every module that stages a frame:
  *   - Inside `Staged.scope { ... }`, `Staged.persist` and
  *     `Staged.checkpoint` register the staged frame with the scope's
  *     owner. The owner releases everything it holds when the scope ends,
  *     on success and on failure. Anything built on a staged frame must
  *     therefore be consumed (written, collected, counted) inside the
  *     scope.
  *   - Outside any scope nothing is registered: the frame is the
  *     caller's, like any persisted frame, and so are the blocks a failed
  *     call leaves behind.
  *   - A loop or stage that is done with a frame before its scope ends
  *     frees it with `Staged.release`. A holder that outlives any one call
  *     (the streaming gate) keeps its own owner and closes it.
  *
  * Spark's CacheManager keys cache entries by plan, so persisting a plan
  * that is already cached is a no-op that shares the existing entry. Such
  * a persist is not registered: the owner that cached the plan first
  * releases it, and an inner scope never drops an outer owner's entry.
  *
  * The blocks of a local checkpoint belong to the RDD under the frame's
  * plan (a `LogicalRDD`), not to the SQL cache, so the owner unpersists
  * that RDD. Unpersisting a locally checkpointed RDD discards its data
  * (the lineage is truncated): release a round only once nothing
  * references it.
  *
  * Not thread-safe: an owner is used by one thread at a time (a scope by
  * its own thread, the gate's owner by the stream's serial batches).
  */
final class Staged extends AutoCloseable {
  private var held = Vector.empty[(Dataset[_], () => Unit)]
  private var persists = 0

  /** Persist `df` and hold its cache entry, unless its plan is already
    * cached by another persist (then `df` is returned unregistered). */
  def persist[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist()
      held :+= (p -> (() => { p.unpersist(true); () }))
      persists += 1
      p
    }

  /** Locally checkpoint `df` and hold the checkpoint's blocks. `eager`
    * materializes it now; otherwise the blocks pin at the first action. */
  def checkpoint[T](df: Dataset[T], eager: Boolean): Dataset[T] = {
    val c = df.localCheckpoint(eager)
    held :+= (c -> (() => Staged.free(c)))
    c
  }

  /** Free the blocks this owner holds for each of `dfs` now. Frames it
    * does not hold are left to their owner. */
  def release(dfs: Dataset[_]*): Unit = {
    val (mine, rest) = held.partition { case (h, _) => dfs.exists(_ eq h) }
    held = rest
    mine.foreach(_._2())
  }

  /** Whether this owner has persisted at least one frame. */
  def persisted: Boolean = persists > 0

  /** Free everything this owner holds, newest first. */
  def close(): Unit = {
    val all = held
    held = Vector.empty
    all.reverseIterator.foreach(_._2())
  }
}

object Staged {
  private val current = new ThreadLocal[Staged]

  /** Run `body` with a fresh owner as this thread's current owner, then
    * close it, whether `body` returns or throws. Scopes nest: the outer
    * owner is current again once `body` ends. */
  def scope[T](body: => T): T = {
    val owner = new Staged
    val outer = current.get
    current.set(owner)
    try body
    finally {
      current.set(outer)
      owner.close()
    }
  }

  /** The current thread's owner, if a scope is open. */
  private[graft] def active: Option[Staged] = Option(current.get)

  /** Persist `df`, registered with the current owner if there is one. */
  def persist[T](df: Dataset[T]): Dataset[T] =
    active.fold[Dataset[T]](df.persist())(_.persist(df))

  /** Locally checkpoint `df`, registered with the current owner if there
    * is one. */
  def checkpoint[T](df: Dataset[T], eager: Boolean): Dataset[T] =
    active.fold(df.localCheckpoint(eager))(_.checkpoint(df, eager))

  /** Free `dfs` now: through the current owner inside a scope, directly
    * (they are the caller's) outside one. */
  def release(dfs: Dataset[_]*): Unit = active match {
    case Some(owner) => owner.release(dfs: _*)
    case None => dfs.foreach(free)
  }

  /** The RDD backing a checkpointed frame; empty for any other frame. */
  private[graft] def rddsOf(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Seq(lr.rdd)
      case _ => Nil
    }

  private def free(df: Dataset[_]): Unit = rddsOf(df) match {
    case Nil => df.unpersist(true); ()
    case rdds => rdds.foreach(_.unpersist(true))
  }
}
