package graft.util

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** An intermediate held for more than one read, and what lets it go (a
  * broadcast's destroy, say; nothing by default): `release()` frees it,
  * blocking, and only the first call does anything. */
final class Held[+T](val value: T, free: () => Unit = () => ()) {
  private[this] val released = new AtomicBoolean(false)
  def release(): Unit = if (released.compareAndSet(false, true)) free()
}

/** Where an intermediate read more than once lives, and when it is let go:
  * the one caller of `localCheckpoint`, `persist` and `unpersist` in
  * graft's sources (a tier-1 scan in `MaterializeSpec` keeps it so).
  *  - [[checkpoint]] is a local checkpoint: blocks on the executors, lineage
  *    cut. A Dataset is computed at once; an RDD is filled by the caller's
  *    next action. Executor loss or dynamic allocation loses the blocks.
  *  - [[cache]] persists MEMORY_AND_DISK, lazily, and keeps the lineage.
  * A caller that returns a lazy result built on a hold takes `.value` and
  * leaves the blocks to Spark's ContextCleaner; any other releases it. */
object Materialize {

  def checkpoint[T](ds: Dataset[T]): Held[Dataset[T]] = {
    val held = ds.localCheckpoint()
    val blocks = held.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    new Held(held, () => blocks.foreach(_.unpersist(blocking = true)))
  }

  def checkpoint[T](rdd: RDD[T]): Held[RDD[T]] = {
    rdd.localCheckpoint()
    new Held(rdd, () => { rdd.unpersist(blocking = true); () })
  }

  def cache[T](ds: Dataset[T]): Held[Dataset[T]] = {
    val held = ds.persist(StorageLevel.MEMORY_AND_DISK)
    new Held(held, () => { held.unpersist(blocking = true); () })
  }

  def cache[T](rdd: RDD[T]): Held[RDD[T]] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    new Held(rdd, () => { rdd.unpersist(blocking = true); () })
  }

  /** The holds of one [[holding]] scope: `apply` keeps one, returns its value. */
  final class Holds private[Materialize] {
    private[Materialize] val taken = ArrayBuffer.empty[Held[Any]]
    def apply[T](h: Held[T]): T = { taken += h; h.value }
  }

  /** Runs `body`, then releases every hold it took, newest first, whether
    * it returns or throws. */
  def holding[T](body: Holds => T): T = {
    val holds = new Holds
    try body(holds) finally holds.taken.reverseIterator.foreach(_.release())
  }
}
