package graft.io

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The one owner of cached and checkpointed intermediates: every
  * persist, localCheckpoint and unpersist in the engine goes through
  * here.
  *
  * `CacheScope { body }` releases, when `body` returns or throws, every
  * frame that `cache` or `checkpoint` took inside it on the current
  * thread. So an operator may hand back a lazy frame that still reads its
  * caches; the caller's scope frees them once the frame is consumed.
  * Scopes nest, and each releases only its own frames. Ownership is
  * registered per thread at the call, never taken as a diff of the
  * session's persistent RDDs: two jobs sharing one session on two
  * threads would then release each other's caches mid-run.
  *
  * A frame taken outside any scope is owned by nobody and lives until
  * the ContextCleaner collects it.
  */
object CacheScope {

  // the open scopes of this thread, innermost first
  private val open = new ThreadLocal[List[ArrayBuffer[Dataset[_]]]] {
    override def initialValue(): List[ArrayBuffer[Dataset[_]]] = Nil
  }

  /** Persist at MEMORY_AND_DISK, the only level the engine uses. */
  def cache[T](ds: Dataset[T]): Dataset[T] =
    own(ds.persist(StorageLevel.MEMORY_AND_DISK))

  /** Eager localCheckpoint: materialized now, lineage cut. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = own(ds.localCheckpoint(true))

  /** Free a frame now, before its scope ends. */
  def release(ds: Dataset[_]): Unit = {
    open.get.foreach { frames =>
      val i = frames.indexWhere(_ eq ds)
      if (i >= 0) frames.remove(i)
    }
    free(ds)
  }

  /** Run `body`, then release every frame it took on this thread. */
  def apply[A](body: => A): A = {
    val mine = ArrayBuffer.empty[Dataset[_]]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.foreach(free)
    }
  }

  private def own[T](ds: Dataset[T]): Dataset[T] = {
    open.get.headOption.foreach(_ += ds)
    ds
  }

  // A localCheckpoint is not in the CacheManager, so Dataset.unpersist
  // is a no-op on it: its blocks belong to the checkpointed RDD under
  // the frame's LogicalRDD.
  private def free(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist(blocking = false)
    case _ => ds.unpersist(blocking = false)
  }
}
