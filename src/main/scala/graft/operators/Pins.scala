package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of materialization pins (`localCheckpoint`) and
  * caches. Call sites pin and cache through here and never free
  * anything by hand; a [[scope]] frees what it owns when it exits.
  *
  * A pin registers with the innermost scope open on the current
  * thread; with no scope open it is left to ContextCleaner, like a bare
  * `localCheckpoint`. On normal exit a scope frees every pin its result
  * cannot reach and hands the reachable ones to the enclosing scope. A
  * frame reaches the RDD of each `LogicalRDD` leaf in its plan and,
  * through RDD dependencies, everything a not-yet-materialized lazy pin
  * still has to compute from (a materialized pin's dependencies are
  * already truncated, so the walk stops there). On an exception or a
  * `require` refusal the scope frees everything it owns.
  *
  * A pin truncates lineage, so a freed pin that is read again fails
  * with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`, never with silent rows. A
  * cache keeps its lineage, so freeing it is always safe: a scope
  * frees its caches on exit whatever its result reaches (the
  * CacheManager would otherwise hold them for the whole session). */
private[graft] object Pins {

  private final class Scope {
    val pins = mutable.LinkedHashSet[RDD[_]]()
    val caches = mutable.ArrayBuffer[Dataset[_]]()
  }

  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Every RDD [[pin]] created, weakly held: identity of a pin is the
    * RDD it made, not the shape of a plan. */
  private val made = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean]())

  /** `ds.localCheckpoint(eager)`, owned by the innermost scope. A frame
    * that already is a pin is returned unchanged. */
  def pin[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (pinRdd(ds).isDefined) ds
    else {
      val p = ds.localCheckpoint(eager)
      val rdd = p.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      made.put(rdd, true)
      scopes.get.headOption.foreach(_.pins += rdd)
      p
    }

  /** `ds.cache()`, owned by the innermost scope. A frame that is
    * already cached belongs to whoever cached it and is left alone. */
  def cache[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.cache()
      scopes.get.headOption.foreach(_.caches += ds)
    }
    ds
  }

  /** Frees one pin of the innermost scope now (a superseded loop
    * round). A frame that scope does not own is left alone. */
  def release(ds: Dataset[_]): Unit =
    for (s <- scopes.get.headOption; rdd <- pinRdd(ds))
      if (s.pins.remove(rdd)) free(rdd)

  /** Runs `body` as the owner of every pin and cache made inside it. */
  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = scopes.get
    scopes.set(s :: outer)
    var live = collection.Set.empty[RDD[_]] // stays empty if body throws
    try {
      val out = body
      live = reachable(frames(out))
      out
    } finally {
      scopes.set(outer)
      s.pins.foreach { rdd =>
        if (live(rdd)) outer.headOption.foreach(_.pins += rdd) else free(rdd)
      }
      s.caches.foreach(_.unpersist())
    }
  }

  private def pinRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD if made.containsKey(l.rdd) => Some(l.rdd)
      case _ => None
    }

  private def free(rdd: RDD[_]): Unit = { rdd.unpersist(blocking = false); () }

  /** The frames a scope's result holds: the result itself, or those
    * inside its tuples, case classes, options and collections. */
  private def frames(x: Any): Iterator[Dataset[_]] = x match {
    case d: Dataset[_] => Iterator(d)
    case i: Iterable[_] => i.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** Every RDD the frames' plans still read: their `LogicalRDD` leaves
    * and, transitively, the dependencies of each. */
  private def reachable(roots: Iterator[Dataset[_]]): collection.Set[RDD[_]] = {
    val seen = mutable.HashSet[RDD[_]]()
    val todo = mutable.Stack[RDD[_]]()
    roots.foreach(_.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD => l.rdd
    }.foreach(todo.push))
    while (todo.nonEmpty) {
      val rdd = todo.pop()
      if (seen.add(rdd)) rdd.dependencies.foreach(d => todo.push(d.rdd))
    }
    seen
  }
}
