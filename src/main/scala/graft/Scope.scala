package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Caller-owned cache lifetime: the engine's only answer to "how long does a
  * materialized result stay cached".
  *
  * `Scope { body }` opens a scope confined to the calling thread. Every RDD
  * or Dataset the engine persists while it is open — a loop's rebased
  * rounds, a local checkpoint, the parse cache of `toBronze`, an operator's
  * final result — is pinned to the INNERMOST open scope and unpersisted when
  * that scope closes. Scopes nest: an inner scope unpersists only its own
  * pins, so a sample scope inside a query scope drops the sample's results
  * and keeps nothing of the query's. A query running on another thread has
  * its own scopes, and no scope here ever touches its caches.
  *
  * Index memos ([[memo]]) live in the OUTERMOST open scope, so a query's
  * warm and timed samples (each in its own nested scope) share one built
  * index, dropped with the query's scope.
  *
  * Outside any scope nothing is pinned and nothing memoized: a result stays
  * cached while something references it, and Spark's ContextCleaner
  * reclaims it once it is garbage (GraftSession runs a periodic GC for
  * this). A frame read after its scope closed recomputes from its lineage —
  * except a local checkpoint, which has none, so an operator never returns
  * a checkpoint-backed frame from a scope of its own.
  */
object Scope {

  private final case class Memo(version: String, value: Any, release: () => Unit)

  /** One open scope: its pins (each an unpersist) and, when it is the
    * outermost, the memos keyed by slot.
    */
  private final class Frame {
    val pins = mutable.ArrayBuffer.empty[() => Unit]
    val memos = mutable.HashMap.empty[String, Memo]

    def drain(): Unit = {
      pins.foreach(_())
      pins.clear()
      memos.values.foreach(_.release())
      memos.clear()
    }
  }

  /** The calling thread's open scopes, innermost first. */
  private val open = ThreadLocal.withInitial[List[Frame]](() => Nil)

  /** Run `body` in a new scope; everything pinned to it is unpersisted when
    * `body` returns or throws.
    */
  def apply[A](body: => A): A = {
    val outer = open.get
    val frame = new Frame
    open.set(frame :: outer)
    try body
    finally {
      open.set(outer)
      frame.drain()
    }
  }

  /** Close the innermost open scope and open a fresh one in its place: its
    * pins are unpersisted and its memos released. A no-op outside a scope.
    */
  private[graft] def reopen(): Unit = open.get.headOption.foreach(_.drain())

  private def pinned(release: () => Unit): Unit =
    open.get.headOption.foreach(_.pins += release)

  /** Pin a persisted RDD to the innermost open scope, if any. */
  private[graft] def pin[R <: RDD[_]](rdd: R): R = {
    pinned(() => { rdd.unpersist(blocking = false); () })
    rdd
  }

  /** Pin a persisted Dataset to the innermost open scope, if any. */
  private[graft] def pin[T](ds: Dataset[T]): Dataset[T] = {
    pinned(() => { ds.unpersist(blocking = false); () })
    ds
  }

  /** The outermost open scope's entry for `slot`, built on first use. An
    * entry built from another `version` of the slot (the corpus it indexes
    * changed) is released and replaced, so a re-keyed corpus holds one entry.
    * Outside any scope there is no memo: `build` runs on every call.
    */
  private[graft] def memo[V](slot: String, version: String)(build: => V)(release: V => Unit): V =
    open.get.lastOption match {
      case None => build
      case Some(frame) =>
        frame.memos.get(slot) match {
          case Some(m) if m.version == version => m.value.asInstanceOf[V]
          case stale =>
            stale.foreach { m => frame.memos -= slot; m.release() }
            val v = build
            frame.memos(slot) = Memo(version, v, () => release(v))
            v
        }
    }

  /** The slots memoized in the calling thread's outermost open scope. */
  private[graft] def memoSlots: Set[String] =
    open.get.lastOption.fold(Set.empty[String])(_.memos.keySet.toSet)
}
