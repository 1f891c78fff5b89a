package graft.ext

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** The one lifetime rule for engine-internal caches.
  *
  * Operators cache small internal frames (shingle sets, MinHash
  * signatures, candidate pairs) that several plan branches consume. The
  * unit of work that registers a cache owns it: a named query run (Bench,
  * Verify and Probe run each query in a scope), a streaming micro-batch,
  * or a library user's [[graft.api.Graft.scopedPass]]. Every internal
  * cache an operator registers while `CacheScope.scoped { ... }` is open
  * is unpersisted when the scope closes — after the caller has
  * materialized its results:
  *
  * {{{
  * val keepers = CacheScope.scoped {
  *   Dedup.minHashVerified(corpus, "text", "doc_id").collect()
  * } // shingle/signature/candidate caches released here
  * }}}
  *
  * An unscoped cache is not bounded: memory pressure moves its blocks to
  * disk (`.cache()` is MEMORY_AND_DISK), but its CacheManager entry and
  * plans stay registered until something unpersists them, so a long-lived
  * session processing many corpora grows without a scope. Nothing in the
  * engine clears the whole session cache; the one session-lifetime owner
  * is the `MlQueries` memo, whose frames are plain caches. Operators
  * cannot own their caches instead: one that returns a lazy frame cannot
  * release a cache its result still reads (`Dedup.keeperDelta`,
  * `Packing.shardTokensDelta`, `AnnIndex.servedUids`).
  *
  * Results must be MATERIALIZED inside the scope (collect/count/write): a
  * lazy DataFrame escaping the scope stays correct — unpersist never
  * changes results — but recomputes the formerly-cached branches on its
  * next action.
  *
  * Scopes nest: an inner scope releases only its own registrations.
  * Spark's cache registry is keyed by LOGICAL PLAN, not by registration —
  * caching the same plan twice is one entry, and unpersisting it once
  * removes it for everyone — so the inner exit SKIPS any plan an
  * enclosing scope also registered (matched with `sameResult` on the
  * analyzed plans); the owning outer scope releases it at its own exit.
  * Registration is driver-side at plan-construction time (operators build
  * plans on the calling thread), so a ThreadLocal carries the scope
  * stack; code outside any scope registers unowned caches.
  *
  * THREADING: the stack is deliberately NOT an InheritableThreadLocal —
  * pool threads are created once and reused, so creation-time inheritance
  * would hand a pool thread whatever scope happened to be open when the
  * pool grew, forever (a stale-ownership bug). A plan built on a worker
  * thread therefore registers with no scope and stays cached until
  * unpersisted, even while a scope is open on another thread.
  */
object CacheScope {

  /** Innermost-first stack of open scopes on this thread. */
  private val active = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  /** `df.cache()` + registration with the innermost open scope on this
    * thread (an unowned cache when none). The `ext/` operators and the
    * query layer route their internal caches through here.
    */
  private[graft] def cache(df: DataFrame): DataFrame = {
    df.cache()
    active.get().headOption.foreach(_ += df)
    df
  }

  /** `.scopedCache()` — drop-in for `.cache()` in operator chains; routes
    * through [[CacheScope.cache]] so an open scope owns the entry.
    */
  implicit final class Cacheable(private val df: DataFrame) extends AnyVal {
    def scopedCache(): DataFrame = CacheScope.cache(df)
  }

  /** Run `body`; unpersist every cache registered during it on exit
    * (including on exception) — except plans an enclosing scope also
    * registered, which stay cached until that scope closes. Returns
    * `body`'s result.
    */
  def scoped[T](body: => T): T = {
    val buf = new ArrayBuffer[DataFrame]
    active.set(buf :: active.get())
    try body
    finally {
      val outers = active.get().tail
      active.set(outers)
      // blocking=false: eviction proceeds async, same as Dataset.unpersist's
      // default; double-unpersist (operators that already release their own
      // short-lived caches) is a no-op
      buf.foreach { df =>
        val ownedByOuter = outers.exists(_.exists(o =>
          o.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)))
        if (!ownedByOuter) {
          try df.unpersist()
          catch { case NonFatal(_) => () }
        }
      }
    }
  }
}
