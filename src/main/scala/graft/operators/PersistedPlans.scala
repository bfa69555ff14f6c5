package graft.operators

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.storage.StorageLevel

/** The memo of persisted frames an operator builds from a plan. Its one
  * user is [[Sampling.selectByBudget]]'s range-partitioned ranking.
  * Rebuilding the same query N times (a bench loop, the differential
  * sweep, a retried pipeline stage) reuses ONE cache entry instead of
  * registering N: block-manager storage is bounded by the number of
  * DISTINCT input plans, not by call count.
  *
  * Keyed on (session, canonicalized analyzed plan, input-file snapshot).
  * File-source plans canonicalize by root path, so the plan alone cannot
  * see a directory overwrite; the snapshot of part-file names can.
  *
  * One access-ordered LRU of [[MaxEntries]]; an evicted entry is
  * unpersisted, so a long-lived session building many distinct inputs
  * cannot accrete persists forever. Plans already handed out stay
  * correct after an eviction or [[clear]] — lineage
  * recomputes; they just lose the shared cache.
  *
  * Not a [[graft.SessionCache]]: that memo drops a dead session's
  * entries without releasing them, which is right for driver-side values
  * but wrong for blocks held by the CacheManager the whole SparkContext
  * shares; and its stable-name keys need no bound, plan keys do.
  */
object PersistedPlans {
  private type Key = (SparkSession, LogicalPlan, Long)

  private val MaxEntries = 8
  private val entries =
    new java.util.LinkedHashMap[Key, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, DataFrame]): Boolean = {
        val evict = size() > MaxEntries
        if (evict) e.getValue.unpersist(blocking = false)
        evict
      }
    }

  /** The frame persisted for `frame`'s plan: the memoized one on a hit,
    * else the one `build` returns. `build` must only MARK its frame for
    * persisting (no job runs at compose time) and must depend on nothing
    * but `frame`'s plan and the session. */
  private[graft] def apply(frame: DataFrame)(build: => DataFrame): DataFrame = {
    val analyzed = frame.queryExecution.analyzed
    val key = (frame.sparkSession, analyzed.canonicalized, snapshot(analyzed))
    entries.synchronized {
      val hit = entries.get(key)
      if (hit != null) {
        // Re-validate before serving: an EXTERNAL
        // `spark.catalog.clearCache()` (bench hygiene, operational memory
        // pressure) strips the persist out from under the entry without
        // touching this map, and serving it anyway silently recomputes
        // the upstream plan on every downstream action. `storageLevel`
        // asks Spark's CacheManager, so it sees the eviction; persist on
        // a now-uncached Dataset simply re-registers the plan.
        if (hit.storageLevel == StorageLevel.NONE)
          hit.persist(StorageLevel.MEMORY_AND_DISK)
        hit
      } else {
        // A same-plan entry under a DIFFERENT snapshot means the source
        // directory was rewritten. Missing our key is not enough: the
        // stale entry's InMemoryRelation is registered in Spark's
        // CacheManager under the SAME canonical plan (file indexes
        // compare by root path), so the fresh persist would be a no-op
        // and every new action would execute the OLD corpus' cached
        // blocks. Unpersist the collider FIRST — uncacheQuery
        // deregisters the plan synchronously.
        entries.keySet().toArray(Array.empty[Key])
          .filter(k => k._1 == key._1 && k._2 == key._2 && k._3 != key._3)
          .foreach(release)
        val persisted = build
        entries.put(key, persisted)
        persisted
      }
    }
  }

  /** Unpersist and forget one entry (no-op if absent). */
  private def release(key: Key): Unit = entries.synchronized {
    Option(entries.remove(key)).foreach(_.unpersist(blocking = false))
  }

  /** Release every entry — call between pipeline stages to return
    * executor memory promptly, or before a run that must not replay
    * blocks persisted under another config. Correctness does not depend
    * on it: an overwritten source misses on its snapshot, and the LRU
    * bound unpersists cold entries on its own. */
  def clear(): Unit = entries.synchronized {
    entries.values().forEach(_.unpersist(blocking = false))
    entries.clear()
  }

  /** Order-insensitive 64-bit fingerprint of the plan's input part-file
    * set: Spark writers emit fresh random part names on every write, so
    * it pins the generation (an in-place rewrite of the SAME file name —
    * which no Spark writer does — is the one shape it cannot see; mtime
    * probes per file would cost a listing-sized RPC storm at 100 TB).
    *
    * Read from the ANALYZED plan, not `Dataset.inputFiles`: that walks
    * the optimized plan, where this memo's own InMemoryRelation has
    * replaced the file scan of a plan it persisted, so a rebuild would
    * fingerprint no files at all.
    *
    * A sum (not a sort) keeps this O(files) with no ordering assumption —
    * a 100 TB relation can span 10^5+ part files and the snapshot runs on
    * every compose. Each file contributes a 64-bit MurmurHash3
    * double-hash rather than `String.hashCode` (32-bit, weak avalanche):
    * with the full 64 bits kept in the key, distinct part-file sets
    * colliding — which would silently serve a stale persisted corpus, the
    * exact bug class the key exists to prevent — needs a birthday
    * collision over 2^64, not 2^32. */
  private def snapshot(plan: LogicalPlan): Long = {
    val files = plan.collectWithSubqueries { case lr: LogicalRelation => lr.relation }
      .collect { case r: FileRelation => r.inputFiles }.flatten.distinct
    files.foldLeft(0L) { (snap, f) =>
      val lo = MurmurHash3.stringHash(f)
      val hi = MurmurHash3.stringHash(f, lo)
      snap + ((hi.toLong << 32) | (lo.toLong & 0xffffffffL))
    }
  }
}
