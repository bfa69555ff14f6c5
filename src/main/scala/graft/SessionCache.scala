package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for driver-side artifacts: one value per (live
  * session, key), recomputed whenever the caller-supplied `sig` changes.
  * It holds Avro header scans and every registry memo in
  * [[graft.ExtQueries]] — fixtures written under its `FixtureRoot`,
  * trained ANN and BPE artifacts, resolved drift label expressions,
  * persisted fixture datasets — keyed by the fixture's name with the
  * data dir as `sig`.
  *
  * Weak-keyed on the session itself — NOT identityHashCode (a hash
  * collision between a GC'd and a new session could serve stale
  * values) and NOT a string key (which would pin entries for the
  * process lifetime); a dead session's entries are collected with it.
  * Keying the inner map by a STABLE name (a directory path, a fixture
  * id) with the volatile state in `sig` keeps the map bounded at one
  * entry per key — a monitoring session re-reading a growing directory
  * every cycle replaces its entry instead of accumulating one per
  * observed file-list. Computes are per-key atomic: each key owns a
  * holder and the thunk runs under THAT holder's monitor only — never
  * a ConcurrentHashMap bin lock — so concurrent callers of the same
  * (session, key) never run the thunk twice for one sig (a racing
  * duplicate can neither double-persist nor see its value released
  * under it), thunks that launch Spark jobs block only same-key
  * callers, and a thunk may freely re-enter the cache for OTHER keys
  * (a registry fixture builds the fixtures it depends on that way).
  * (Same-key re-entry from the same thread is reentrant and would
  * recompute — a caller bug either way.)
  */
final class SessionCache[V] {
  private final class Holder {
    var sig: String = null
    var has: Boolean = false
    var v: V = null.asInstanceOf[V]
  }
  private val m = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Holder]]())

  /** `onReplace` runs on a superseded value when a changed `sig` evicts
    * it — the release hook for values holding external resources (a
    * persisted Dataset must be unpersisted, or the old cache entry
    * leaks executor memory for the session's lifetime). Not called for
    * entries dropped by session GC: the session's block manager died
    * with it, so there is nothing left to release. */
  def getOrCompute(s: SparkSession, key: String, sig: String = "",
                   onReplace: V => Unit = (_: V) => ())(compute: => V): V = {
    val per = m.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Holder]())
    // the CHM op only allocates the empty holder (cheap, lock-brief);
    // the thunk runs under the holder's own monitor, where a thread
    // that lost the race finds the winner's same-sig value and keeps
    // it — the old get-then-put let a duplicate compute fire onReplace
    // on a value the other thread had just been handed
    val h = per.computeIfAbsent(key, _ => new Holder)
    h.synchronized {
      if (h.has && h.sig == sig) h.v
      else {
        val v = compute
        val old = if (h.has) Some(h.v) else None
        h.sig = sig
        h.v = v
        h.has = true
        old.filter(o => !o.asInstanceOf[AnyRef].eq(v.asInstanceOf[AnyRef]))
          .foreach(onReplace)
        v
      }
    }
  }
}
