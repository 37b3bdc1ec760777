package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one memo for derived per-corpus state: fits, cached frames,
  * staged layouts, once-per-corpus guards. Entries are keyed by
  * (session, corpus dir, name), so a query registry pays a derivation
  * once per corpus and every later invocation in the same session
  * (bench best-of, verify reruns, sibling queries) is served from it.
  *
  * Eviction: a session works one corpus at a time (verify, bench, the
  * scale sweeps), so the first request for a new corpus in session `s`
  * evicts every entry `s` holds for OTHER corpora, under every name,
  * and releases it (see [[release]]). A cache therefore never outlives
  * its corpus, and other sessions' entries are never touched.
  *
  * Concurrency contract: evict-then-getOrElseUpdate is NOT atomic. If
  * two corpora are queried concurrently in ONE session, thread B's
  * corpus switch can evict and unpersist the entry thread A just built
  * or is consuming. Correctness survives — an unpersisted Dataset
  * recomputes, an evicted entry rebuilds — but the memo thrashes and
  * cached data vanishes mid-action. Every harness in this repo is
  * sequential per session; a concurrent multi-corpus caller must use
  * one session per corpus (e.g. `SparkSession.newSession()`) instead
  * of relying on this memo.
  */
object SessionMemo {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Any]

  /** The value memoized under `name` for corpus `d` in session `s`,
    * built by `build` on a miss. Names are global across registries,
    * so callers prefix them with their registry. */
  def get[V](s: SparkSession, d: String, name: String)(build: => V): V = {
    entries.keysIterator
      .filter { case (ks, kd, _) => (ks eq s) && kd != d }
      .foreach(k => entries.remove(k).foreach(release))
    entries.getOrElseUpdate((s, d, name), build).asInstanceOf[V]
  }

  /** Release an evicted value by type: a Dataset is unpersisted, and so
    * is a Dataset field one level down in a tuple or case class; no
    * deeper walk. Anything else (arrays, models, paths) just loses its
    * strong reference. A localCheckpointed frame's unpersist is a
    * no-op: its blocks free via the ContextCleaner once unreachable. */
  private def release(v: Any): Unit = v match {
    case p: Product => p.productIterator.foreach(unpersist)
    case other => unpersist(other)
  }

  private def unpersist(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist(blocking = false)
    case _ => ()
  }
}
