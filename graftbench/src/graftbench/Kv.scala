package graftbench

import graft.core.{KvModel, LocalScorer}

/** Index shape and cascade hit shares, computed from `LocalScorer`'s
  * public maps. The shares describe the generated keys against the
  * fitted index, so a change to how lookups run must leave them exactly
  * as they were. */
object Kv {
  val MaxLevels = 5

  /** 0 for an exact hit, l for a hit on the l-field prefix table, -1 for
    * the global fallback — the order `LocalScorer.scoreKey` tries them. */
  def levelOf(s: LocalScorer, key: String): Int =
    if (s.kv.contains(key)) 0
    else s.prefixes.collectFirst {
      case (l, m) if m.contains(LocalScorer.prefix(key, l)) => l
    }.getOrElse(-1)

  /** kv.* metrics from per-level hit counts (level as in [[levelOf]]). */
  def report(run: Run, s: LocalScorer, hits: Map[Int, Long]): Unit = {
    val n = math.max(1L, hits.values.sum).toDouble
    val prefixEntries = s.prefixes.map(_._2.size.toLong).sum
    run.metric("kv.entries", s.kv.size.toDouble, "count")
    run.metric("kv.prefix_entries", prefixEntries.toDouble, "count")
    run.metric("kv.compiled",
      if (s.kv.size + prefixEntries <= KvModel.MaxCompiledEntries) 1.0 else 0.0, "bool")
    run.metric("kv.hit_exact_ratio", hits.getOrElse(0, 0L) / n, "ratio")
    (1 to MaxLevels).foreach { l =>
      run.metric(s"kv.hit_prefix_L${l}_ratio", hits.getOrElse(l, 0L) / n, "ratio")
    }
    run.metric("kv.hit_global_ratio", hits.getOrElse(-1, 0L) / n, "ratio")
    run.info("kv_hits") = hits.toSeq.sortBy(_._1).map { case (l, c) => l.toString -> c }.toMap
  }
}
