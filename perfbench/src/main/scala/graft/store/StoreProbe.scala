package graft.store

/** Read access to the store's package-private observability: the wall-time
  * split of its most recent compaction (segment rewrite plus one entry per
  * derived-state leg). */
object StoreProbe {
  def lastCompactSecs(hs: HybridStore): Map[String, Double] = hs.lastCompactSecs
}
