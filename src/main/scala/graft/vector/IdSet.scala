package graft.vector

/** A document-id candidate set: sorted, distinct ids in one primitive
  * array with binary-search membership.
  *
  * It is a plain `Long => Boolean`, so every vector leg and the BM25 leg
  * take it as their result predicate unchanged. The HNSW leg also reads
  * its ids: a shard holding fewer live members than the beam width scores
  * exactly those nodes instead of running the beam (see
  * [[Hnsw.LocalGraph.searchHeap]]). Build one with [[IdSet.apply]]. */
final class IdSet private (private[graft] val ids: Array[Long])
    extends (Long => Boolean) with Serializable {
  def size: Int = ids.length
  def isEmpty: Boolean = ids.isEmpty
  def apply(id: Long): Boolean = java.util.Arrays.binarySearch(ids, id) >= 0
}

object IdSet {
  /** The set of `ids`, in any order and with repeats; the array is copied. */
  def apply(ids: Array[Long]): IdSet = {
    val a = ids.clone()
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    new IdSet(if (n == a.length) a else java.util.Arrays.copyOf(a, n))
  }
}
