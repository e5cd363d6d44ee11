package graft.vector

/** Regression gate for the round-7 HNSW fix (paper Alg-4 diversity
  * heuristic + keepPrunedConnections, Hnsw.selectDiverse): on the
  * ADVERSARIAL geometry — isotropic noise with tight planted
  * near-neighbor clusters around each query — the nearest-M heuristic
  * (the reference's, hnsw_index.go:637-656) wires every planted point
  * only to its own cluster, the beam can enter but never leave, and
  * recall FREEZES regardless of efSearch (measured 83.4% at 1M in round
  * 6). This spec runs that geometry at 4k x 32-dim: it must hold
  * recall@100 >= 0.95
  * at ef=80 AND show ef actually buying recall (monotone
  * non-decreasing) — a revert to keep-nearest selection fails it. */
class HnswRecallSpec extends graft.SparkSpec {

  private val n = 4000
  private val d = 32
  private val blockSize = 500 // 8 blocks; 64 planted near-dups per block
  private val k = 100

  /** The adversarial generator: planted rows of
    * a block share one isotropic anchor (amplitude 100) plus tiny
    * per-row noise (0.5); the rest are pure isotropic noise. */
  private def vec(id: Long): Array[Float] = {
    val planted = id % blockSize < 64
    val block = id / blockSize
    Array.tabulate(d) { j =>
      val v =
        if (planted)
          math.sin((block * blockSize + 7) * 7919.0 + j * 104729.0) * 100 +
            math.sin(id * 13.0 + j * 29.0) * 0.5
        else math.sin(id * 7919.0 + j * 104729.0) * 100
      v.toFloat
    }
  }

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < d) { val t = a(j) - b(j); s += t * t; j += 1 }
    s
  }

  test("hard geometry: recall@100 >= 0.95 at ef=80 and monotone non-decreasing in ef") {
    val vecs = Array.tabulate(n)(i => vec(i.toLong))
    val g = new Hnsw.LocalGraph() // production defaults m=16, efC=200
    var i = 0
    while (i < n) { g.add(i.toLong, vecs(i)); i += 1 }

    // queries are the planted id ≡ 7 rows of each block
    val queries = (0 until n by blockSize).map(b => (b + 7).toLong)
    def truth(q: Long): Set[Long] = {
      val qv = vecs(q.toInt)
      (0 until n).map(id => (l2(qv, vecs(id)), id.toLong))
        .sorted.take(k).map(_._2).toSet
    }
    val truths = queries.map(q => q -> truth(q)).toMap

    val efs = Seq(20, 40, 80, 160, 320)
    val recalls = efs.map { ef =>
      val r = queries.map { q =>
        val got = g.search(vecs(q.toInt), k, efSearch = ef).map(_._1).toSet
        (got intersect truths(q)).size.toDouble / k
      }.sum / queries.size
      ef -> r
    }
    val byEf = recalls.toMap
    assert(byEf(80) >= 0.95,
      s"hard-geometry recall@100 at ef=80 = ${byEf(80)} < 0.95 — " +
        "the Alg-4 diversity heuristic regressed (round-6 plateau)")
    recalls.sliding(2).foreach { case Seq((e1, r1), (e2, r2)) =>
      assert(r2 >= r1 - 0.005,
        s"recall NOT monotone in ef: ef=$e1 -> $r1 but ef=$e2 -> $r2")
    }
    assert(byEf(320) > byEf(20) - 1e-9,
      s"ef buys nothing: ef=20 ${byEf(20)} vs ef=320 ${byEf(320)}")
  }
}
