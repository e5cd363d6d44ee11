package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means with the reference's deterministic
  * uniform-spaced initialization (`/root/reference/clustering.go:147-162`:
  * every (n/k)-th vector in id order) and its update rule (empty clusters
  * keep their previous centroid, `clustering.go:236-243`).
  *
  * Why not MLlib KMeans: MLlib's kmeans‖ init is randomized — the reference
  * is deterministic, and IVF/PQ reproducibility (and test stability) depend
  * on it. The Lloyd's loop itself is the standard scalable shape: broadcast
  * centroids, one `treeAggregate` pass per iteration (map-side partial sums,
  * no shuffle of the data), k×dim doubles back to the driver. At 100 TB you
  * train on a sample anyway (like the reference's train-set APIs); the loop
  * is O(n·k·d) per pass with nothing materialized.
  */
object Kmeans {

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length

    def nearest(v: Array[Float]): Int = Kmeans.nearest(v, centroids)

    /** The `n` centroid indices nearest `v`, nearest first (IVF probe
      * order, ivf_index_search.go:252-261); ties keep the lower index. */
    def ranked(v: Array[Float], n: Int = k): Array[Int] =
      Kmeans.ranked(v, centroids, n)
  }

  /** The `n` indices of `cs` nearest `v` by raw L2², nearest first: each
    * distance is computed once, then the indices sort by (distance, index)
    * — the order a stable sort on distance gives. O(|cs| log |cs|) for
    * every `n`. */
  private[vector] def ranked(v: Array[Float], cs: Array[Array[Float]],
                             n: Int): Array[Int] = {
    val dist = Array.tabulate(cs.length)(c => l2sq(v, cs(c)))
    val byDist: Ordering[Int] = (a, b) => {
      val c = java.lang.Double.compare(dist(a), dist(b))
      if (c != 0) c else Integer.compare(a, b)
    }
    Array.range(0, cs.length).sorted(byDist).take(math.max(0, n))
  }

  private[vector] def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  private[vector] def nearest(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = l2sq(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private[vector] def l2sqSlice(v: Array[Float], off: Int,
                                cent: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < cent.length) {
      val d = v(off + i).toDouble - cent(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  private[vector] def nearestSlice(v: Array[Float], off: Int,
                                   cs: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = l2sqSlice(v, off, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train `m` independent subspace codebooks (PQ training,
    * pq_index.go:193-247) in ONE data pass per Lloyd's iteration instead
    * of `m` separate jobs: each `treeAggregate` accumulates the
    * sums/counts of every subspace at once, so a full PQ training costs
    * the same number of scans as a single k-means run. Semantics per
    * subspace are identical to [[train]] on the sliced column (same
    * uniform-spaced init rows, same empty-cluster rule).
    *
    * Returns `m × ksub' × dsub` codebooks (ksub' = min(ksub, n)). */
  def trainSubspaces(data: DataFrame, m: Int, dsub: Int, ksub: Int,
                     maxIter: Int = 20): Array[Array[Array[Float]]] = {
    // k <= 0 is a caller bug, not a degenerate input — the reference
    // returns nil centroids for it (clustering_test.go:73-102); we fail
    // fast, per the engine's degenerate-input policy
    require(m > 0 && dsub > 0 && ksub > 0,
      s"kmeans subspaces: m=$m dsub=$dsub ksub=$ksub must all be positive")
    val rdd = data.select(col("id").cast("long"), col("vector"))
      .orderBy("id")
      .rdd.map(r => r.getSeq[Float](1).toArray)
      .persist()
    val n = rdd.count()
    require(n > 0, "kmeans: empty training set")
    val kk = math.min(ksub, n.toInt)

    val step = math.max(n / kk, 1L)
    val wanted = (0 until kk)
      .map(c => math.min(c * step, n - 1)).toSet
    val initRows = rdd.zipWithIndex()
      .filter { case (_, i) => wanted.contains(i) }
      .collect().sortBy(_._2).map(_._1)
    var centroids: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      initRows.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
    }

    val sc = data.sparkSession.sparkContext
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val bc = sc.broadcast(centroids)
      val (sums, counts) = rdd.treeAggregate(
        (Array.fill(m, kk, dsub)(0.0), Array.fill(m, kk)(0L)))(
        seqOp = { case ((s, cnt), v) =>
          var sub = 0
          while (sub < m) {
            val c = nearestSlice(v, sub * dsub, bc.value(sub))
            var i = 0
            while (i < dsub) { s(sub)(c)(i) += v(sub * dsub + i); i += 1 }
            cnt(sub)(c) += 1
            sub += 1
          }
          (s, cnt)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var sub = 0
          while (sub < m) {
            var c = 0
            while (c < kk) {
              var i = 0
              while (i < dsub) { s1(sub)(c)(i) += s2(sub)(c)(i); i += 1 }
              c1(sub)(c) += c2(sub)(c)
              c += 1
            }
            sub += 1
          }
          (s1, c1)
        })
      bc.destroy()
      val next = Array.tabulate(m) { sub =>
        Array.tabulate(kk) { c =>
          if (counts(sub)(c) > 0)
            Array.tabulate(dsub)(i => (sums(sub)(c)(i) / counts(sub)(c)).toFloat)
          else centroids(sub)(c)
        }
      }
      moved = (0 until m).exists(sub => next(sub).indices.exists(c =>
        !java.util.Arrays.equals(next(sub)(c), centroids(sub)(c))))
      centroids = next
      iter += 1
    }
    rdd.unpersist()
    centroids
  }

  /** Train on `(id, vector)`; rows are ordered by id for the deterministic
    * init. `k` is clamped to n (clustering.go:133-135). */
  def train(data: DataFrame, k: Int, maxIter: Int = 20): Model = {
    // the reference returns nil for k <= 0 (clustering_test.go:73-102);
    // we fail fast rather than dividing by a zero step below
    require(k > 0, s"kmeans: k=$k must be positive")
    val rdd = data.select(col("id").cast("long"), col("vector"))
      .orderBy("id")
      .rdd.map(r => r.getSeq[Float](1).toArray)
      .persist()
    val n = rdd.count()
    require(n > 0, "kmeans: empty training set")
    val kk = math.min(k, n.toInt)
    val dim = rdd.first().length

    // uniform-spaced init (clustering.go:147-162)
    val step = math.max(n / kk, 1L)
    val wanted = (0 until kk)
      .map(c => math.min(c * step, n - 1)).toSet
    var centroids: Array[Array[Float]] = rdd.zipWithIndex()
      .filter { case (_, i) => wanted.contains(i) }
      .collect().sortBy(_._2).map(_._1)

    val sc = data.sparkSession.sparkContext
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val bc = sc.broadcast(centroids)
      val (sums, counts) = rdd.treeAggregate(
        (Array.fill(kk, dim)(0.0), Array.fill(kk)(0L)))(
        seqOp = { case ((s, cnt), v) =>
          val c = nearest(v, bc.value)
          var i = 0
          while (i < dim) { s(c)(i) += v(i); i += 1 }
          cnt(c) += 1
          (s, cnt)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var c = 0
          while (c < kk) {
            var i = 0
            while (i < dim) { s1(c)(i) += s2(c)(i); i += 1 }
            c1(c) += c2(c)
            c += 1
          }
          (s1, c1)
        })
      bc.destroy()
      val next = Array.tabulate(kk) { c =>
        if (counts(c) > 0)
          Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
        else centroids(c) // empty cluster keeps old centroid
      }
      moved = next.indices.exists(c => !java.util.Arrays.equals(next(c), centroids(c)))
      centroids = next
      iter += 1
    }
    rdd.unpersist()
    Model(centroids)
  }
}
