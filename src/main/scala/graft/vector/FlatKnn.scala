package graft.vector

import graft.expr.Distances
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distance metric selection (comet `DistanceKind`,
  * `/root/reference/distance.go:17-30`). `ascending` = lower score is
  * better (distances) vs higher-better (similarities). */
sealed abstract class Metric(val ascending: Boolean) {
  def expr(a: Column, b: Column): Column
}
object Metric {
  case object L2 extends Metric(true) {
    def expr(a: Column, b: Column): Column = Distances.l2(a, b)
  }
  case object L2Sq extends Metric(true) {
    def expr(a: Column, b: Column): Column = Distances.l2Sq(a, b)
  }
  /** `1 - dot / (|a||b|)`, clamped [0,2] (distance.go:201-216). */
  case object Cosine extends Metric(true) {
    def expr(a: Column, b: Column): Column = Distances.cosine(a, b)
  }
  /** `1 - dot` assuming unit vectors — comet's actual cosine path after its
    * normalize-at-insert preprocessing (distance.go:70-81). */
  case object CosinePreNorm extends Metric(true) {
    def expr(a: Column, b: Column): Column = Distances.cosinePreNorm(a, b)
  }
  case object DotSim extends Metric(false) {
    def expr(a: Column, b: Column): Column = Distances.dot(a, b)
  }

  /** Unit-normalize a float vector (double accumulation, float result) —
    * the driver-side twin of [[Distances.normalized]], BIT-IDENTICAL to it:
    * per-element double DIVISION by the norm (x*(1/n) rounds differently in
    * the last ulp), matching the column kernel so driver-side re-encodes
    * agree with stored data. Zero vectors return unchanged
    * (distance.go:369-388's zero-passthrough). */
  def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    if (s == 0.0) return v
    val n = math.sqrt(s)
    val out = new Array[Float](v.length)
    i = 0
    while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
    out
  }
}

/** Exact brute-force kNN — comet's Flat index
  * (`/root/reference/flat_index_search.go:221-294`) and the correctness
  * oracle for every ANN variant.
  *
  * Plan shape: `data ⨯ broadcast(queries)` → codegen'd distance →
  * per-query top-k. The scan side never shuffles; for a single query the
  * top-k is `TakeOrderedAndProject` (per-partition heaps + driver merge —
  * exactly comet's heap, but distributed). For q queries the window's
  * shuffle moves only q·k·(partitions) pre-truncated rows because we
  * pre-filter each partition to its local top-k first.
  */
object FlatKnn {

  /** kNN of each query against `data`.
    *
    * @param data      (id, vector)
    * @param queries   (qid, qvec) — must be small (broadcast)
    * @param k         per-query k; k <= 0 returns all (limiter.go:12-17)
    * @param threshold keep results with score <= threshold (distance
    *                  metrics only; flat_index_search.go:268-271)
    * @param candidates optional (id) frame restricting the searchable set —
    *                   comet's DocumentFilter (document_filter.go:27-59) as
    *                   a left-semi join
    * @param sorted     emit (qid, id, score) globally sorted per query,
    *                   best first (the default). Consumers that immediately
    *                   re-aggregate or re-rank (the hybrid pipeline's
    *                   ScoreAgg/fusion stages) pass `false`: the final
    *                   orderBy is a range-partitioning Exchange + global
    *                   Sort whose output ordering the downstream Aggregate
    *                   destroys — Catalyst does NOT eliminate it (the
    *                   sort-under-aggregate rule stops at the ranking
    *                   Window below), measured as one wasted shuffle per
    *                   vector-leg search at every scale (r19 plan audit).
    * @return (qid, id, score), sorted per `sorted`
    */
  def search(data: DataFrame, queries: DataFrame, k: Int,
             metric: Metric = Metric.L2,
             threshold: Option[Double] = None,
             candidates: Option[DataFrame] = None,
             sorted: Boolean = true): DataFrame = {
    require(threshold.isEmpty || metric.ascending,
      "threshold is a distance cutoff; unsupported with a similarity " +
        "(descending) metric — it would be silently ignored")
    val base = candidates match {
      case Some(c) => data.join(c.select(col("id")), Seq("id"), "left_semi")
      case None    => data
    }
    val scored = base
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("id"),
        metric.expr(col("vector"), col("qvec")).as("score"))
    val thresholded = threshold match {
      case Some(t) if metric.ascending => scored.filter(col("score") <= t)
      case _                           => scored
    }
    topKPerQuery(thresholded, k, metric.ascending, sorted)
  }

  /** Incremental DELETE with flush semantics — the reference soft-deletes
    * (Remove marks, Flush purges, flat_index_test.go:188-314); the
    * flushed state is the frame minus those ids. Unknown and
    * already-deleted ids are no-ops (frame semantics — the mask has no
    * per-call identity, a spec-pinned departure from the per-call
    * error). Mirrors [[Pq.delete]]/[[IvfPq.delete]] so every index
    * family exposes the same lifecycle surface. */
  def delete(data: DataFrame, ids: Seq[Long]): DataFrame =
    data.filter(!col("id").isin(ids: _*))

  /** Persist the flat index as a SELF-CONTAINED artifact — the reference's
    * "FLAT" blob (vectors + distanceKind, flat_index.go:366-463). Vectors
    * are stored PREPROCESSED: under cosine they are prenormalized, the
    * reference's normalize-at-insert (flat_index.go:179-184), so a reload
    * never re-pays the normalization; the metric rides in an
    * underscore-prefixed meta entry data readers skip. WriteTo-flushes-
    * first semantics are free here — a DataFrame has no soft-delete set. */
  def write(data: DataFrame, metric: Metric, path: String): Unit = {
    Pq.prepData(data, metric).write.mode("overwrite").parquet(path)
    Pq.writeMeta(data.sparkSession, path,
      s"""{"metric":"${Pq.metricName(metric)}"}""")
  }

  /** Reload a [[write]] artifact: `(vectors, metric)`. Pass both straight
    * to [[search]] — re-normalizing already-unit cosine rows is an exact
    * no-op, so the round trip is search-equivalent on every metric
    * (flat_index_test.go:488-614 SerializationRoundTrip). */
  def read(spark: org.apache.spark.sql.SparkSession,
           path: String): (DataFrame, Metric) = {
    // a missing/unparseable metric is a CORRUPT artifact, not "L2" —
    // the shared loud-fail contract (Pq.requiredMetric)
    val met = Pq.requiredMetric(spark, path)
    (spark.read.parquet(path).select(col("id"), col("vector")), met)
  }

  /** Deterministic per-query top-k: ties broken by id.
    *
    * Scale shape: the `row_number <= k` filter over the per-qid window is
    * recognized by Spark 3.5+/4.x (InferWindowGroupLimit) and executed as
    * a PARTIAL WindowGroupLimit on each input partition BEFORE the
    * exchange — each partition keeps only its local top-k per query, so
    * the window shuffles at most q·k·partitions pre-truncated rows, never
    * the full scored set. Earlier rounds did that pruning manually with a
    * typed `mapPartitions` bounded-heap pass, which forced the whole
    * scored stream through DeserializeToObject/SerializeFromObject (one
    * boxed Tuple3 per scored row) and cut the whole-stage-codegen span in
    * half; the native group-limit does the same pruning inside codegen
    * with zero boxing (r20, guide §4: no object-mode operators in the hot
    * path — the plan is verifiably MapPartitions-free).
    *
    * Undefined distances (e.g. cosine of a zero-norm vector => NULL) are
    * excluded from ranking — comet rejects such vectors at insert
    * (distance.go:252-254); a bare window would rank NULLs first, which
    * was never a meaningful "nearest". */
  def topKPerQuery(scored: DataFrame, k: Int, ascending: Boolean,
                   sorted: Boolean = true): DataFrame = {
    val order =
      if (ascending) Seq(col("score").asc, col("id").asc)
      else Seq(col("score").desc, col("id").asc)
    if (k <= 0) {
      if (sorted) scored.orderBy((col("qid").asc +: order): _*) else scored
    } else {
      val pruned = scored
        .select(col("qid").cast("long"), col("id").cast("long"),
          col("score").cast("double"))
        .na.drop()
      val w = Window.partitionBy(col("qid")).orderBy(order: _*)
      val topk = pruned
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .drop("rn")
      if (sorted) topk.orderBy((col("qid").asc +: order): _*) else topk
    }
  }

  /** Embedded serving for exact search: the (id, vector) pairs collected
    * into the local JVM once, scanned with a parallel stream per query —
    * the reference's own deployment shape (flat_index_search.go runs
    * in-process on one box). No Spark jobs per query; results identical
    * to [[search]] with L2. For indexes that fit one machine only; the
    * DataFrame path is the scale-out route.
    *
    * Vectors are PACKED into one contiguous float array (n×d), not an
    * array of per-row arrays: the scan is memory-bandwidth-bound, and
    * per-row arrays collected into a large heap end up scattered (each
    * scan hop a pointer chase into a different region), which measured
    * 4-6× slower than the contiguous layout. The heap per chunk is a
    * primitive (dist, id) bounded max-heap — no per-row tuple boxing —
    * and sqrt is deferred to the k survivors (monotonic, so ordering and
    * final values are unchanged). */
  /** Embedded scan scoring mode — mirrors the three distributed column
    * kernels exactly (same clamps, same zero-vector treatment), so an
    * embedded index is a drop-in for the DataFrame path at any metric. */
  private[vector] final val ModeL2 = 0      // sqrt(Σ(a-b)²)            — [[Metric.L2]]
  private[vector] final val ModeCosine = 1  // clamp(1-dot(q̂,v̂),0,2)    — [[Metric.Cosine]]
  private[vector] final val ModePreNorm = 2 // clamp(1-dot(q,v),0,2)    — [[Metric.CosinePreNorm]]

  final class LocalFlat private[FlatKnn] (ids: Array[Long],
                                          packed: Array[Float],
                                          dim: Int,
                                          mode: Int = ModeL2) {
    def size: Int = ids.length

    /** Resident bytes of the packed structures (id longs + one contiguous
      * float buffer) — comparable to the reference's published per-index
      * memory (488 MB raw f32 at SIFT-1M, docs/INDEX.md:710-714). */
    def byteSize: Long = ids.length * 8L + packed.length * 4L

    /** Exact top-k, ties by id — one parallel pass with per-chunk
      * bounded primitive heaps, then a merge (comet's result heap).
      * `k <= 0` returns all rows sorted (limiter.go:12-17, same as the
      * distributed path); the query dimension is validated up front (the
      * reference rejects mismatched dims at search,
      * flat_index_search.go:231-233). `filter` is the embedded document
      * pre-filter — skipped rows never hit the distance loop
      * (document_filter.go:27-59 consumed at flat_index_search.go:260-262).
      *
      * L2 serving scores `sqrt(Σ(a-b)²)`; cosine serving ([[serveCosine]])
      * scores `clamp(1 − dot(q̂, v̂), 0, 2)` over the prenormalized rows —
      * comet's normalize-at-insert cosine (distance.go:70-81); prenorm
      * serving ([[servePreNorm]]) scores `clamp(1 − dot(q, v), 0, 2)` RAW,
      * exactly the distributed [[Metric.CosinePreNorm]] column (no
      * normalization, zero-norm rows kept at score 1). All ascend, and all
      * clamp like their distributed twins — unclamped `1-dot` can go
      * -1e-16 under float rounding and perturb ulp-level tie-breaks. */
    def search(q: Array[Float], k0: Int,
               filter: Long => Boolean = null): Seq[(Long, Double)] = {
      if (ids.isEmpty) return Seq.empty
      require(q.length == dim,
        s"query dim ${q.length} != index dim $dim")
      // cosine: normalize the query once (the rows were normalized at
      // collect); a zero-norm query has no defined cosine — the distributed
      // path NULLs and drops every score (FlatKnn.topKPerQuery na.drop).
      // prenorm: the query is used RAW (comet normalized at insert and
      // trusts the caller's query, distance.go:70-81)
      val useDot = mode != ModeL2
      val qd = new Array[Double](dim)
      if (mode == ModeCosine) {
        var n2 = 0.0
        var j = 0
        while (j < dim) { val x = q(j).toDouble; n2 += x * x; j += 1 }
        if (n2 == 0.0) return Seq.empty
        val inv = 1.0 / math.sqrt(n2)
        j = 0
        while (j < dim) { qd(j) = q(j).toDouble * inv; j += 1 }
      } else {
        var j = 0
        while (j < dim) { qd(j) = q(j).toDouble; j += 1 }
      }
      val k = if (k0 <= 0) ids.length else math.min(k0, ids.length)
      val nc = FlatKnn.localChunks
      val chunks = java.util.stream.IntStream
        .range(0, nc).parallel()
        .mapToObj[BoundedTopK] { c =>
          val lo = (ids.length.toLong * c / nc).toInt
          val hi = (ids.length.toLong * (c + 1) / nc).toInt
          val heap = new BoundedTopK(k)
          var i = lo
          while (i < hi) {
            if (filter == null || filter(ids(i))) {
              val base = i * dim
              var s = 0.0
              var j = 0
              if (useDot) {
                while (j < dim) {
                  s += packed(base + j).toDouble * qd(j)
                  j += 1
                }
                // clamp to [0,2] like Distances.cosine/cosinePreNorm
                s = 1.0 - s
                if (s < 0.0) s = 0.0 else if (s > 2.0) s = 2.0
              } else {
                while (j < dim) {
                  val d = packed(base + j).toDouble - qd(j)
                  s += d * d
                  j += 1
                }
              }
              heap.offer(s, ids(i))
            }
            i += 1
          }
          heap
        }
        .reduce(null, (a: BoundedTopK, b: BoundedTopK) =>
          if (a == null) b else if (b == null) a else a.absorb(b))
      if (chunks == null) Seq.empty
      else if (useDot) chunks.sortedEntries.map { case (s, id) => (id, s) }
      else chunks.sortedEntries.map { case (s, id) => (id, math.sqrt(s)) }
    }
  }

  /** Embedded-scan chunk count: one per core (the common-pool width) — a
    * fixed 32 over-partitions small hosts and under-uses bigger ones. */
  private[vector] val localChunks: Int =
    math.max(Runtime.getRuntime.availableProcessors, 1)

  /** Bounded top-k of (score, id), smaller score better, ties to smaller
    * id — a primitive-array binary max-heap (root = worst kept), shared by
    * the embedded scan paths. Zero boxing on the offer path. */
  private[graft] final class BoundedTopK(k: Int) {
    private val hs = new Array[Double](k) // scores
    private val hi = new Array[Long](k)   // ids
    private var n = 0

    /** true iff (a) ranks WORSE than (b) under (score asc, id asc). */
    @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      sa > sb || (sa == sb && ia > ib)

    def offer(s: Double, id: Long): Unit = {
      if (n < k) {
        var c = n; hs(c) = s; hi(c) = id; n += 1
        while (c > 0 && worse(hs(c), hi(c), hs((c - 1) >> 1), hi((c - 1) >> 1))) {
          val p = (c - 1) >> 1
          val ts = hs(c); val ti = hi(c)
          hs(c) = hs(p); hi(c) = hi(p); hs(p) = ts; hi(p) = ti
          c = p
        }
      } else if (k > 0 && worse(hs(0), hi(0), s, id)) {
        hs(0) = s; hi(0) = id
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val r = l + 1
          var w = c
          if (l < n && worse(hs(l), hi(l), hs(w), hi(w))) w = l
          if (r < n && worse(hs(r), hi(r), hs(w), hi(w))) w = r
          if (w == c) done = true
          else {
            val ts = hs(c); val ti = hi(c)
            hs(c) = hs(w); hi(c) = hi(w); hs(w) = ts; hi(w) = ti
            c = w
          }
        }
      }
    }

    /** Merge another heap's entries into this one (chunk combine). */
    def absorb(o: BoundedTopK): BoundedTopK = {
      var i = 0
      while (i < o.n) { offer(o.hs(i), o.hi(i)); i += 1 }
      this
    }

    /** Entries sorted best-first: (score asc, id asc). */
    def sortedEntries: Seq[(Double, Long)] =
      (0 until n).map(i => (hs(i), hi(i)))
        .sortBy { case (s, id) => (s, id) }
  }

  /** Collect a vector frame for embedded serving (one-time cost ∝ data
    * bytes; must fit driver memory — the reference's standing constraint).
    * Partitions pack id-major into contiguous primitive buffers ON THE
    * EXECUTORS ([[Packed.vectors]]), so the driver never holds boxed rows:
    * peak driver memory ≈ 2× raw data bytes instead of ~4×. */
  def serve(data: DataFrame): LocalFlat = {
    val (ids, packed, dim) = Packed.vectors(data)
    new LocalFlat(ids, packed, math.max(dim, 0))
  }

  /** Collect for COSINE embedded serving with normalize-at-insert (comet's
    * cosine path, distance.go:70-81 applied at flat_index.go:182-184): each
    * row is L2-normalized once at collect, search scores `1 − dot(q̂, v̂)`.
    * Zero-norm rows are dropped — comet rejects them at insert
    * (distance.go:252-254), and the distributed [[Metric.Cosine]] NULLs
    * them out of the ranking the same way. */
  def serveCosine(data: DataFrame): LocalFlat = {
    val (ids, packed, dim) = Packed.vectors(data, normalizeOrNull)
    new LocalFlat(ids, packed, math.max(dim, 0), ModeCosine)
  }

  /** Executor-side normalize-at-insert for [[serveCosine]]: unit-scale, or
    * null to DROP zero-norm rows (comet rejects them at insert,
    * distance.go:252-254; the distributed [[Metric.Cosine]] NULLs them out
    * of the ranking the same way). Same double-precision arithmetic as the
    * old driver-side loop — packed buffers stay bit-identical. */
  private val normalizeOrNull: Array[Float] => Array[Float] = { v =>
    var n2 = 0.0
    var j = 0
    while (j < v.length) { val x = v(j).toDouble; n2 += x * x; j += 1 }
    if (n2 == 0.0) null
    else {
      val inv = 1.0 / math.sqrt(n2)
      val out = new Array[Float](v.length)
      j = 0
      while (j < v.length) { out(j) = (v(j).toDouble * inv).toFloat; j += 1 }
      out
    }
  }

  /** Collect for PRE-NORMALIZED cosine embedded serving: rows are taken as
    * given (assumed unit-length, like the distributed
    * [[Metric.CosinePreNorm]] — comet's fast path after its own
    * normalize-at-insert, distance.go:70-81) and scored
    * `clamp(1 − dot(q, v), 0, 2)` with the RAW query. Unlike
    * [[serveCosine]] nothing is re-normalized and zero-norm rows are kept
    * (they score 1.0), so results match the distributed prenorm column
    * bit-for-bit even on non-unit or zero vectors. */
  def servePreNorm(data: DataFrame): LocalFlat = {
    val (ids, packed, dim) = Packed.vectors(data)
    new LocalFlat(ids, packed, math.max(dim, 0), ModePreNorm)
  }

  /** Embedded serving over SHARDED packed buffers: the corpus is cut into
    * contiguous float buffers of ≤ `maxShardFloats` each ([[Packed
    * .vectorsSharded]]), searched shard-by-shard (each shard scan is the
    * same parallel chunked pass as [[LocalFlat.search]]) and merged by
    * (score, id). Results are bit-identical to a single-buffer
    * [[LocalFlat]] over the same frame — this is how an embedded corpus
    * grows past the JVM's 2^31-element array ceiling (~16.7M rows at
    * 128-dim) to heap size, the reference's 100M-vector single-box shape
    * (linear-scalability claim, docs/INDEX.md:712-721). */
  final class LocalFlatShards private[FlatKnn] (shards: Array[LocalFlat]) {
    def size: Long = shards.map(_.size.toLong).sum
    def byteSize: Long = shards.map(_.byteSize).sum
    def shardCount: Int = shards.length

    def search(q: Array[Float], k0: Int,
               filter: Long => Boolean = null): Seq[(Long, Double)] = {
      val all = shards.toSeq.flatMap(_.search(q, k0, filter))
      val sorted = all.sortBy { case (id, s) => (s, id) }
      if (k0 <= 0) sorted else sorted.take(math.min(k0, all.length))
    }
  }

  /** Collect for sharded embedded serving; `metric` takes the same three
    * serving modes as the single-buffer collects (L2 → [[serve]],
    * Cosine → [[serveCosine]]'s normalize-at-insert with zero-norm rows
    * dropped, CosinePreNorm → [[servePreNorm]]'s raw-rows dot). */
  def serveSharded(data: DataFrame, metric: Metric = Metric.L2,
                   maxShardFloats: Long = 1L << 30): LocalFlatShards = {
    val (prep, mode) = metric match {
      case Metric.L2 => (identity[Array[Float]] _, ModeL2)
      case Metric.Cosine => (normalizeOrNull, ModeCosine)
      case Metric.CosinePreNorm => (identity[Array[Float]] _, ModePreNorm)
      case m => throw new IllegalArgumentException(
        s"serveSharded: unsupported serving metric $m")
    }
    val shards = Packed.vectorsSharded(data, prep, maxShardFloats)
      .map { case (ids, packed, dim) => new LocalFlat(ids, packed, dim, mode) }
    new LocalFlatShards(shards.toArray)
  }

  /** Search by stored node ids: look up their vectors and use them as
    * queries (flat_index_search.go:171-196). */
  def searchByNodes(data: DataFrame, nodeIds: Seq[Long], k: Int,
                    metric: Metric = Metric.L2): DataFrame = {
    val queries = data
      .filter(col("id").isin(nodeIds: _*))
      .select(col("id").as("qid"), col("vector").as("qvec"))
    search(data, queries, k, metric)
  }
}
