package graft.vector

import org.apache.spark.sql.functions._

/** Embedded IVF serving: centroid table + cluster-sorted packed lists,
  * with a pluggable STORAGE quantizer (float32 / float16 / int8).
  *
  * Reference: `ivf_index_search.go:217-322` (rank centroids, scan nprobe
  * lists exhaustively) composed with `quantizer.go:17-21` — every
  * reference index takes a storage quantizer that compresses vectors at
  * rest and dequantizes for distance. This is the in-process deployment
  * shape of [[Ivf]]: one collect packs the assigned rows into contiguous
  * per-cluster ranges (ids + payload in cluster order, offsets table), and
  * each query ranks the centroid table on the driver, then runs the same
  * tight scan loops as [[QuantServe]] over only the probed ranges —
  * nprobe/nlist of the corpus, the reference's exact speedup.
  *
  * Score parity is the DISTRIBUTED path's: `serve(index).search(q, k, np)`
  * equals `Ivf.search(index, …, np)` row for row (IvfServeSpec) — L2 via
  * the same left-to-right double fold + sqrt, cosine via the same
  * `1 − dot/(‖v‖‖q‖)` clamp arithmetic as [[graft.expr.Distances.cosine]].
  * Quantized storage scores equal the distributed search over the
  * quantize-dequantize COLUMNS with the same cluster assignment
  * (storage compression never re-routes a row).
  */
object IvfServe {

  /** Storage quantizer for the packed lists (quantizer.go:17-21). */
  sealed trait Storage
  case object F32 extends Storage
  case object F16 extends Storage
  case object I8 extends Storage

  /** Pack an [[Ivf.Index]] for embedded serving. Metrics follow the
    * build side: L2, or Cosine over the index's normalize-at-insert rows.
    * int8 absMax is trained corpus-wide over the STORED vectors (1.0 for
    * cosine — stored rows are unit). */
  def serve(index: Ivf.Index, storage: Storage = F32): LocalIvf = {
    val metric = index.metric
    require(metric == Metric.L2 || metric == Metric.Cosine,
      s"embedded IVF serving supports L2, Cosine; got $metric")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val nlist = index.model.k
    val src = index.assigned
      .select(col("id").cast("long"), col("vector"), col("cluster").cast("int"))
      .as[(Long, Array[Float], Int)]
    val chunks = src.rdd.mapPartitions { it =>
      var dim = -1
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      val vecs = new scala.collection.mutable.ArrayBuilder.ofFloat
      val cls = new scala.collection.mutable.ArrayBuilder.ofInt
      while (it.hasNext) {
        val (id, v, c) = it.next()
        if (dim < 0) dim = v.length
        ids += id
        vecs ++= v
        cls += c
      }
      val ia = ids.result()
      if (ia.isEmpty) Iterator.empty
      else Iterator.single((dim, ia, vecs.result(), cls.result()))
    }.collect()

    var n = 0L
    var dim = 0
    chunks.foreach { case (d, ia, _, _) => dim = d; n += ia.length }
    require(n * math.max(dim, 1) <= Int.MaxValue,
      s"embedded IVF serve(): $n x $dim exceeds one contiguous buffer; " +
        "use the distributed Ivf.search at this scale")
    // counted allocation into ONE cluster-ordered layout (the IvfPq.serve
    // convention: within a cluster, rows keep partition arrival order)
    val counts = new Array[Int](nlist)
    chunks.foreach { case (_, _, _, cs) => cs.foreach(counts(_) += 1) }
    val starts = new Array[Int](nlist + 1)
    var c = 0
    while (c < nlist) { starts(c + 1) = starts(c) + counts(c); c += 1 }
    val idsP = new Array[Long](n.toInt)
    val vecP = new Array[Float](n.toInt * dim)
    val fill = new Array[Int](nlist)
    chunks.foreach { case (_, ia, va, cs) =>
      var i = 0
      while (i < ia.length) {
        val cl = cs(i)
        val p = starts(cl) + fill(cl)
        idsP(p) = ia(i)
        System.arraycopy(va, i * dim, vecP, p * dim, dim)
        fill(cl) = p + 1 - starts(cl)
        i += 1
      }
    }
    new LocalIvf(index.model.centroids, starts, idsP,
      packPayload(vecP, storage, metric), dim,
      metric == Metric.Cosine)
  }

  /** Quantize the cluster-ordered f32 layout per the storage mode. */
  private def packPayload(vecP: Array[Float], storage: Storage,
                          metric: Metric): Payload = storage match {
    case F32 => new PayloadF32(vecP)
    case F16 =>
      val shorts = new Array[Short](vecP.length)
      var i = 0
      while (i < vecP.length) {
        shorts(i) = graft.expr.Quantizers.toHalfBits(vecP(i)); i += 1
      }
      new PayloadF16(shorts)
    case I8 =>
      var absMax = 0.0
      if (metric == Metric.Cosine) absMax = 1.0
      else {
        var i = 0
        while (i < vecP.length) {
          val a = math.abs(vecP(i).toDouble)
          if (a > absMax) absMax = a
          i += 1
        }
      }
      require(absMax > 0.0, s"int8 absMax must be positive; got $absMax")
      val bytes = new Array[Byte](vecP.length)
      var i = 0
      while (i < vecP.length) {
        var code = QuantServe.roundHalfAway(vecP(i) / absMax * 127.0)
        if (code > 127.0) code = 127.0 else if (code < -127.0) code = -127.0
        bytes(i) = code.toByte
        i += 1
      }
      new PayloadI8(bytes, absMax)
  }

  /** Packed vector storage. Scoring goes through per-ROW closures built by
    * each concrete class — one indirect call per row, with the per-element
    * loop a tight monomorphic walk over the class's own array (the
    * QuantServe lesson: a per-element virtual load costs ~2× the scan).
    *
    * `l2Scorer(dim)(qd, i)` returns `sqrt(Σ(v−q)²)`; `dotVvScorer(dim)
    * (qd, i)` returns `(dot(v,q), dot(v,v))` packed as the cosine
    * numerator/denominator inputs via a reusable 2-slot out array. */
  private[vector] sealed trait Payload {
    def byteSize: Long
    def l2Scorer(dim: Int): (Array[Double], Int) => Double
    /** (qd, i, out2) => writes dot(v,q) to out2(0), dot(v,v) to out2(1). */
    def dotVvScorer(dim: Int): (Array[Double], Int, Array[Double]) => Unit
  }
  private final class PayloadF32(a: Array[Float]) extends Payload {
    def byteSize: Long = a.length * 4L
    def l2Scorer(dim: Int): (Array[Double], Int) => Double = (qd, i) => {
      val base = i * dim
      var s = 0.0
      var j = 0
      while (j < dim) { val d = a(base + j) - qd(j); s += d * d; j += 1 }
      math.sqrt(s)
    }
    def dotVvScorer(dim: Int): (Array[Double], Int, Array[Double]) => Unit =
      (qd, i, out) => {
        val base = i * dim
        var dot = 0.0
        var vv = 0.0
        var j = 0
        while (j < dim) {
          val x = a(base + j).toDouble
          dot += x * qd(j)
          vv += x * x
          j += 1
        }
        out(0) = dot; out(1) = vv
      }
  }
  private final class PayloadF16(a: Array[Short]) extends Payload {
    private val lut = QuantServe.f16Lut
    def byteSize: Long = a.length * 2L
    def l2Scorer(dim: Int): (Array[Double], Int) => Double = (qd, i) => {
      val l = lut
      val base = i * dim
      var s = 0.0
      var j = 0
      while (j < dim) {
        val d = l(a(base + j) & 0xffff) - qd(j)
        s += d * d
        j += 1
      }
      math.sqrt(s)
    }
    def dotVvScorer(dim: Int): (Array[Double], Int, Array[Double]) => Unit =
      (qd, i, out) => {
        val l = lut
        val base = i * dim
        var dot = 0.0
        var vv = 0.0
        var j = 0
        while (j < dim) {
          val x = l(a(base + j) & 0xffff).toDouble
          dot += x * qd(j)
          vv += x * x
          j += 1
        }
        out(0) = dot; out(1) = vv
      }
  }
  private final class PayloadI8(a: Array[Byte], val absMax: Double)
      extends Payload {
    private val lut: Array[Float] =
      Array.tabulate(255)(i => ((i - 127) / 127.0 * absMax).toFloat)
    def byteSize: Long = a.length.toLong
    def l2Scorer(dim: Int): (Array[Double], Int) => Double = (qd, i) => {
      val l = lut
      val base = i * dim
      var s = 0.0
      var j = 0
      while (j < dim) {
        val d = l(a(base + j) + 127) - qd(j)
        s += d * d
        j += 1
      }
      math.sqrt(s)
    }
    def dotVvScorer(dim: Int): (Array[Double], Int, Array[Double]) => Unit =
      (qd, i, out) => {
        val l = lut
        val base = i * dim
        var dot = 0.0
        var vv = 0.0
        var j = 0
        while (j < dim) {
          val x = l(a(base + j) + 127).toDouble
          dot += x * qd(j)
          vv += x * x
          j += 1
        }
        out(0) = dot; out(1) = vv
      }
  }

  /** Vector coordinates per scan piece of a probe (see [[LocalIvf.search]]):
    * 4,096 rows at 64 dims. A piece's scan cost grows with its coordinates
    * while a fork/join hand-off costs about the same at any size, so the
    * cut is in coordinates, not rows. Measured on 4 vCPUs at 64 dims: in a
    * loop of back-to-back probes, pieces of 1,024 rows gave the lowest
    * single-client p50 from 2,000 probed rows up, but in the serving
    * benchmark, where 12% of probes hold 1,025–2,048 rows, fanning those
    * out cost about 30% of four-client throughput (a 5-pair A/B on a
    * shared host); with pieces of 4,096
    * rows every probe there runs on the calling thread, and probes of
    * 8,000 rows and more keep the parallel speed-up. */
  private[vector] val PieceCoords = 1 << 18

  /** The packed embedded IVF structure. Search contract mirrors the
    * distributed [[Ivf.search]]: rank ALL centroids by raw-L2² against
    * the query, scan the top-nprobe cluster ranges, score with the
    * call-side metric arithmetic, keep top-k ties-by-id. */
  final class LocalIvf private[vector] (centroids: Array[Array[Float]],
                                        starts: Array[Int],
                                        ids: Array[Long],
                                        payload: Payload,
                                        dim: Int,
                                        cosine: Boolean) {
    def size: Int = ids.length
    def nlist: Int = starts.length - 1
    def byteSize: Long = ids.length * 8L + payload.byteSize +
      centroids.length.toLong * dim * 4L + starts.length * 4L

    /** int8 training scale (NaN for other storages). */
    def absMax: Double = payload match {
      case p: PayloadI8 => p.absMax
      case _            => Double.NaN
    }

    /** Top-k (id, score) over the `nprobe` lists nearest `q`, score asc
      * then id asc. The probed rows are cut into pieces of at most
      * [[PieceCoords]] coordinates, across list boundaries: a probe that
      * fits in one piece is scanned on the calling thread (no fork/join
      * hand-off for the common small probe); a larger one scans its pieces
      * in parallel with per-piece heaps, and the merge by (score, id) makes
      * thread order irrelevant. */
    def search(q: Array[Float], k0: Int, nprobe: Int,
               filter: Long => Boolean = null,
               threshold: Option[Double] = None): Seq[(Long, Double)] = {
      if (ids.isEmpty) return Seq.empty
      require(q.length == dim, s"query dim ${q.length} != index dim $dim")
      val np = math.max(1, math.min(nprobe, nlist))
      val order = Kmeans.ranked(q, centroids, np)
      val qd = new Array[Double](dim)
      var j = 0
      while (j < dim) { qd(j) = q(j).toDouble; j += 1 }
      // ‖q‖ for the cosine denominator — the distributed expr computes
      // sqrt(dot(q,q)) with the same left-to-right fold
      val qq = if (!cosine) 0.0 else {
        var ss = 0.0
        j = 0
        while (j < dim) { ss += qd(j) * qd(j); j += 1 }
        math.sqrt(ss)
      }
      // probed rows are numbered 0 until probedRows, list by list in
      // probe order; a piece is a range of those numbers
      var probedRows = 0
      var p = 0
      while (p < np) { probedRows += starts(order(p) + 1) - starts(order(p)); p += 1 }
      val k = if (k0 <= 0) probedRows else math.min(k0, probedRows)
      if (k == 0) return Seq.empty
      val thr = threshold.getOrElse(Double.NaN)
      val l2 = if (cosine) null else payload.l2Scorer(dim)
      val dotVv = if (cosine) payload.dotVvScorer(dim) else null
      def scan(from: Int, until: Int): FlatKnn.BoundedTopK = {
        val heap = new FlatKnn.BoundedTopK(k)
        val out = if (cosine) new Array[Double](2) else null
        var base = 0 // probed-row number of list order(p)'s first row
        var p = 0
        while (p < np && base < until) {
          val lo = starts(order(p))
          val len = starts(order(p) + 1) - lo
          var i = lo + math.max(from - base, 0)
          val end = lo + math.min(until - base, len)
          while (i < end) {
            if (filter == null || filter(ids(i))) {
              var s = 0.0
              if (cosine) {
                // mirror Distances.cosine: 1 − dot/(‖v‖‖q‖), clamp [0,2]
                dotVv(qd, i, out)
                val sim = out(0) / (math.sqrt(out(1)) * qq)
                s = 1.0 - sim
                // Spark's least(greatest(x, 0), 2) treats NaN as the
                // GREATEST value: greatest passes it, least caps it at 2
                if (s.isNaN) s = 2.0
                else if (s < 0.0) s = 0.0 else if (s > 2.0) s = 2.0
              } else {
                s = l2(qd, i)
              }
              if (thr.isNaN || s <= thr) heap.offer(s, ids(i))
            }
            i += 1
          }
          base += len
          p += 1
        }
        heap
      }
      val pieceRows = math.max(1, PieceCoords / dim)
      val nPieces = (probedRows + pieceRows - 1) / pieceRows
      val merged =
        if (nPieces == 1) scan(0, probedRows)
        else java.util.stream.IntStream.range(0, nPieces)
          .parallel()
          .mapToObj[FlatKnn.BoundedTopK](pc =>
            scan(pc * pieceRows, math.min((pc + 1) * pieceRows, probedRows)))
          .reduce(null, (a: FlatKnn.BoundedTopK, b: FlatKnn.BoundedTopK) =>
            if (a == null) b else if (b == null) a else a.absorb(b))
      if (merged == null) Seq.empty
      else merged.sortedEntries.map { case (s, id) => (id, s) }
    }
  }
}
