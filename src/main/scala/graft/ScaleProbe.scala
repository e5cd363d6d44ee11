package graft

import graft.vector.{FlatKnn, Hnsw, Ivf, IvfPq, IvfServe, Kmeans, Metric, Pq, Recall}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-shot scale measurement at the reference's SIFT-1M shape (1M ×
  * 128-dim in-memory vectors, k=100 — BASELINE.md): every index type's
  * batch search latency + recall@100 vs exact flat, plus the filtered
  * variants that validate the round-3 claim that a document pre-filter
  * KEEPS index speed (comet pushes its filter into every index,
  * ivf_index_search.go:287-290) instead of degrading to a flat scan.
  * Not part of the bench contract — run manually:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe"          # ~2 min
  *   SPARK_GRAFT_HNSW=1 SPARK_GRAFT_CPUS=32 sbt ...             # + ~90 s build
  *
  * Shape knobs, for the OTHER baseline rows (BASELINE.md):
  *   SPARK_GRAFT_DIM=768   — the reference's 1M × 768-dim variant
  *                           (docs/INDEX.md:609-617); needs
  *                           SPARK_DRIVER_MEM=24g for the embedded collect
  *   SPARK_GRAFT_N=10000000 SPARK_GRAFT_FLAT_ONLY=1
  *                         — the linear-scalability claim (flat 45 ms @1M
  *                           → 4.5 s @100M, docs/INDEX.md:712-721): run
  *                           flat batch + embedded at 10M and check the
  *                           slope; quantizer/graph builds are skipped
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // embedded serving legitimately collects index-sized data (the
      // reference's standing single-box constraint) — at 1M × 768-dim the
      // packed vectors serialize past the 1 GiB default maxResultSize
      .config("spark.driver.maxResultSize", "0")
      // driver heap comes from the launching JVM (sbt fork javaOptions) —
      // spark.driver.memory is a no-op in local mode; the 1M×128 float
      // cache needs ~1 GB of it
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Input-records metering (r17 verdict ask #7): the structural
    // replacement for wall-clock batch-proportionality gates on a host
    // with 11% steal bursts. Sums `inputMetrics.recordsRead` over every
    // task that ends while `f` runs — a batch-proportional fold reads
    // ~the batch (+ piece bookkeeping), a rebuild-per-mutation design
    // reads the corpus, a 100-1000× separation no host noise can blur.
    // Listener events are ASYNC: after `f` returns, poll until the
    // counter stabilizes (undercounting is the dangerous direction —
    // it would pass a rebuild).
    // returns (result, records read, records written) across every task
    // that ended while `f` ran
    def ioRowsDuring[T](f: => T): (T, Long, Long) = {
      val rd = new java.util.concurrent.atomic.AtomicLong
      val wr = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) {
            rd.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
            wr.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
            ()
          }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = f
        var last = -1L
        val deadline = System.currentTimeMillis() + 10000
        while (rd.get + wr.get != last &&
               System.currentTimeMillis() < deadline) {
          last = rd.get + wr.get
          Thread.sleep(300)
        }
        (r, rd.get, wr.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }

    val d = sys.env.getOrElse("SPARK_GRAFT_DIM", "128").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "1000000").toLong
    val flatOnly = sys.env.contains("SPARK_GRAFT_FLAT_ONLY")
    if (d != 128 || n != 1000000L)
      println(s"[probe] shape: n=$n d=$d" + (if (flatOnly) " (flat only)" else ""))
    // deterministic CLUSTERED vectors (1024 anchors + 5% noise) — SIFT-like
    // structure: quantizers and inverted lists get real cluster geometry to
    // exploit, and recall@100 measures something (a pure sin-manifold
    // generator concentrates distances and floors PQ recall at ~3% no
    // matter the implementation)
    //
    // SPARK_GRAFT_GEOM=hard switches to ISOTROPIC vectors with ~64 planted
    // near-neighbors around each query — the adversarial geometry for graph
    // search: no cluster structure to ride, the planted set must be found
    // inside uniform noise, and the non-planted tail of top-100 is genuinely
    // hard. Recall here cannot saturate the way the clustered generator does,
    // so an ef sweep measures a real latency/recall trade-off.
    // SPARK_GRAFT_GEOM=subspace draws each vector from a PRODUCT of
    // per-subspace anchor vocabularies (8 subspaces × 64 anchors + small
    // noise) — the geometry PQ's independence assumption is exactly right
    // for: every subspace's marginal is 64 tight clusters a ksub=256
    // codebook captures with negligible quantization error, and the true
    // top-100 ranking is decided by WHICH anchors two rows share — a
    // quantity ADC reconstructs faithfully. On this generator PQ recall is
    // HIGH by construction, so the probe can finally REGRESSION-TEST the
    // ADC/codebook path (the clustered/hard generators concentrate
    // distances and floor ADC recall at single digits no matter the
    // implementation — measured and documented in round 6).
    // SPARK_GRAFT_GEOM=rotated draws ANISOTROPIC latents (16 strong
    // directions + d-16 weak) mixed through a fixed dense orthogonal
    // rotation — every raw coordinate blends all latents, so the
    // axis-aligned subspace split sees near-isotropic marginals: the
    // correlation structure real embeddings have and the geometry OPQ
    // (Ge et al., CVPR 2013) exists to fix. The probe prints plain-PQ
    // and OPQ recall side by side on it.
    val geom = sys.env.getOrElse("SPARK_GRAFT_GEOM", "clustered")
    val hard = geom == "hard"
    val subspace = geom == "subspace"
    val rotated = geom == "rotated"
    if (rotated) println("[probe] geometry: ROTATED (anisotropic latents under a dense orthogonal mix — OPQ's target)")
    if (hard) println("[probe] geometry: HARD (isotropic + planted near-neighbors)")
    if (subspace) println("[probe] geometry: SUBSPACE (product of 8 x 64 per-subspace anchors — PQ-faithful)")
    val vecExpr =
      if (hard)
        s"transform(sequence(0, ${d - 1}), j -> cast(CASE " +
          "WHEN id % 31250 < 64 THEN " +
          "  sin(((id div 31250) * 31250 + 7) * 7919 + j * 104729) * 100 " +
          "  + sin(id * 13 + j * 29) * 0.5 " +
          "ELSE sin(id * 7919 + j * 104729) * 100 END as float))"
      else if (subspace) {
        val dsub = d / 8 // PQ probe config is m=8; anchor pick is per-subspace
        // anchor pick must be INDEPENDENT across subspaces — a linear
        // congruence mod 64 is a bijection of (id mod 64), which collapses
        // the product into 64 global clusters ranked purely by noise;
        // murmur3 of (id, subspace) decorrelates the choices
        s"transform(sequence(0, ${d - 1}), j -> cast(" +
          s"sin(pmod(hash(id, j div $dsub), 64) * 131 " +
          s"    + (j % $dsub) * 7 + (j div $dsub) * 997) * 100 " +
          "  + sin(id * 13 + j * 29) * 1.5 as float))"
      } else if (rotated)
        // latent space: 16 strong directions (~60x) + weak tail; block
        // structure (id % 4096) gives every query real near-neighbors
        s"transform(sequence(0, ${d - 1}), j -> cast(" +
          "(CASE WHEN j < 16 THEN 60.0 ELSE 1.5 END) * " +
          "(sin((id % 4096) * (j * 2 + 3) * 0.7391 + j * 1.7) " +
          " + 0.1 * sin(id * 7919 + j * 104729)) as float))"
      else
        s"transform(sequence(0, ${d - 1}), " +
          "j -> cast(sin((id % 1024) * 131 + j) * 100 " +
          "   + sin(id * 7919 + j * 17) * 5 as float))"
    val vecsBase = spark.range(n).select(col("id"),
      expr(vecExpr).as("vector"))
    val vecs = (if (rotated) {
      // deterministic dense orthogonal mix: Gram-Schmidt over a
      // FULL-RANK sin basis (per-row frequency — a fixed frequency
      // collapses every row into the span of two harmonics and GS
      // normalizes cancellation noise), applied by the codegen kernel
      val a = Array.tabulate(d, d)((i, j) =>
        math.sin(i * 7.3 + j * (3.1 + 0.37 * i) + 1.0))
      val q = Array.ofDim[Double](d, d)
      for (i <- 0 until d) {
        val v = a(i).clone()
        for (p <- 0 until i) {
          var dot = 0.0
          var j = 0
          while (j < d) { dot += v(j) * q(p)(j); j += 1 }
          var j2 = 0
          while (j2 < d) { v(j2) -= dot * q(p)(j2); j2 += 1 }
        }
        val nrm = math.sqrt(v.map(x => x * x).sum)
        require(nrm > 1e-6, s"mix basis degenerate at row $i")
        for (j <- 0 until d) q(i)(j) = v(j) / nrm
      }
      vecsBase.select(col("id"), graft.expr.CentroidKernels
        .rotateVec(col("vector"), q.map(_.map(_.toFloat))).as("vector"))
    } else vecsBase)
      .repartition(cpus.toInt).persist()
    vecs.count()

    // 32 queries at any n; at the default 1M the modulus is the original
    // 31250, so published numbers are unchanged. Every id ≡ 7 (mod 31250)
    // is itself a planted row of its block under the hard generator, so
    // the hard geometry survives reshaping too.
    val qmod = math.max(n / 32, 1L)
    val queries = vecs.filter(col("id") % qmod === 7)
      .select(col("id").as("qid"), col("vector").as("qvec")).persist()
    val nq = queries.count() // 32 queries
    val cands = vecs.filter(col("id") % 10 === 0).select("id").persist()
    cands.count()

    // exact ground truth for recall@100
    val truth = FlatKnn.search(vecs, queries, 100, Metric.L2)
      .select(col("qid"), col("id")).persist()
    truth.count()

    // one source of truth for recall accounting: the library's own
    // harness (Recall.meanAtK — set semantics, divide-by-K, averaged
    // over truth's qids), not probe-local arithmetic
    def recall(res: DataFrame): Double = Recall.meanAtK(res, truth, 100)

    def time(label: String, recallOf: Option[DataFrame => DataFrame] = None)
            (f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val res = f
      val n = res.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val rec = recallOf.map(g => f" recall@100=${recall(g(res)) * 100}%5.1f%%")
        .getOrElse("")
      println(f"[probe] $label%-28s ${sec}%7.2f s  (${sec * 1000 / nq}%6.1f ms/query, rows=$n)$rec")
    }
    val withRecall = Some(identity[DataFrame] _)

    time("flat k=100, batch-32")(
      FlatKnn.search(vecs, queries, 100, Metric.L2))
    locally {
      var t1 = System.nanoTime()
      // past ~2^31 floats one buffer can't hold the corpus — serve sharded
      // (bit-identical results, SHARDS × contiguous buffers merged by score)
      val (doSearch, sz, bytes, label) =
        if (n * d > Int.MaxValue) {
          val s = FlatKnn.serveSharded(vecs)
          ((q: Array[Float], k: Int) => s.search(q, k),
            s.size, s.byteSize, s"sharded x${s.shardCount}")
        } else {
          val s = FlatKnn.serve(vecs)
          ((q: Array[Float], k: Int) => s.search(q, k),
            s.size.toLong, s.byteSize, "single buffer")
        }
      val rawMb = n * d * 4 / 1048576.0
      println(f"[probe] flat serve() collect: ${(System.nanoTime() - t1) / 1e9}%.1f s ($sz vectors, $label, ${bytes / 1048576.0}%.0f MB resident = ${bytes / 1048576.0 / rawMb}%.2fx raw f32; ref 488 MB = 1.00x)")
      val qs = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      qs.foreach { case (_, qv) => doSearch(qv, 100) } // JIT warm
      t1 = System.nanoTime()
      qs.foreach { case (_, qv) => doSearch(qv, 100) }
      val msq = (System.nanoTime() - t1) / 1e6 / qs.length
      println(f"[probe] flat EMBEDDED single-query: ${msq}%.2f ms/query (no Spark jobs)")
    }
    time("flat + 10%-filter")(
      FlatKnn.search(vecs, queries, 100, Metric.L2,
        candidates = Some(cands)))

    // quantized embedded serving (quantizer.go storage types): same flat
    // scan over f16 / int8 packed buffers — memory halves / quarters,
    // recall loss is the quantizer's own (scored vs exact f32 truth);
    // past 2^31 elements the sharded collects take over (bit-identical)
    locally {
      val qs = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val truthSets: Map[Long, Set[Long]] = truth.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      def measure(label: String, sz: Long, bytes: Long,
                  f: Array[Float] => Seq[(Long, Double)]): Unit = {
        qs.foreach { case (_, qv) => f(qv) } // JIT warm
        val reps = 5
        val t1 = System.nanoTime()
        var i = 0
        while (i < reps) { qs.foreach { case (_, qv) => f(qv) }; i += 1 }
        val msq = (System.nanoTime() - t1) / 1e6 / (reps * qs.length)
        val rec = Recall.meanAtKLocal(
          qs.map { case (qid, qv) => qid -> f(qv).map(_._1) }, truthSets, 100)
        println(f"[probe] $label ($sz rows, ${bytes / 1048576.0}%.0f MB = ${bytes / (n * d * 4.0)}%.2fx raw f32): ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%%")
      }
      if (n * d <= Int.MaxValue) {
        val f16 = graft.vector.QuantServe.serveF16(vecs)
        measure("flat EMBEDDED f16 k=100", f16.size, f16.byteSize,
          f16.search(_, 100))
        val i8 = graft.vector.QuantServe.serveInt8(vecs)
        measure("flat EMBEDDED int8 k=100", i8.size, i8.byteSize,
          i8.search(_, 100))
        // 1-bit sign sketch stage + f16 refine: the Hamming scan touches
        // 1/16 of the f16 bytes; refine rescans k*8 rows exactly
        val bin = graft.vector.BinaryServe.serveF16(vecs)
        measure("flat EMBEDDED 1bit+f16 r8", bin.size, bin.byteSize,
          bin.search(_, 100, 8))
        measure("flat EMBEDDED 1bit+f16 r32", bin.size, bin.byteSize,
          bin.search(_, 100, 32))
      } else {
        val f16 = graft.vector.QuantServe.serveF16Sharded(vecs)
        measure(s"flat EMBEDDED f16 x${f16.shardCount} k=100", f16.size,
          f16.byteSize, f16.search(_, 100))
        val i8 = graft.vector.QuantServe.serveInt8Sharded(vecs)
        measure(s"flat EMBEDDED int8 x${i8.shardCount} k=100", i8.size,
          i8.byteSize, i8.search(_, 100))
      }
    }
    if (flatOnly) { spark.stop(); return }

    // ---- IVF (train on a ~20k sample at any n, like the reference's
    // train APIs)
    val trainMod = math.max(n / 20000, 1L)
    var t0 = System.nanoTime()
    val model = Kmeans.train(vecs.filter(col("id") % trainMod === 0), 64, 5)
    val assigned = vecs.withColumn("cluster",
      graft.expr.CentroidKernels.nearestCentroid(col("vector"), model.centroids))
      .persist()
    assigned.count()
    val ivf = Ivf.Index(assigned, model)
    println(f"[probe] ivf build (64 lists, 20k-sample train + $n assign): ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // ---- PQ (m=8, ksub=256 -> d/2 bytes per vector: 16x at 128-dim,
    // 384x at 768-dim — the reference's M=8 config for both shapes)
    t0 = System.nanoTime()
    val pqModel = Pq.train(vecs.filter(col("id") % trainMod === 0), m = 8,
      ksub = 256, maxIter = 5)
    val encoded = Pq.encode(vecs, pqModel).persist()
    encoded.count()
    println(f"[probe] pq build (m=8 ksub=256, 20k-sample train + $n encode): ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // ---- IVFPQ (64 lists, residual PQ) — train on sample, encode all
    t0 = System.nanoTime()
    val ivfpq = IvfPq.build(vecs.filter(col("id") % trainMod === 0), nlist = 64,
      m = 8, ksub = 256, maxIter = 5)
    val fullEncoded = IvfPq.encode(vecs, ivfpq).persist()
    fullEncoded.count()
    val ivfpqFull = IvfPq.Index(fullEncoded, ivfpq.coarse, ivfpq.pq)
    println(f"[probe] ivfpq build (64 lists, m=8, $n encode): ${(System.nanoTime() - t0) / 1e9}%.1f s")

    time("ivf nprobe=4, batch-32", withRecall)(
      Ivf.search(ivf, queries, 100, nprobe = 4))
    time("ivf nprobe=8, batch-32", withRecall)(
      Ivf.search(ivf, queries, 100, nprobe = 8))
    time("ivf nprobe=4 + 10%-filter")(
      Ivf.search(ivf, queries, 100, nprobe = 4,
        candidates = Some(cands)))
    time("pq adc, batch-32", withRecall)(
      Pq.search(encoded, pqModel, queries, 100))
    // OPQ twin: learned rotation before the subspace split (Ge et al.,
    // CVPR 2013) — same m/ksub, same ADC scan, one extra codegen'd
    // rotation per encoded row; under GEOM=rotated this is the row that
    // shows PQ recall recovered into the reference's published 70-85%
    // band (README.md:1329-1333)
    locally {
      var t1 = System.nanoTime()
      val opqModel = Pq.trainOpq(vecs.filter(col("id") % trainMod === 0),
        m = 8, ksub = 256, maxIter = 5, opqIters = 6, sampleSize = 16384)
      val opqEncoded = Pq.encode(vecs, opqModel).persist()
      opqEncoded.count()
      println(f"[probe] opq build (m=8 ksub=256, PCA+alternation rotation + $n encode): ${(System.nanoTime() - t1) / 1e9}%.1f s")
      time("opq adc, batch-32", withRecall)(
        Pq.search(opqEncoded, opqModel, queries, 100))
      opqEncoded.unpersist()
    }
    time("ivfpq nprobe=8, batch-32", withRecall)(
      IvfPq.search(ivfpqFull, queries, 100, nprobe = 8))

    // embedded IVF serving (exact within probed lists) with the storage
    // quantizer matrix — nprobe trades recall for a fraction of the scan
    locally {
      val qs = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val truthSets: Map[Long, Set[Long]] = truth.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      for ((label, storage) <- Seq(
          ("f32", IvfServe.F32), ("f16", IvfServe.F16), ("int8", IvfServe.I8))) {
        val s = IvfServe.serve(ivf, storage)
        qs.foreach { case (_, qv) => s.search(qv, 100, 8) } // JIT warm
        val reps = 10
        val t1 = System.nanoTime()
        var i = 0
        while (i < reps) { qs.foreach { case (_, qv) => s.search(qv, 100, 8) }; i += 1 }
        val msq = (System.nanoTime() - t1) / 1e6 / (reps * qs.length)
        val rec = Recall.meanAtKLocal(
          qs.map { case (qid, qv) => qid -> s.search(qv, 100, 8).map(_._1) },
          truthSets, 100)
        println(f"[probe] ivf EMBEDDED $label%-4s nprobe=8 (${s.byteSize / 1048576.0}%.0f MB): ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%%")
      }
    }

    // embedded PQ / IVFPQ serving: codes collected once, per-query ADC over
    // local byte arrays — the reference's in-process deployment shape
    locally {
      val qs = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      var t1 = System.nanoTime()
      val pqServe = Pq.serve(encoded, pqModel)
      println(f"[probe] pq serve() collect: ${(System.nanoTime() - t1) / 1e9}%.1f s (${pqServe.size} codes, ${pqServe.byteSize / 1048576.0}%.1f MB resident; ref 7.8 MB codes + codebooks)")
      qs.foreach { case (_, qv) => pqServe.search(qv, 100) } // JIT warm
      val reps = 10
      t1 = System.nanoTime()
      var i = 0
      while (i < reps) { qs.foreach { case (_, qv) => pqServe.search(qv, 100) }; i += 1 }
      println(f"[probe] pq EMBEDDED single-query: ${(System.nanoTime() - t1) / 1e6 / (reps * qs.length)}%.2f ms/query (no Spark jobs)")

      t1 = System.nanoTime()
      val ivfpqServe = IvfPq.serve(ivfpqFull)
      println(f"[probe] ivfpq serve() collect: ${(System.nanoTime() - t1) / 1e9}%.1f s (${ivfpqServe.size} codes, ${ivfpqServe.byteSize / 1048576.0}%.1f MB resident)")
      qs.foreach { case (_, qv) => ivfpqServe.search(qv, 100, nprobe = 8) }
      t1 = System.nanoTime()
      i = 0
      while (i < reps) { qs.foreach { case (_, qv) => ivfpqServe.search(qv, 100, nprobe = 8) }; i += 1 }
      println(f"[probe] ivfpq EMBEDDED single-query (nprobe=8): ${(System.nanoTime() - t1) / 1e6 / (reps * qs.length)}%.2f ms/query (no Spark jobs)")

      // two-stage refine: the ADC scan's candidates exactly re-ranked
      // from an f16 fine buffer (codes + 2 B/elem resident) — measures
      // the recall the M-byte codes lose and refine recovers
      if (n * d <= Int.MaxValue) {
        val truthSets: Map[Long, Set[Long]] = truth.collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val fine16 = graft.vector.QuantServe.serveF16(vecs)
        def measureRefined(label: String, bytes: Long,
                           f: Array[Float] => Seq[(Long, Double)]): Unit = {
          qs.foreach { case (_, qv) => f(qv) } // JIT warm
          val t2 = System.nanoTime()
          var r = 0
          while (r < reps) { qs.foreach { case (_, qv) => f(qv) }; r += 1 }
          val msq = (System.nanoTime() - t2) / 1e6 / (reps * qs.length)
          val rec = Recall.meanAtKLocal(
            qs.map { case (qid, qv) => qid -> f(qv).map(_._1) },
            truthSets, 100)
          println(f"[probe] $label (${bytes / 1048576.0}%.0f MB): ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%%")
        }
        val rpq = graft.vector.RefineServe.over(fine16)(
          (q, b) => pqServe.search(q, b))
        measureRefined("pq EMBEDDED +f16 refine x8",
          pqServe.byteSize + fine16.byteSize + rpq.tableBytes,
          rpq.search(_, 100, 8))
        val rivfpq = graft.vector.RefineServe.over(fine16)(
          (q, b) => ivfpqServe.search(q, b, nprobe = 8))
        measureRefined("ivfpq EMBEDDED +f16 refine x8",
          ivfpqServe.byteSize + fine16.byteSize + rivfpq.tableBytes,
          rivfpq.search(_, 100, 8))
      }
    }

    // embedded BM25 serving over a 1M-doc synthetic corpus (~10 terms/doc,
    // 50k-term vocab) — no reference baseline exists; ours is the first
    var probeCorpus: Option[graft.text.BM25Corpus] = None
    if (sys.env.contains("SPARK_GRAFT_BM25")) {
      t0 = System.nanoTime()
      val docs = spark.range(1000000L).select(col("id"),
        expr("concat_ws(' ', transform(sequence(0, 9), " +
          "j -> concat('w', pmod(id * 7919 + j * 104729, 50000))))").as("text"))
      val corpus = graft.text.BM25.build(docs)
      probeCorpus = Some(corpus)
      val local = graft.text.BM25.serve(corpus)
      println(f"[probe] bm25 build+serve 1M docs: ${(System.nanoTime() - t0) / 1e9}%.1f s (${local.size} docs, ${local.byteSize / 1048576.0}%.0f MB resident postings)")
      val probeQs = (0 until 32).map(i =>
        s"w${(i * 7919) % 50000} w${(i * 104729 + 7919) % 50000} w${i % 50000}")
      probeQs.foreach(local.search(_, 10)) // JIT warm
      val reps = 10
      t0 = System.nanoTime()
      var i = 0
      while (i < reps) { probeQs.foreach(local.search(_, 10)); i += 1 }
      println(f"[probe] bm25 EMBEDDED single-query: ${(System.nanoTime() - t0) / 1e6 / (reps * probeQs.length)}%.2f ms/query (no Spark jobs)")

      // ---- 1M hybrid end-to-end (filter -> vector + text -> RRF fusion):
      // embedded serving (the reference's deployment shape — no published
      // baseline exists for hybrid; ours is the first number) plus the
      // distributed single-query plan for the cluster story
      import graft.filter.{Filter, FilterGroup}
      import graft.hybrid.Hybrid
      val meta = spark.range(1000000L).select(col("id"),
        expr("CASE CAST(id % 4 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de' " +
          "WHEN 2 THEN 'fr' ELSE 'zh' END").as("lang"),
        (lit(50) + col("id") % 400).as("n_chars"))
      val filters = Seq(FilterGroup(Seq(
        Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100))))
      val hcfg = Hybrid.Config(k = 10, fusion = Hybrid.Rrf)
      t0 = System.nanoTime()
      val hserve = Hybrid.serve(meta, vecs, corpus, hcfg)
      println(f"[probe] hybrid serve() collect (1M meta+vec+text): ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val hq = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .zip(probeQs)
      hq.foreach { case ((_, qv), qt) =>
        hserve.search(filters, Some(qv), Some(qt)) } // JIT warm
      t0 = System.nanoTime()
      i = 0
      while (i < reps) {
        hq.foreach { case ((_, qv), qt) =>
          hserve.search(filters, Some(qv), Some(qt)) }
        i += 1
      }
      println(f"[probe] hybrid EMBEDDED single-query (filter+vec+text RRF): ${(System.nanoTime() - t0) / 1e6 / (reps * hq.length)}%.2f ms/query (no Spark jobs)")
      // distributed: one full hybrid plan per query (the per-job floor
      // amortizes over batched/concurrent queries on a real cluster)
      val (qv0, qt0) = ((hq.head._1._2, hq.head._2))
      val qvFrame = {
        import spark.implicits._
        Seq((0L, qv0)).toDF("qid", "qvec")
      }
      // vector leg routed through IVF partition pruning (the scale path —
      // same shape as the bench's hybrid_ivf); flat leg for reference
      val hcfgIvf = hcfg.copy(nprobe = 8)
      Seq(("ivf nprobe=8", Some(ivf), hcfgIvf),
          ("flat", None, hcfg)).foreach { case (label, ivfOpt, cfg) =>
        Hybrid.search(meta, filters, Some(vecs), Some(qvFrame),
          Some(corpus), Some(qt0), cfg, ivf = ivfOpt).count() // plan warm
        t0 = System.nanoTime()
        val hreps = 5
        i = 0
        while (i < hreps) {
          Hybrid.search(meta, filters, Some(vecs), Some(qvFrame),
            Some(corpus), Some(qt0), cfg, ivf = ivfOpt).count()
          i += 1
        }
        println(f"[probe] hybrid DISTRIBUTED single-query ($label): ${(System.nanoTime() - t0) / 1e6 / hreps}%.1f ms/query")
      }
    }

    // ---- 1M-doc MinHash+LSH dedup: candidate-pair generation is THE
    // scale risk of the dedup pipeline (an all-pairs design is O(n²); the
    // banded bucket join must stay near-linear). 1M synthetic docs, ~1%
    // near-duplicates planted as shared prefixes; measures signature +
    // banding + bucket-join end-to-end and reports the pair count.
    if (sys.env.contains("SPARK_GRAFT_DEDUP")) {
      // md5-mixed tokens: an arithmetic generator (id*a + j*b mod p) makes
      // doc id+Δ a token-SHIFT of doc id whenever aΔ ≡ bΔj — accidental
      // mass near-duplication (measured: 45M candidate pairs). Hash mixing
      // kills the shift structure; only the planted prefix block collides.
      val docs1m = spark.range(1000000L).select(col("id"),
        expr("concat_ws(' ', transform(sequence(0, 19), j -> concat('t', " +
          // ids 0..9999 pair up (id, id+500000): same 18-token prefix, so
          // ~10k planted near-dup pairs inside 1M unrelated docs
          "CASE WHEN j < 18 AND (id % 500000) < 10000 THEN substr(md5(concat('p', id % 500000, '_', j)), 1, 8) " +
          "ELSE substr(md5(concat('n', id, '_', j)), 1, 8) END)))").as("text"))
        .persist()
      docs1m.count()
      t0 = System.nanoTime()
      val nPairs = graft.pipeline.Dedup
        .minhashPairs(docs1m, "id", "text").count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] minhash+LSH dedup 1M docs (20-token, ~10k planted pairs): ${sec}%.1f s  candidate pairs=$nPairs")
      // planted pairs share 16 of 20 distinct shingles (J=0.8); 4x4
      // banding catches 1-(1-0.8^4)^4 ~ 0.88 of them and essentially no
      // unrelated docs — measured 8,858 (0.886). A count outside this
      // window means the banding join or signature broke.
      require(nPairs > 7000 && nPairs < 12000,
        s"banding pair count $nPairs outside the planted-recall window")
      docs1m.unpersist()

      // ---- hot-gram salting in the PAIR-JOIN shapes. The window-df skew
      // probe (curation stage) covers the COUNT path; this covers the
      // joins whose fan-out is quadratic in a hot key's posting list.
      //
      // decontaminate: 1M train docs, 300k opening with one boilerplate
      // 8-gram; a 200k-doc eval set (big enough that the gram join
      // SHUFFLES — a broadcastable eval side has no skew problem to
      // begin with) whose first 20 docs carry the boilerplate -> the hot
      // key alone matches 6M rows through ONE reducer unsalted; salted
      // they spread across 16 sub-keys. Results must be row-identical.
      val boiler = "'b0 b1 b2 b3 b4 b5 b6 b7'"
      val train1m = spark.range(1000000L).select(col("id"),
        expr(s"concat_ws(' ', CASE WHEN id % 10 < 3 THEN $boiler ELSE '' END, " +
          "concat_ws(' ', transform(sequence(0, 11), j -> " +
          "substr(md5(concat('d', id, '_', j)), 1, 8))))").as("text"))
        .persist()
      train1m.count()
      val evalDocs = spark.range(1000000L, 1200000L).select(col("id"),
        expr(s"concat_ws(' ', CASE WHEN id < 1000020 THEN $boiler ELSE '' END, " +
          "concat_ws(' ', transform(sequence(0, 11), " +
          "j -> substr(md5(concat('e', id, '_', j)), 1, 8))))").as("text"))
        .persist()
      evalDocs.count()
      def decon(sha: Long): (Long, Long, Double) = {
        val t = System.nanoTime()
        val res = graft.pipeline.Curation
          .decontaminate(train1m, evalDocs, "id", "text", 8,
            saltHotAbove = sha, salts = 16)
          .agg(count(lit(1)), sum(col("shared"))).head()
        (res.getLong(0), res.getLong(1), (System.nanoTime() - t) / 1e9)
      }
      val (pairsU, sharedU, secU) = decon(0L)
      val (pairsS, sharedS, secS) = decon(100000L)
      println(f"[probe] decontaminate 1M train/300k-hot-gram/200k eval: " +
        f"unsalted ${secU}%.1f s, salted(16) ${secS}%.1f s, " +
        f"pairs=$pairsU shared-sum=$sharedU (salted agrees: " +
        f"${pairsU == pairsS && sharedU == sharedS})")
      // every hot train doc pairs with every hot eval doc via the gram
      require(pairsU == pairsS && sharedU == sharedS,
        s"salted decontaminate diverged: ($pairsU,$sharedU) vs ($pairsS,$sharedS)")
      require(pairsU == 300000L * 20L,
        s"expected 6M (train,eval) pairs, got $pairsU")
      train1m.unpersist()
      evalDocs.unpersist()

      // jaccardPairs: one block plants an 8k-doc hot shingle (32M intra-
      // block matches through a single key unsalted) inside 200k docs.
      val jdocs = spark.range(200000L).select(col("id"),
        lit("blk").as("src"),
        expr("concat_ws(' ', CASE WHEN id < 8000 THEN 'h0 h1 h2' ELSE '' END, " +
          "concat_ws(' ', transform(sequence(0, 9), j -> " +
          "substr(md5(concat('j', id, '_', j)), 1, 8))))").as("text"))
        .persist()
      jdocs.count()
      def jac(sha: Long): (Long, Double) = {
        val t = System.nanoTime()
        val n = graft.pipeline.Dedup
          .jaccardPairs(jdocs, "id", "text", "src", nShingle = 3,
            saltHotAbove = sha, salts = 16).count()
        (n, (System.nanoTime() - t) / 1e9)
      }
      val (jU, jsecU) = jac(0L)
      val (jS, jsecS) = jac(4000L)
      // SELF-TUNING gate: pure-default invocation (saltHotAbove = -1
      // AUTO, 1% sample, AutoSaltDf threshold) must detect the planted
      // 8k-df shingle on its own and agree row-for-row — the 100 TB
      // caller gets skew safety WITHOUT knowing to ask
      val tAuto = System.nanoTime()
      val jA = graft.pipeline.Dedup
        .jaccardPairs(jdocs, "id", "text", "src", nShingle = 3).count()
      val jsecA = (System.nanoTime() - tAuto) / 1e9
      println(f"[probe] jaccard 200k docs/8k-doc hot shingle: unsalted " +
        f"${jsecU}%.1f s, salted(16) ${jsecS}%.1f s, AUTO ${jsecA}%.1f s, " +
        f"pairs=$jU (salted agrees: ${jU == jS}, auto agrees: ${jU == jA})")
      require(jU == jS, s"salted jaccard diverged: $jU vs $jS")
      require(jU == jA, s"AUTO-salted jaccard diverged: $jU vs $jA")
      // the 8k hot docs share the h0..h2 trigram: C(8000,2) pairs, plus
      // the adjacent mixed shingles shared only within the hot set
      require(jU == 8000L * 7999L / 2L,
        s"expected C(8000,2) hot pairs, got $jU")
      jdocs.unpersist()
    }

    if (sys.env.contains("SPARK_GRAFT_CURATION")) {
      // 1M docs x 20 hash-mixed tokens (~8.6 chars each) — the curation
      // trio at the scale where their plan shapes matter: vocab's two
      // combinable shuffles, budget selection's ranged window sort, and
      // the stateless split assignment. Content is keyed on id % 900000 so
      // the last 100k docs are verbatim copies of the first 100k — planted
      // duplication the span-profile stage must find EXACTLY.
      val docs1m = spark.range(1000000L).select(col("id"),
        expr("concat_ws(' ', transform(sequence(0, 19), j -> " +
          "substr(md5(concat('c', id % 900000, '_', j)), 1, 8)))").as("text"),
        expr("length(concat_ws(' ', transform(sequence(0, 19), j -> " +
          "substr(md5(concat('c', id % 900000, '_', j)), 1, 8))))").as("n_chars"))
        .persist()
      docs1m.count()
      t0 = System.nanoTime()
      val nVocab = graft.pipeline.Curation
        .vocab(docs1m, "id", "text", topK = 1000).count()
      val vocabSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      // 10M-token budget over a 20M-token corpus: ~half the docs survive
      val nKept = graft.pipeline.Curation
        .selectByBudget(docs1m, "id", "text", "n_chars", 10000000L).count()
      val budgetSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val splits = graft.pipeline.Curation
        .splitHash(docs1m, "id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val splitSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      // cross-doc span dedup at 13M postings: the planted copies (ids
      // 900000+ duplicate ids < 100000) must surface as fully-shared docs
      val nDup = graft.pipeline.Dedup.spanProfile(docs1m, "id", "text", n = 8)
        .filter(col("n_shared") > 0).count()
      val spanSec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] curation 1M docs/20M tokens: vocab(top1000) ${vocabSec}%.1f s, " +
        f"budget-select(10M tok) ${budgetSec}%.1f s kept=$nKept, " +
        f"split ${splitSec}%.1f s train=${splits("train")}, " +
        f"span-profile ${spanSec}%.1f s shared-docs=$nDup")
      require(nVocab == 1000, s"vocab top-K returned $nVocab")
      // 20 tokens per doc -> 500k docs fill a 10M-token budget exactly
      require(nKept == 500000L, s"budget selection kept $nKept of 500000")
      // md5 buckets: 80% +- 0.5% of 1M
      require(math.abs(splits("train") - 800000L) < 5000,
        s"train split ${splits("train")} outside 80% +- 0.5%")
      // exactly the 100k copies + their 100k originals share spans
      // (md5-prefix 8-gram collisions beyond the planted pairs are
      // ~impossible at this scale: 13 grams of 8 chained 32-bit tokens)
      require(nDup == 200000L, s"span profile found $nDup shared docs, want 200000")
      docs1m.unpersist()

      // skew leg: 30% of docs open with the SAME 8-token boilerplate
      // header (300k-row hot gram). The default count-window shape must
      // colocate those rows in one partition; skewSafe's partial-agg df
      // shape combines them map-side. Both must agree exactly.
      val skewed = spark.range(1000000L).select(col("id"),
        expr("concat_ws(' ', CASE WHEN id % 10 < 3 THEN " +
          "'hdr0 hdr1 hdr2 hdr3 hdr4 hdr5 hdr6 hdr7' ELSE '' END, " +
          "concat_ws(' ', transform(sequence(0, 11), j -> " +
          "substr(md5(concat('s', id, '_', j)), 1, 8))))").as("text"))
        .persist()
      skewed.count()
      t0 = System.nanoTime()
      val winDocs = graft.pipeline.Dedup.spanProfile(skewed, "id", "text")
        .filter(col("n_shared") > 0).count()
      val winSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val safeDocs = graft.pipeline.Dedup
        .spanProfile(skewed, "id", "text", skewSafe = true)
        .filter(col("n_shared") > 0).count()
      val safeSec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] span-profile 300k-hot-gram skew: window ${winSec}%.1f s, " +
        f"skewSafe ${safeSec}%.1f s, shared-docs=$winDocs (shapes agree: ${winDocs == safeDocs})")
      // the boilerplate header is one shared gram across 300k docs; the
      // md5 body grams are unique, so exactly the 300k header docs share
      require(winDocs == 300000L && safeDocs == 300000L,
        s"skew leg found window=$winDocs safe=$safeDocs, want 300000")
      // AUTOMATIC shape selection: the sampled max-df estimate must see
      // the 300k-doc boilerplate gram (~3k hits in a 1% sample) and
      // switch to the skew-safe form past a 100k threshold; results stay
      // identical to both explicit shapes
      val estDf = graft.pipeline.Dedup
        .estimateMaxGramDf(skewed, "id", "text", 8)
      t0 = System.nanoTime()
      val autoDocs = graft.pipeline.Dedup
        .spanProfile(skewed, "id", "text", autoShape = true,
          hotDfThreshold = 100000L)
        .filter(col("n_shared") > 0).count()
      val autoSec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] span-profile auto shape: est max df ${estDf}%.0f " +
        f"(true 300000) -> ${if (estDf > 100000) "skewSafe" else "window"}, " +
        f"${autoSec}%.1f s, shared-docs=$autoDocs")
      require(estDf > 100000 && estDf < 900000,
        s"sampled max-df estimate $estDf implausible for a 300k-doc gram")
      require(autoDocs == 300000L, s"auto shape found $autoDocs, want 300000")
      skewed.unpersist()
    }

    // ---- streaming ingest throughput at the 100 TB/day shape: 1M rows
    // (staged as 4 deliveries with 25% cross-batch duplicates) through
    // watermark-bounded exact dedup into LSM segment flushes — measures
    // sustained rows/s of the ingest pipeline, not a single query
    if (sys.env.contains("SPARK_GRAFT_STREAM")) {
      val base = java.nio.file.Files.createTempDirectory("probe-stream")
      val srcDir = base.resolve("src"); val root = base.resolve("store")
      val ckpt = base.resolve("ckpt")
      java.nio.file.Files.createDirectories(srcDir)
      // 4 deliveries of 312.5k; each re-delivers the last 25% of the
      // previous one (the at-least-once overlap dedup must absorb)
      (0 until 4).foreach { d =>
        val lo = d * 250000L
        spark.range(lo, lo + 312500L).select(col("id"),
            to_timestamp(from_unixtime(lit(1767225600L) + col("id") / 100))
              .as("ts"),
            concat(lit("payload "), col("id")).as("text"))
          .coalesce(4).write.parquet(s"$srcDir/d$d")
      }
      val schema = spark.read.parquet(s"$srcDir/d0").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4").parquet(s"$srcDir/*")
      val store = new graft.store.SegmentStore(spark, root.toString)
      t0 = System.nanoTime()
      val q = graft.streaming.Ingest.sinkSegmentStore(
        graft.streaming.Ingest.dedupStream(stream, Seq("id"),
          watermark = "24 hours"),
        store, ckpt.toString)
      require(q.awaitTermination(600000), "ingest stream did not drain")
      val sec = (System.nanoTime() - t0) / 1e9
      val live = store.read().count()
      // unique ids span [0, 3*250k + 312.5k) = 1,062,500; the other
      // 187,500 delivered rows are cross-batch duplicates dedup must drop
      println(f"[probe] streaming ingest 1.25M rows (15%% cross-batch dups) -> dedup -> ${store.segments().length} segments: ${sec}%.1f s (${1250000 / sec / 1000}%.0f k rows/s in, $live unique out)")
      require(live == 1062500L, s"dedup wrong: $live unique (want 1062500)")
    }

    // ---- BATCH store path at 10M rows: append (with cross-segment id
    // overlap), newest-wins read, tombstones, REAL compaction — the one
    // subsystem the other stages exercise only at micro scale. Reports
    // ingest rows/s, read-amplification (stored rows / live rows) before
    // vs after compact, and byte totals from stats().
    if (sys.env.contains("SPARK_GRAFT_STORE")) {
      val root = java.nio.file.Files.createTempDirectory("probe-store")
      val store = new graft.store.SegmentStore(spark, root.toString)
      val segRows = 1250000L; val overlap = 125000L; val nSeg = 8
      t0 = System.nanoTime()
      (0 until nSeg).foreach { dlv =>
        val lo = dlv * segRows
        val start = if (dlv == 0) lo else lo - overlap // re-append tail of prev
        store.append(spark.range(start, lo + segRows).select(col("id"),
          concat(lit(s"payload g$dlv "), md5(col("id").cast("string")))
            .as("text"),
          (col("id") % 97).cast("int").as("bucket")))
      }
      val appendSec = (System.nanoTime() - t0) / 1e9
      val appended = segRows + (nSeg - 1) * (segRows + overlap)
      // delete 1%: every 100th id — arrives as a FRAME, not a driver list
      store.deleteFrom(spark.range(0, nSeg * segRows, 100).select(col("id")))
      t0 = System.nanoTime()
      val live = store.read().count()
      val readSec = (System.nanoTime() - t0) / 1e9
      val uniqueIds = nSeg * segRows
      val expectLive = uniqueIds - uniqueIds / 100
      val bytesBefore = store.totalBytes()
      val ampBefore = appended.toDouble / live
      // newest-wins: every overlapped id's payload must carry the NEWER
      // delivery's generation tag
      val staleWinners = store.read()
        .filter(col("id") >= segRows - overlap && col("id") < segRows &&
          col("id") % 100 =!= 0)
        .filter(!col("text").startsWith("payload g1 ")).count()
      t0 = System.nanoTime()
      store.compact()
      val compactSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val liveAfter = store.read().count()
      val readAfterSec = (System.nanoTime() - t0) / 1e9
      val bytesAfter = store.totalBytes()
      println(f"[probe] segment store 10M rows/$nSeg segs (10%% overlap, 1%% tombstoned): " +
        f"append ${appendSec}%.1f s (${appended / appendSec / 1000}%.0f k rows/s), " +
        f"read ${readSec}%.1f s amp=${ampBefore}%.3f (${bytesBefore / 1048576} MiB), " +
        f"compact ${compactSec}%.1f s, re-read ${readAfterSec}%.1f s amp=1.000 " +
        f"(${bytesAfter / 1048576} MiB, ${store.segments().length} seg)")
      require(live == expectLive, s"live $live != $expectLive before compact")
      require(liveAfter == expectLive, s"live $liveAfter != $expectLive after compact")
      require(staleWinners == 0L, s"$staleWinners overlapped ids served a STALE generation")
      require(store.segments().length == 1, "compaction must leave one segment")
      // compaction drops ~2% of ROWS but rewrites the encoding (the
      // shuffle destroys id run-lengths), so bytes can tick up slightly;
      // gate on "within 5%", not monotone shrinkage
      require(bytesAfter <= bytesBefore * 1.05,
        s"compaction grew the store >5%: $bytesBefore -> $bytesAfter")

      // ---- AUTO-salt detection cost at store scale: one pair-join with
      // PURE defaults over the compacted 10M-doc corpus. Detection (the
      // sampled hot-key probe) runs eagerly at DataFrame construction —
      // timed separately from the join. The md5 payload is hot-key-free,
      // so AUTO must keep the plain join; the pass therefore isolates
      // what every default caller pays at this scale: ONE sampled
      // aggregation, then the postings join itself. (The AUTO-ENGAGES
      // case is the 200k-doc planted-skew leg in the DEDUP stage.)
      t0 = System.nanoTime()
      val pairsDf = graft.pipeline.Dedup.jaccardPairs(
        store.read().select(col("id"), col("text"), col("bucket")),
        "id", "text", "bucket", nShingle = 3)
      val detectSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val nDupPairs = pairsDf.count()
      val pairSec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] AUTO-salt dedup pass over the 10M-doc store: " +
        f"detection ${detectSec}%.1f s (one sampled job), " +
        f"join ${pairSec}%.1f s, pairs=$nDupPairs")
      require(nDupPairs == 0L,
        s"md5-unique corpus produced $nDupPairs dup pairs")

      // ---- id-clustering READ gate (the other half of the round-14
      // write change, SegmentStore.clusterById): point lookups against
      // the compacted id-clustered store vs an UNCLUSTERED rewrite of
      // the same live rows into the same file count. Clustered files
      // carry narrow contiguous id ranges per parquet row group, so the
      // pushed `id IN (...)` filter prunes on row-group min/max stats;
      // the round-robin twin's row groups all span the full id range and
      // must scan everything. min-of-3 per side (shared-VM noise).
      val lookupIds = (0 until 32)
        .map(i => (i * 293251L) % (nSeg * segRows)).filter(_ % 100 != 0)
      // file count of the compacted segment itself (the live-view plan is
      // not a plain scan, so df.inputFiles is empty on it)
      val segPq = spark.read
        .parquet(s"${root.toString}/seg=${store.segments().head}")
      val clusteredFiles = math.max(1, segPq.inputFiles.length)
      val unclDir = java.nio.file.Files
        .createTempDirectory("probe-uncl").toString
      // same rows, same file count, id order destroyed (what every write
      // looked like before the clustering change)
      segPq.repartition(clusteredFiles).write
        .mode("overwrite").parquet(unclDir)
      val uncl = spark.read.parquet(unclDir)
      def lookupSec(df: org.apache.spark.sql.DataFrame): Double =
        (0 until 3).map { _ =>
          val t = System.nanoTime()
          val n = df.filter(col("id").isin(lookupIds: _*)).count()
          require(n == lookupIds.length, s"lookup found $n ids")
          (System.nanoTime() - t) / 1e9
        }.min
      val clSec = lookupSec(segPq)          // raw scan, clustered files
      val unSec = lookupSec(uncl)           // raw scan, round-robin files
      val liveSec = lookupSec(store.read()) // through the live-view plan
      println(f"[probe] id-clustered point lookup (32 ids, 10M rows, " +
        f"$clusteredFiles files): clustered ${clSec * 1000}%.0f ms vs " +
        f"unclustered ${unSec * 1000}%.0f ms (${unSec / clSec}%.1fx); " +
        f"through live view ${liveSec * 1000}%.0f ms")
      require(clSec <= unSec * 1.2,
        f"row-group pruning did not engage: clustered ${clSec}%.2f s vs " +
          f"unclustered ${unSec}%.2f s")
      // the filter must reach the parquet scan THROUGH the newest-wins
      // machinery too — a live view that blocks pushdown would re-scan
      // the segment for every point lookup
      require(liveSec <= unSec * 1.2,
        f"live-view lookup ${liveSec}%.2f s lost the pushdown " +
          f"(unclustered raw scan ${unSec}%.2f s)")
    }

    // ---- HybridStore FACADE at 10M text docs: incremental BM25
    // maintenance. The gate: after the one-time seed (a single full-corpus
    // build at the first search), every append's derived-state cost must
    // be ∝ the BATCH, not the corpus — the reference's O(1) incremental
    // stats contract (bm25_index.go:327-334). Text carries a BOUNDED
    // vocabulary (~60k terms — Heaps-law-realistic, unlike an md5 payload
    // whose vocab grows with the corpus and would make any df fold look
    // linear), so the per-generation df fold is vocab-sized.
    if (sys.env.contains("SPARK_GRAFT_HYBSTORE")) {
      val root = java.nio.file.Files.createTempDirectory("probe-hybstore")
      // BOTH incremental logs live: text (BM25Log) + vectors (VecLog,
      // 64 lists, probe-all for determinism of the require gates)
      val hs = new graft.store.HybridStore(spark, root.toString,
        incrementalIvf = Some((64, 64)))
      def mkDocs(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          concat_ws(" ",
            concat(lit("w"), col("id") % 50021),
            concat(lit("v"), col("id") % 9973),
            concat(lit("u"), col("id") % 997),
            concat(lit("s"), col("id") % 101),
            lit("common body line")).as("text"),
          expr("transform(sequence(0, 15), j -> " +
            "CAST(sin(id * 0.37 + j * 1.13) AS FLOAT))").as("vector"),
          (col("id") % 97).cast("int").as("bucket"))
      val segRows = 1250000L; val nSeg = 8; val total = segRows * nSeg
      t0 = System.nanoTime()
      (0 until nSeg).foreach(i => hs.append(mkDocs(i * segRows, segRows)))
      val ingestSec = (System.nanoTime() - t0) / 1e9
      // first search seeds BOTH logs: one full-corpus tokenize+build for
      // text, one k-means train + assignment for vectors
      val qv = spark.range(1).select(lit(0L).as("qid"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(sin(12345 * 0.37 + j * 1.13) AS FLOAT))").as("qvec"))
      t0 = System.nanoTime()
      require(hs.search(queryVec = Some(qv),
        queryText = Some("w123 v55 common")).count() > 0)
      val seedSec = (System.nanoTime() - t0) / 1e9
      // append cycles at 0.1% of corpus each; each call includes the
      // store write AND the log's incremental fold (batch tokenize,
      // overlap probe, delta frames). Each append is METERED by records
      // read (r17 verdict ask #7): the batch-proportionality gate below
      // is structural — a fold touches ~the batch a handful of times, a
      // rebuild-per-mutation design reads the 10M corpus — and the wall
      // clocks are informational on this bursty host.
      val appendRuns = (0 until 6).map { c =>
        val t = System.nanoTime()
        val (_, rd, _) =
          ioRowsDuring(hs.append(mkDocs(total + c * 10000L, 10000L)))
        ((System.nanoTime() - t) / 1e9, rd)
      }
      val appendSec = appendRuns.map(_._1)
      val appendRows = appendRuns.map(_._2)
      // the search after a mutation folds ONE vocab-sized df delta set
      t0 = System.nanoTime()
      require(hs.search(queryText = Some("w123")).count() > 0)
      val foldSec = (System.nanoTime() - t0) / 1e9
      // delete 10k ids through the facade (df-delta path), then search
      t0 = System.nanoTime()
      hs.deleteFrom(spark.range(0, total, 1000).select(col("id")))
      val delSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      require(hs.search(queryText = Some("v55")).count() > 0)
      val foldSec2 = (System.nanoTime() - t0) / 1e9
      // the log's stats must track the live corpus EXACTLY
      val liveDocs = hs.read().count()
      val nd = hs.textCorpus.get.stats.head().getDouble(0).toLong
      require(nd == liveDocs, s"log n_docs $nd != live $liveDocs")
      // real compaction + collapse, then one more incremental append
      t0 = System.nanoTime()
      hs.compact()
      val compactSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val (_, postCompactRows, _) =
        ioRowsDuring(hs.append(mkDocs(total + 100000L, 10000L)))
      val postCompactAppend = (System.nanoTime() - t0) / 1e9
      require(hs.search(queryText = Some("w123")).count() > 0)
      // REOPEN: durable pieces make the next process's first search load
      // per-segment parquet instead of re-tokenizing 10M docs. The
      // STRUCTURAL gate is records WRITTEN: the load path writes nothing
      // (pieces already on disk), a re-tokenize must rewrite corpus-sized
      // piece parquet — wall clock is informational.
      hs.close()
      val hs2 = new graft.store.HybridStore(spark, root.toString)
      t0 = System.nanoTime()
      val (_, _, reopenWritten) = ioRowsDuring(
        require(hs2.search(queryText = Some("w123")).count() > 0))
      val reopenSec = (System.nanoTime() - t0) / 1e9
      require(reopenWritten < total / 100,
        s"reopen first search WROTE $reopenWritten records — the durable " +
          "pieces are being rebuilt instead of loaded")
      hs2.close()
      println(f"[probe] hybrid store 10M docs: ingest ${ingestSec}%.1f s " +
        f"(${total / ingestSec / 1000}%.0f k docs/s), seed build+search " +
        f"${seedSec}%.1f s, per-append(10k) " +
        appendSec.map(t => f"$t%.1f").mkString("[", " ", " s]") +
        ", per-append rows read " +
        appendRows.map(r => s"${r / 1000}k").mkString("[", " ", "]") +
        f", post-mutation fold+search ${foldSec}%.1f/${foldSec2}%.1f s, " +
        f"delete(10k) ${delSec}%.1f s, compact ${compactSec}%.1f s, " +
        f"post-compact append ${postCompactAppend}%.1f s " +
        f"(${postCompactRows / 1000}%d k rows), " +
        f"REOPEN first search ${reopenSec}%.1f s " +
        f"($reopenWritten%d rows written; seed ${seedSec}%.1f s)")
      // THE GATE is structural (r17 ask #7): every append's metered
      // input is a few multiples of its 10k batch — a rebuild-per-
      // mutation design reads the 10M corpus, a 100x separation host
      // noise cannot blur. 5% of corpus allows the fold's piece
      // bookkeeping (cached-segment re-reads, df deltas, marker probes)
      // with two orders of margin. Wall clocks above are informational.
      require(appendRows.max < total / 20,
        s"per-append metered input ${appendRows.max} rows is not " +
          s"batch-proportional (corpus $total) — a fold is reading " +
          "corpus-sized state")
      require(postCompactRows < total / 20,
        s"post-compact append read $postCompactRows rows — paying a " +
          "corpus-sized rebuild")
      // hs was already closed before the hs2 reopen above — a second
      // close now THROWS (the CloseTwice contract)

      // ---- HNSW-leg twin at 1M docs (vector-only, so the text log stays
      // out of the measurement): the graph log must fold mutations
      // copy-on-write — shard memory copy + batch inserts — never re-run
      // the seed build per mutation (the vectorIndexer default would)
      val rootH = java.nio.file.Files.createTempDirectory("probe-hybhnsw")
      val hsH = new graft.store.HybridStore(spark, rootH.toString,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 64)))
      def mkVecs(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          expr("transform(sequence(0, 15), j -> " +
            "CAST(sin(id * 0.37 + j * 1.13) AS FLOAT))").as("vector"))
      val totalH = 1000000L
      t0 = System.nanoTime()
      hsH.append(mkVecs(0L, totalH))
      val ingestH = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      require(hsH.search(queryVec = Some(qv)).count() > 0)
      val seedH = (System.nanoTime() - t0) / 1e9 // routed graph build
      // 18 append cycles — PAST the every-16th-fold auto-persist cadence
      // with ZERO compactions, so the gate measures the streaming path
      // WITH the fold-cadence graph dump in it (the dump is new I/O the
      // localCheckpoint it rides does not pay; round-14 enabled it, this
      // row re-proves the batch-proportionality gate under it)
      val appendH = (0 until 18).map { c =>
        val t = System.nanoTime()
        hsH.append(mkVecs(totalH + c * 10000L, 10000L))
        (System.nanoTime() - t) / 1e9
      }
      val autoP = hsH.hnswAutoPersistSecs
      require(autoP.nonEmpty,
        "18 folds crossed no auto-persist cadence — the fold-cadence " +
          "dump is not wired")
      t0 = System.nanoTime()
      require(hsH.search(queryVec = Some(qv)).count() > 0)
      val searchH = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      hsH.deleteFrom(spark.range(0, totalH, 100).select(col("id")))
      val delH = (System.nanoTime() - t0) / 1e9 // 10k soft-delete marks
      require(hsH.search(queryVec = Some(qv)).count() > 0)
      println(f"[probe] hybrid store 1M docs, HNSW leg: ingest " +
        f"${ingestH}%.1f s, seed graph build+search ${seedH}%.1f s, " +
        f"per-append(10k COW fold, 18 cycles incl auto-persist) " +
        appendH.map(t => f"$t%.1f").mkString("[", " ", " s]") +
        f", auto-persist fires " +
        autoP.map(t => f"$t%.1f").mkString("[", " ", " s]") +
        f", post-mutation search ${searchH}%.2f s, softDelete(10k) " +
        f"${delH}%.1f s")
      require(appendH.max < seedH / 3.0,
        f"HNSW-leg per-append ${appendH.max}%.1f s (auto-persist " +
          f"included) not batch-proportional (seed build ${seedH}%.1f s)")
      require(appendH.last < appendH.head * 5.0 + 1.0,
        s"HNSW-leg append cost trends with generation count: $appendH")

      // CRASH recovery with >16 uncompacted folds: no close() — the
      // auto-persist artifact is all that's on disk. The next process
      // must LOAD it and replay only the post-persist segments, not
      // re-run the 1M seed build (the LogLifecycleSpec small-N row,
      // proven at scale)
      val hsCrash = new graft.store.HybridStore(spark, rootH.toString,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 64)))
      t0 = System.nanoTime()
      require(hsCrash.search(queryVec = Some(qv)).count() > 0)
      val crashReopen = (System.nanoTime() - t0) / 1e9
      println(f"[probe] hybrid store HNSW leg CRASH reopen (>16 folds, " +
        f"0 compactions, no close): ${crashReopen}%.1f s vs " +
        f"${seedH}%.1f s seed build (loaded=${hsCrash.hnswLogLoaded})")
      require(hsCrash.hnswLogLoaded,
        "crash reopen re-seeded instead of loading the auto-persist artifact")
      // the bar is looser than the close-path reopen's seed/3: a crash
      // reopen REPLAYS the post-persist mutations (2 folds + the soft
      // delete here — the whole point of the fold-cadence artifact is
      // bounding that replay) where close() persists everything and
      // replays nothing. The gate's job is catching a RE-SEED (ratio
      // ~1x) — loaded=true + 0.7x still fails that loudly, while seed/2
      // false-alarmed on a shared-VM run where the seed happened to
      // land quiet (19.6 s) and the load-bound reopen didn't (13.4 s)
      require(crashReopen < seedH * 0.7,
        f"crash reopen ${crashReopen}%.1f s re-ran the seed build")
      hsCrash.close()
      // DURABILITY: close persists the mutated graph; the next process
      // reopens by LOADING + replaying instead of re-running the seed
      // build — the reopen-first-search must be a fraction of the seed
      t0 = System.nanoTime()
      hsH.close()
      val persistH = (System.nanoTime() - t0) / 1e9
      // a non-searching writer mutates in between: the reopened log must
      // replay exactly these from store metadata
      val w = new graft.store.HybridStore(spark, rootH.toString,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 64)))
      w.append(mkVecs(totalH + 90000L, 5000L))
      w.close()
      val hsH2 = new graft.store.HybridStore(spark, rootH.toString,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 64)))
      t0 = System.nanoTime()
      require(hsH2.search(queryVec = Some(qv)).count() > 0)
      val reopenH = (System.nanoTime() - t0) / 1e9
      println(f"[probe] hybrid store HNSW leg durability: close persist " +
        f"${persistH}%.1f s, reopen first search (graph load + 1-segment " +
        f"replay) ${reopenH}%.1f s vs ${seedH}%.1f s seed build")
      require(reopenH < seedH / 3.0,
        f"HNSW-leg reopen ${reopenH}%.1f s re-ran the seed build " +
          f"(${seedH}%.1f s) instead of loading the persisted graph")
      // EMBEDDED serving straight from the reopened VECTOR-ONLY store:
      // the leg's resident graph is reused zero-copy (serve() collects
      // only the metadata ids), and per-query latency is the graph's —
      // three orders below the Spark-job path. Runs LAST in the stage,
      // scoped so the handle (meta rows + graph ref) is collectible:
      // holding it across the crash-reopen section above measurably
      // slowed that reopen's load+replay (13-16 s vs 8.5 s) through
      // driver heap pressure. Gates: the handle builds in a fraction of
      // the seed (a raw-vector re-collect + flat serve fails this), and
      // the per-query average stays in the graph-serving regime.
      locally {
        t0 = System.nanoTime()
        val localH = hsH2.serve()
        val serveBuildH = (System.nanoTime() - t0) / 1e9
        val qArr = Array.tabulate(16)(j =>
          (math.sin(12345 * 0.37 + j * 1.13)).toFloat)
        val reps = 200
        t0 = System.nanoTime()
        var got = 0
        (0 until reps).foreach { _ =>
          got += localH.search(Seq.empty, Some(qArr), None).length
        }
        val perQ = (System.nanoTime() - t0) / 1e6 / reps
        println(f"[probe] hybrid store 1M VECTOR-ONLY embedded serve(): " +
          f"handle build ${serveBuildH}%.1f s (resident graph reused), " +
          f"$perQ%.2f ms/query over $reps reps")
        require(got > 0, "embedded vector-only serving returned nothing")
        require(serveBuildH < seedH / 3.0,
          f"serve() handle build ${serveBuildH}%.1f s re-collected the " +
            f"corpus instead of reusing the resident graph (seed " +
            f"${seedH}%.1f s)")
        require(perQ < 10.0,
          f"embedded vector-only serving $perQ%.2f ms/query is not in " +
            "the graph-serving regime")
      }
      hsH2.close()
    }

    if (sys.env.contains("SPARK_GRAFT_PQSTORE")) {
      // ---- Quantized store leg at 1M docs: UNROUTED (full ADC scan)
      // vs ROUTED (coarse quantizer + probed-list residual ADC,
      // PqSpec(nlist > 0)) on the same corpus. The routed claim under
      // test is the O(corpus/nlist) per-query scan: at nprobe=8/nlist=64
      // the ADC stage touches ~1/8 of the codes, and the cluster IN
      // predicate prunes the piece scan before the probe join. Both legs
      // refine exactly, so both return the true self-match.
      // CLUSTERED pseudo-random corpus: 64 natural clusters + bounded
      // per-coordinate noise, NO periodic near-duplicate tie mass (the
      // sin grid this stage used through round 15 had ~59k near-twins
      // of every id, which made recall@k against the flat oracle a
      // lottery over ties). Here the exact top-k is essentially unique
      // AND the coarse quantizer has real structure to find, so the
      // r15-asked recall gates below measure what bounded nprobe costs
      // in quality, not tie-ordering luck.
      // 64-dim: the quantized regime the leg exists for. At the old 16
      // dims / m=4 the ADC scan was so cheap that BOTH legs were
      // job-overhead-bound and the routed/unrouted comparison measured
      // scheduling noise, not scan work (round-16 measurement); at
      // d=64 / m=8 the code scan dominates and the probed-list pruning
      // is what the wall clock sees.
      def vecExprP(idSql: String) =
        expr("transform(sequence(0, 63), j -> CAST(" +
          s"sin((($idSql) % 64) * 7.77 + j * 1.31) * 0.8 + " +
          s"((sin(($idSql) * 12.9898 + j * 78.233) * 43758.5453) % 1.0D)" +
          " * 0.25 AS FLOAT))")
      def mkVecsP(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          vecExprP("id").as("vector"),
          // metadata column for the filtered-serving row below — 97
          // buckets so a one-bucket filter keeps ~1% of the corpus
          (col("id") % 97).cast("int").as("bucket"))
      val totalP = sys.env.getOrElse("SPARK_GRAFT_PQSTORE_N", "1000000").toLong
      // serving-latency query: drawn from the corpus distribution
      val qvP = spark.range(1).select(lit(0L).as("qid"),
        vecExprP("12345").as("qvec"))
      // recall queries: same distribution, decorrelated id stream (the
      // multiplier walks all 64 clusters)
      val recallQs = spark.range(20).select(col("id").as("qid"),
        vecExprP("id * 50021 + 17").as("qvec"))
      def median3(f: => Double): Double =
        Seq(f, f, f).sorted.apply(1)
      def runLeg(label: String, spec: graft.store.HybridStore.PqSpec)
          : (Double, Double, java.nio.file.Path) = {
        val rootP = java.nio.file.Files.createTempDirectory(s"probe-$label")
        val hsP = new graft.store.HybridStore(spark, rootP.toString,
          incrementalPq = Some(spec))
        hsP.append(mkVecsP(0L, totalP))
        t0 = System.nanoTime()
        require(hsP.search(queryVec = Some(qvP)).count() > 0)
        val seedP = (System.nanoTime() - t0) / 1e9 // train + encode-all
        // append folds are encode-only projections of the batch — never
        // a retrain, never a corpus re-encode
        val appendP = (0 until 4).map { c =>
          val t = System.nanoTime()
          hsP.append(mkVecsP(totalP + c * 10000L, 10000L))
          (System.nanoTime() - t) / 1e9
        }
        // Exactness at small N is pinned by PqLogSpec's flat-twin rows;
        // the gates here are the 100 TB ones: row count, fold
        // proportionality, routed-vs-unrouted serving, reopen cost, and
        // (below, on the reopened routed store) recall@100 at bounded
        // nprobe vs the flat live view.
        val searchP = median3 {
          val t = System.nanoTime()
          require(hsP.search(queryVec = Some(qvP)).count() == 10,
            s"$label leg returned the wrong row count")
          (System.nanoTime() - t) / 1e9
        }
        require(appendP.max < seedP / 3.0,
          f"$label per-append ${appendP.max}%.1f s not batch-" +
            f"proportional (seed ${seedP}%.1f s)")
        println(f"[probe] pq store ${totalP / 1000000}%dM docs, $label leg: seed " +
          f"train+encode+search ${seedP}%.1f s, per-append(10k encode " +
          f"fold) " + appendP.map(t => f"$t%.1f").mkString("[", " ", " s]") +
          f", post-mutation search (median of 3) ${searchP}%.2f s")
        hsP.close()
        (seedP, searchP, rootP)
      }
      val (seedU, searchU, rootU) = runLeg("pqstore-unrouted",
        graft.store.HybridStore.PqSpec(m = 8, ksub = 64, maxIter = 5,
          refineFactor = 4))
      val (seedR, searchR, rootR) = runLeg("pqstore-routed",
        graft.store.HybridStore.PqSpec(m = 8, ksub = 64, maxIter = 5,
          refineFactor = 4, nlist = 64, nprobe = 8))
      // THE GATE: the routed leg's probed-list serving beats the
      // unrouted full code scan on the same corpus (this is the whole
      // point of routing; equal-or-worse means the cluster pruning is
      // not engaging). Medians of 3 on both sides bound shared-VM noise.
      println(f"[probe] pq store routed vs unrouted serving: " +
        f"${searchR}%.2f s vs ${searchU}%.2f s " +
        f"(x${searchU / math.max(searchR, 1e-9)}%.1f), seeds " +
        f"${seedR}%.1f/${seedU}%.1f s")
      // The GATE for routed-vs-unrouted moved to the PAIRED interleaved
      // section below (r17): these two medians are measured minutes
      // apart (separated by the other leg's seed build), and on this
      // host's interference regime a ~0.3 s ADC-scan difference under
      // +-0.4 s bursts flipped the comparison sign run to run. The
      // print above remains the per-leg report; the enforceable
      // comparison runs back-to-back through the two REOPENED stores.
      // DURABILITY: reopen loads codebooks + coarse centroids + pieces;
      // first search must NOT pay the train-or-encode seed again
      val hsR2 = new graft.store.HybridStore(spark, rootR.toString,
        incrementalPq = Some(graft.store.HybridStore.PqSpec(m = 8,
          ksub = 64, maxIter = 5, refineFactor = 4, nlist = 64,
          nprobe = 8)))
      t0 = System.nanoTime()
      require(hsR2.search(queryVec = Some(qvP)).count() > 0)
      val reopenR = (System.nanoTime() - t0) / 1e9
      println(f"[probe] pq store routed REOPEN first search: " +
        f"${reopenR}%.1f s vs ${seedR}%.1f s seed")
      require(reopenR < seedR / 3.0,
        f"routed reopen ${reopenR}%.1f s re-ran the train+encode seed")
      // ---- recall@100 at bounded nprobe (r15 verdict ask #1): the
      // routed-vs-unrouted latency gate above proves probing is FASTER;
      // this one measures what it COSTS in quality — through the
      // REOPENED store (cold-loaded pieces, the cluster-pruned scan
      // path production serves from), against exact flat ground truth
      // over the store's own live vectors (Recall.vsFlat — flat IS the
      // oracle, docs/INDEX.md:422-463). Gate: the gate's nprobe=8
      // operating point stays at or above the reference's published
      // IVFPQ recall floor (70%, docs/INDEX.md:736 / BASELINE.md), and
      // probe-all with exact refine is lossless.
      val logR = hsR2.pqLogHandle.getOrElse(
        sys.error("routed reopen did not seed the pq log"))
      val rawLive = hsR2.read().filter(col("vector").isNotNull)
        .select(col("id"), col("vector"))
      val idxR = logR.ivfPqIndex
      // exact flat ground truth computed ONCE (Recall.vsFlat would
      // recompute it per operating point — 5 needless 10M scans)
      val exactTruth = graft.core.PieceLog.matz(graft.vector.FlatKnn.search(
        rawLive, recallQs, 100, graft.vector.Metric.L2))
      def routedRecall(np: Int, rf: Int): Double =
        graft.vector.Recall.meanAtK(
          graft.vector.IvfPq.searchRefined(idxR, rawLive, recallQs, 100,
            nprobe = np, refineFactor = rf),
          exactTruth, 100)
      // The rf sweep separates the TWO loss sources:
      //   - routing loss  = probe-all minus nprobe=8 at the same refine
      //     width (neighbors outside the probed lists) — measured 0.000
      //     at 1M AND 10M this round: bounded probing costs NOTHING;
      //   - quantization loss = what the m-byte codes cost. ADC keeps
      //     k·rf candidates by CODED distance, so at fixed rf the
      //     recall@k DEGRADES as the corpus grows (10x more rows
      //     whose coded distance beats the true 100th's: 1M rf=16
      //     0.953 → 10M rf=16 0.599 this round) — the quality knob
      //     that scales is the refine width (a k·rf-row exact join)
      //     or more code bits (PqSpec.m/ksub), NEVER more probing.
      // Gate: the published IVFPQ floor (0.70, docs/INDEX.md:736) is
      // reachable within the production refine ceiling (rf <= 64), and
      // the probe REPORTS the smallest clearing width — the number a
      // 100 TB operator actually budgets. The probe's m=8/ksub=64 (8
      // bytes per 64-dim vector) is deliberately lean so per-round
      // seeds stay cheap; production raises m before rf.
      val recallAll = routedRecall(64, 4)
      val curve = Seq(4, 16, 32, 64).map(rf => rf -> routedRecall(8, rf))
      val recall4 = curve.head._2
      println(f"[probe] pq store routed recall@100 vs flat live view " +
        f"(${totalP / 1000000}%dM docs, 20 queries, nprobe=8): " +
        curve.map { case (rf, r) => f"rf=$rf $r%.3f" }.mkString(", ") +
        f"; probe-all/rf=4 ${recallAll}%.3f (routing loss " +
        f"${recallAll - recall4}%.3f)")
      require(recallAll - recall4 <= 0.05,
        f"bounded probing lost ${recallAll - recall4}%.3f recall vs " +
          "probe-all — the coarse lists are mis-routing neighbors")
      curve.sliding(2).foreach { case Seq((rfA, a), (rfB, b)) =>
        require(b >= a - 1e-9,
          f"recall not monotone in refine width: rf=$rfA $a%.3f -> " +
            f"rf=$rfB $b%.3f (the ADC candidate pool is a superset)")
      }
      val clearing = curve.find(_._2 >= 0.70)
      require(clearing.nonEmpty,
        "no refine width <= 64 reaches the reference's published IVFPQ " +
          "floor (0.70, docs/INDEX.md:736) — the codes are too lossy " +
          "for this corpus; raise m/ksub")
      println(f"[probe] pq store routed floor-clearing refine width at " +
        f"${totalP / 1000000}%dM docs: rf=${clearing.get._1} " +
        f"(recall ${clearing.get._2}%.3f)")
      // free the recall stage's checkpointed ground truth before the
      // filtered stage joins over the 10M live view (heap headroom) —
      // Dataset.unpersist is a NO-OP on a localCheckpoint'ed frame, the
      // blocks belong to the checkpointed RDD (Frames.free doc)
      graft.core.Frames.free(exactTruth)
      // ---- FILTERED serving at scale: metadata pre-filter composed
      // with the probed-list pruning, through the same reopened routed
      // store. The spec-level row (PqLogSpec "metadata-filtered vector
      // search over a routed store") pins correctness at small N; this
      // gates the 100 TB property — a ~1% candidate filter must not
      // collapse the leg back to a full scan (the candidate semi-join
      // composes WITH the cluster IN pruning, not instead of it), and
      // every served id must satisfy the filter. The comparison baseline
      // is the filtered UNROUTED store, NOT the unfiltered routed
      // number: every filtered search pays one metadata scan of the
      // live view to evaluate the predicate (first probe run measured
      // that scan at ~1.3 s on 1M — 2.2x the unfiltered serving time),
      // so comparing against an unfiltered baseline gates the metadata
      // cost, not the pruning. Routed-vs-unrouted UNDER the same filter
      // isolates exactly whether the ADC stage still prunes.
      def filteredOnce(hs: graft.store.HybridStore): Double = {
        val t = System.nanoTime()
        val rows = hs.search(
          filters = Seq(graft.filter.FilterGroup(
            Seq(graft.filter.Filter.Eq("bucket", 7L)))),
          queryVec = Some(qvP)).collect()
        require(rows.nonEmpty, "filtered search returned nothing")
        (System.nanoTime() - t) / 1e9
      }
      // PAIRED interleaved timings (r17): the old design measured the
      // routed median, closed the store, built the unrouted state, then
      // measured its median MINUTES later — but the two sides differ by
      // only ~0.3 s of ADC work at 1M while this host's interference
      // bursts swing individual searches by +-0.4 s, so the
      // time-separated comparison flipped sign run to run (1.74 vs 1.95
      // one session, 1.91 vs 1.73 the next). Both stores stay open and
      // each pair runs back-to-back, so a burst hits both sides and the
      // PAIRED DIFFERENCE cancels the common mode. Bounds: the
      // FILTERED gate keeps the 10% slack plus a 50 ms jitter floor;
      // the UNFILTERED gate (further down) allows 10% plus a 0.6 s
      // absolute term for the routed leg's fixed per-query overhead
      // (coarse assign + per-probe LUT build) that only amortizes once
      // the scan dominates — see the plan-metric gate, which is the
      // noise-free pruning check at every scale.
      val hsU2 = new graft.store.HybridStore(spark, rootU.toString,
        incrementalPq = Some(graft.store.HybridStore.PqSpec(m = 8,
          ksub = 64, maxIter = 5, refineFactor = 4)))
      // UNFILTERED routed-vs-unrouted, paired (the gate deferred from
      // the per-leg section above): pruning-not-engaging makes the
      // routed side a full code scan PLUS routing overhead, i.e. a
      // clearly positive paired difference — caught here without the
      // minutes-apart common-mode noise
      def unfilteredOnce(hs: graft.store.HybridStore): Double = {
        val t = System.nanoTime()
        require(hs.search(queryVec = Some(qvP)).count() == 10,
          "unfiltered paired search returned the wrong row count")
        (System.nanoTime() - t) / 1e9
      }
      unfilteredOnce(hsR2); unfilteredOnce(hsU2) // warm (state/pieces load)
      val uPairs = (0 until 5).map(_ =>
        (unfilteredOnce(hsR2), unfilteredOnce(hsU2)))
      val unfR = uPairs.map(_._1).sorted.apply(2)
      val unfU = uPairs.map(_._2).sorted.apply(2)
      val uDiff = uPairs.map(p => p._1 - p._2).sorted.apply(2)
      // THE pruning gate is a PLAN METRIC, not a wall clock: count the
      // rows the executed plan's codes scans actually produced. Engaged
      // pruning reads ~nprobe/nlist of the corpus (x2.5 cluster-
      // imbalance slack); defeated pruning reads all of it — an 8x
      // separation no host noise can blur, at ANY corpus size. The
      // paired wall-clock bound below stays as the scale trend check,
      // with an absolute allowance for the routed leg's fixed per-query
      // overhead (coarse assign + per-probe LUT build, ~0.2-0.4 s on a
      // reopened 1M store) that only amortizes once the scan dominates
      // (10M: routed wins by seconds; r16 margin 5.1x).
      // ONE plan walker for the warm AND cold gates (ADVICE r17 #3):
      // run the frame, then sum rows produced by its codes scans.
      // Pieces are persist()ed parquet reads: cold they serve as
      // FileSourceScan (file/row-group pruning on parquet stats), warm
      // as InMemoryTableScan (cached-batch min/max pruning) — count
      // rows produced by either.
      def codeScanRows(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        def scans(pl: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = pl match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          // AQE leaves are QueryStage WRAPPERS (children = Nil); the
          // real subtree hangs off .plan
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(m)
          case other => other.children.flatMap(scans) ++
            other.subqueries.flatMap(scans)
        }
        scans(df.queryExecution.executedPlan)
          .filter(_.output.exists(_.name == "codes"))
          .map(_.metrics("numOutputRows").value).sum
      }
      val routedScan = codeScanRows(hsR2.search(queryVec = Some(qvP)))
      val liveRows = totalP + 4 * 10000L
      // the bound is the PROBED CLUSTERS' ACTUAL MASS, not an assumed
      // nlist-balance: k-means at maxIter=5 on this corpus leaves very
      // uneven lists (first measurement: the top-8 lists for this query
      // hold ~43% of 1M rows, 3.4x the balanced 12.5%) — pruning is
      // working iff the scan reads ~the probed mass, whatever that is
      val idxR2 = hsR2.pqLogHandle.get.ivfPqIndex
      // same ranking the serving path uses (store metric is L2: query
      // prep is identity; no OPQ in this leg)
      val qArr = qvP.select(col("qvec")).head().getSeq[Float](0).toArray
      val probedSet = idxR2.coarse.ranked(qArr, 8).toSet
      val probedMass = idxR2.encoded
        .groupBy(col("cluster")).count().collect()
        .filter(r => probedSet(r.getInt(0))).map(_.getLong(1)).sum
      println(f"[probe] pq store routed vs unrouted serving, PAIRED " +
        f"(5 interleaved pairs through the reopened stores): " +
        f"${unfR}%.2f s vs ${unfU}%.2f s, median paired diff " +
        f"${uDiff}%+.2f s; routed codes-scan rows $routedScan%d vs " +
        f"probed-cluster mass $probedMass%d of $liveRows%d live")
      require(routedScan > 0,
        "no codes scan found in the routed plan — metric walk broken")
      require(routedScan <= (probedMass * 1.3 + 100000L),
        s"routed serving scanned $routedScan code rows vs a probed-" +
          s"cluster mass of $probedMass (of $liveRows live) — the " +
          "cluster IN predicate is not pruning the piece scan")
      require(uDiff <= 0.1 * unfU + 0.6,
        f"routed serving runs ${uDiff}%+.2f s slower than the unrouted " +
          f"full scan (paired median; unrouted ${unfU}%.2f s) — beyond " +
          "the fixed routing overhead; pruning lost the scan advantage")
      filteredOnce(hsR2); filteredOnce(hsU2) // warm the filtered path
      val fPairs = (0 until 5).map(_ => (filteredOnce(hsR2), filteredOnce(hsU2)))
      val filteredR = fPairs.map(_._1).sorted.apply(2)
      val filteredU = fPairs.map(_._2).sorted.apply(2)
      val fDiff = fPairs.map(p => p._1 - p._2).sorted.apply(2)
      val servedBuckets = hsR2.search(
          filters = Seq(graft.filter.FilterGroup(
            Seq(graft.filter.Filter.Eq("bucket", 7L)))),
          queryVec = Some(qvP))
        .select(col("id")).collect().map(_.getLong(0))
      require(servedBuckets.forall(_ % 97 == 7L),
        "filtered routed search leaked ids outside the filter bucket")
      // COLD-scan twin of the plan-metric gate: evict the routed pieces'
      // cache so one search reads the parquet itself — the 100 TB read
      // path, where pieces never all fit cache. The range layout must
      // prune at FILE/ROW-GROUP granularity (parquet min/max stats on
      // the cluster column) just as the cached view pruned batches:
      // rows produced by the cold FileSourceScan ~= the probed mass.
      hsR2.pqLogHandle.foreach(_.evictPieceCaches())
      val coldScan = codeScanRows(hsR2.search(queryVec = Some(qvP)))
      println(f"[probe] pq store routed COLD codes scan (piece cache " +
        f"evicted): $coldScan%d rows produced vs probed-cluster mass " +
        f"$probedMass%d of $liveRows%d live")
      require(coldScan > 0,
        "no codes scan found in the cold routed plan — metric walk broken")
      require(coldScan <= (probedMass * 1.3 + 100000L),
        s"COLD routed scan produced $coldScan code rows vs probed mass " +
          s"$probedMass — parquet file/row-group stats are not pruning " +
          "the range-partitioned layout")
      // STRUCTURAL twin of the filtered wall-clock pairing (r17 ask #7):
      // what the filtered gate exists to catch is the candidate
      // semi-join DEFEATING the cluster pruning — i.e. the filtered
      // plan's codes scans reading the corpus instead of the probed
      // mass. Gate that directly on executed-plan rows; the paired wall
      // clock below is demoted to informational (it missed its band by
      // 0.01 s this round on a host running 11% steal bursts while the
      // plan metric showed pruning fully engaged).
      val filteredScan = codeScanRows(hsR2.search(
        filters = Seq(graft.filter.FilterGroup(
          Seq(graft.filter.Filter.Eq("bucket", 7L)))),
        queryVec = Some(qvP)))
      require(filteredScan > 0,
        "no codes scan found in the filtered routed plan — metric walk broken")
      require(filteredScan <= (probedMass * 1.3 + 100000L),
        s"FILTERED routed serving scanned $filteredScan code rows vs " +
          s"probed-cluster mass $probedMass — the candidate semi-join " +
          "is defeating the cluster pruning")
      hsR2.close()
      hsU2.close()
      println(f"[probe] pq store FILTERED serving (bucket filter ~1%% of " +
        f"${totalP / 1000000}%dM docs, median of 5 interleaved pairs): " +
        f"routed ${filteredR}%.2f s vs unrouted ${filteredU}%.2f s, " +
        f"median paired diff ${fDiff}%+.2f s, routed filtered codes-scan " +
        f"rows $filteredScan%d vs probed mass $probedMass%d " +
        f"(unfiltered: ${searchR}%.2f/${searchU}%.2f s — the gap between " +
        "filtered and unfiltered on the same leg is the metadata scan)")
      if (fDiff > 0.1 * filteredU + 0.05)
        println(f"[probe] WARN filtered routed paired diff ${fDiff}%+.2f " +
          f"s exceeds the informational band (unrouted ${filteredU}%.2f " +
          "s) — plan metric above decides; on a quiet host this read " +
          "-0.05 to +0.1 s")
      // ---- the m LEVER, measured (VERDICT r16 #2) — runs LAST in the
      // stage: its seed build is heavy enough to evict the reopened
      // routed store's cached live view, which poisoned the filtered
      // gate when this section ran between recall and filtered (the
      // r16 probe-interference lesson, re-learned). The recall curve
      // shows quantization loss is the scaling loss, and the comments
      // claim production raises CODE BITS before refine width — this
      // gate puts a number behind it. Same corpus, same routing
      // (nlist=64, nprobe=8), m=16: 16 bytes/vec at rest (2x m=8), so
      // the published 0.70 floor must clear at a BOUNDED refine width
      // (rf <= 16) where m=8 needed rf=32 at 10M — the refine join
      // (k·rf exact rows per query) shrinks 2x at equal quality.
      // Ground truth is reused: the m16 store's live view is the same
      // corpus (identical mkVecsP appends), and flat truth depends only
      // on (vectors, queries).
      val m16Spec = graft.store.HybridStore.PqSpec(m = 16, ksub = 64,
        maxIter = 5, refineFactor = 4, nlist = 64, nprobe = 8)
      val (seedM, searchM, rootM) = runLeg("pqstore-routed-m16", m16Spec)
      val hsM2 = new graft.store.HybridStore(spark, rootM.toString,
        incrementalPq = Some(m16Spec))
      require(hsM2.search(queryVec = Some(qvP)).count() > 0)
      val logM = hsM2.pqLogHandle.getOrElse(
        sys.error("m16 routed reopen did not seed the pq log"))
      val rawLiveM = hsM2.read().filter(col("vector").isNotNull)
        .select(col("id"), col("vector"))
      val idxM = logM.ivfPqIndex
      // its own ground truth (the shared one was freed before the
      // filtered stage; same corpus, so the flat scan re-derives it)
      val truthM = graft.core.PieceLog.matz(graft.vector.FlatKnn.search(
        rawLiveM, recallQs, 100, graft.vector.Metric.L2))
      def m16Recall(rf: Int): Double =
        graft.vector.Recall.meanAtK(
          graft.vector.IvfPq.searchRefined(idxM, rawLiveM, recallQs, 100,
            nprobe = 8, refineFactor = rf),
          truthM, 100)
      val curveM = Seq(4, 8, 16).map(rf => rf -> m16Recall(rf))
      println(f"[probe] pq store m-LEVER at ${totalP / 1000000}%dM docs " +
        f"(m=16 vs m=8, nprobe=8): recall@100 " +
        curveM.map { case (rf, r) => f"rf=$rf $r%.3f" }.mkString(", ") +
        f"; serving ${searchM}%.2f s (m=8: ${searchR}%.2f s), seed " +
        f"${seedM}%.1f s (m=8: ${seedR}%.1f s); m=8 needed " +
        f"rf=${clearing.get._1} for the 0.70 floor")
      val clearingM = curveM.find(_._2 >= 0.70)
      require(clearingM.exists(_._1 <= 16),
        f"m=16 did not clear the reference's 0.70 IVFPQ floor at " +
          f"rf <= 16 (curve ${curveM.mkString(", ")}) — the raise-m-" +
          "before-rf production lever is not delivering")
      println(f"[probe] pq store m-LEVER verdict: m=16 clears the floor " +
        f"at rf=${clearingM.get._1} (recall ${clearingM.get._2}%.3f) — " +
        "2x at-rest bytes buy back the refine width, as the production " +
        "guidance claims")
      graft.core.Frames.free(truthM)
      hsM2.close()
    }

    if (sys.env.contains("SPARK_GRAFT_PROBECOST")) {
      // ---- liveness-probe cost across a LONG append history (VERDICT
      // r16 #3): the old probe unioned one scan per segment per
      // mutation — linear plan growth, unbounded with auto-compaction
      // off. The range-pruned probe must hold per-mutation cost FLAT
      // across 100 segments: disjoint-id appends (the monotonic ingest
      // shape) scan ZERO segments, and an everything-overlapping delete
      // early-exits after at most one chunk.
      val rootPC = java.nio.file.Files.createTempDirectory("probe-cost")
      val hsPC = new graft.store.HybridStore(spark, rootPC.toString,
        incrementalPq = Some(graft.store.HybridStore.PqSpec(m = 4,
          ksub = 16, maxIter = 3, refineFactor = 4)))
      def mkSeg(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          expr("transform(sequence(0, 15), j -> " +
            "CAST(sin(id * 0.37 + j * 1.13) AS FLOAT))").as("vector"))
      val segN = 20000L
      hsPC.append(mkSeg(0L, segN))
      val qvPC = spark.range(1).select(lit(0L).as("qid"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(sin(12345 * 0.37 + j * 1.13) AS FLOAT))").as("qvec"))
      require(hsPC.search(queryVec = Some(qvPC)).count() > 0) // seed log
      val appendT = (1 until 100).map { i =>
        val t = System.nanoTime()
        hsPC.append(mkSeg(i * segN, segN))
        (System.nanoTime() - t) / 1e9
      }
      require(hsPC.livenessSegmentsProbed == 0L,
        s"100 disjoint-range appends scanned " +
          s"${hsPC.livenessSegmentsProbed} segments — the range prune " +
          "is not engaging")
      val head10 = appendT.take(10).sum / 10
      val tail10 = appendT.takeRight(10).sum / 10
      println(f"[probe] liveness probe cost, 100-segment append history " +
        f"(${segN / 1000}%dk docs/seg, PQ leg): first-10 appends avg " +
        f"${head10}%.2f s, last-10 avg ${tail10}%.2f s, segments " +
        f"scanned by probes: ${hsPC.livenessSegmentsProbed}")
      require(tail10 < head10 * 2.0 + 0.5,
        f"per-append cost grew with segment count: first-10 " +
          f"${head10}%.2f s -> last-10 ${tail10}%.2f s")
      // one delete whose range spans all 100 segments: candidates = all,
      // but the newest-first chunked probe must early-exit in one chunk
      val probedBefore = hsPC.livenessSegmentsProbed
      hsPC.delete(Seq(5L, 100L * segN - 1L))
      val scanned = hsPC.livenessSegmentsProbed - probedBefore
      println(f"[probe] liveness probe, everything-overlapping delete " +
        f"over 100 segments: $scanned%d segments scanned (chunk = " +
        f"${hsPC.probeChunkSegs}%d)")
      require(scanned > 0 && scanned <= hsPC.probeChunkSegs.toLong,
        s"overlapping delete scanned $scanned segments — early exit " +
          "not bounding the probe to one chunk")
      // ---- ADVERSARIAL layout (r17 ask #5): a delete of ABSENT ids
      // whose range overlaps every segment — the range prune is useless
      // AND no early exit can fire. The honest `false` answer must read
      // every candidate (irreducible), but it must cost exactly TWO
      // probe plans (newest chunk + one union over the rest), never a
      // per-chunk job chain — the pre-r18 worst case was ceil(n/16)
      // serial Spark jobs per mutation.
      val plansBefore = hsPC.livenessProbePlans
      val probedBefore2 = hsPC.livenessSegmentsProbed
      val tMiss = System.nanoTime()
      // ids NEVER written whose span [-1, 100*segN+10] covers every
      // segment's range: all 100 survive the prune, none can hit
      hsPC.delete(Seq(-1L, 100L * segN + 10L))
      val missSecs = (System.nanoTime() - tMiss) / 1e9
      val missPlans = hsPC.livenessProbePlans - plansBefore
      val missScanned = hsPC.livenessSegmentsProbed - probedBefore2
      println(f"[probe] liveness probe MISS path (absent ids spanning " +
        f"all 100 segments): $missPlans%d probe plans, $missScanned%d " +
        f"segments read in ${missSecs}%.2f s")
      require(missPlans <= 2,
        s"miss-path probe ran $missPlans plans — the one-union fallback " +
          "after the first chunk is not engaging")
      require(missScanned >= 99L,
        s"miss-path probe read only $missScanned segments — an honest " +
          "`false` over an unprunable history must read every candidate")
      require(hsPC.search(queryVec = Some(qvPC)).count() > 0)
      hsPC.close()
    }

    if (sys.env.contains("SPARK_GRAFT_SERVE10M")) {
      // ---- embedded serve() at 10M docs (VERDICT r16 #5): the 1M gate
      // proved the reopened vector-only HNSW store serves from the
      // RESIDENT graph (no corpus re-collect); 10M is where the serve
      // handle's per-doc metadata representation either holds or
      // needs packing. With the id-only PACKED-META path the handle
      // collects one primitive long column (~80 MB at 10M) instead of
      // 10M boxed Rows (~1 GB) — gated here: handle build a small
      // fraction of the seed, per-query latency in the graph regime,
      // and the resident delta in the packed-ids range.
      val rootS = java.nio.file.Files.createTempDirectory("probe-serve10m")
      val hsS = new graft.store.HybridStore(spark, rootS.toString,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 64)))
      def mkVecsS(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          expr("transform(sequence(0, 15), j -> " +
            "CAST(sin(id * 0.37 + j * 1.13) AS FLOAT))").as("vector"))
      val totalS = 10000000L; val nSegS = 8
      t0 = System.nanoTime()
      (0 until nSegS).foreach(i =>
        hsS.append(mkVecsS(i * totalS / nSegS, totalS / nSegS)))
      val ingestS = (System.nanoTime() - t0) / 1e9
      val qvS = spark.range(1).select(lit(0L).as("qid"),
        expr("transform(sequence(0, 15), j -> " +
          "CAST(sin(12345 * 0.37 + j * 1.13) AS FLOAT))").as("qvec"))
      t0 = System.nanoTime()
      require(hsS.search(queryVec = Some(qvS)).count() > 0)
      val seedS = (System.nanoTime() - t0) / 1e9 // 10M graph build
      locally {
        def usedMb(): Long = {
          System.gc(); Thread.sleep(200); System.gc()
          val r = Runtime.getRuntime
          (r.totalMemory - r.freeMemory) / (1 << 20)
        }
        val memBefore = usedMb()
        t0 = System.nanoTime()
        val localS = hsS.serve()
        val serveBuildS = (System.nanoTime() - t0) / 1e9
        val memAfter = usedMb()
        val qArr = Array.tabulate(16)(j =>
          (math.sin(12345 * 0.37 + j * 1.13)).toFloat)
        val reps = 200
        val evals0 = localS.vecDistEvals.getOrElse(0L)
        t0 = System.nanoTime()
        var got = 0
        (0 until reps).foreach { _ =>
          got += localS.search(Seq.empty, Some(qArr), None).length
        }
        val perQ = (System.nanoTime() - t0) / 1e6 / reps
        val evalsPerQ =
          (localS.vecDistEvals.getOrElse(0L) - evals0) / reps.toLong
        println(f"[probe] hybrid store 10M VECTOR-ONLY embedded " +
          f"serve(): ingest ${ingestS}%.1f s, seed graph build+search " +
          f"${seedS}%.1f s, handle build ${serveBuildS}%.1f s " +
          f"(packed=${localS.packedMeta}, id table " +
          f"${localS.metaBytes / (1 << 20)}%d MB, resident graph " +
          f"reused), heap delta ~${memAfter - memBefore}%d MB " +
          f"(GC-noise-bound, informational), $perQ%.2f ms/query over " +
          f"$reps reps, $evalsPerQ%d distance evals/query")
        require(got > 0, "10M embedded serving returned nothing")
        // handle-build wall clock is INFORMATIONAL (r17 ask #7): the
        // structural gates below (packed representation + id-table
        // bytes) are what a regression to boxed rows or a graph
        // re-collect would trip; a Spark-path wall ratio on this host
        // swings 2-4x run to run.
        if (serveBuildS >= seedS / 3.0)
          println(f"[probe] WARN serve() handle build ${serveBuildS}%.1f " +
            f"s vs seed ${seedS}%.1f s — informational; structural gates " +
            "below decide")
        // the per-query gate is STRUCTURAL (r18 verdict residual: the
        // wall-clock figure moved 0.77 -> 1.62 ms/query round-over-round
        // on a loaded host while every structural gate held — the same
        // pattern r17 ask #7 converted for PQSTORE): the handle's
        // distance-eval counter. A graph-regime beam at efSearch=64 over
        // m=16 evaluates thousands of distances per query; a degenerate
        // scan evaluates the 10M corpus. Gate at 1% of corpus — two
        // orders of magnitude of slack over the expected beam cost,
        // three under the scan it exists to catch — and deterministic
        // on any host. perQ stays printed as informational context.
        require(evalsPerQ > 0L,
          "10M embedded serving reported zero distance evaluations — " +
            "the HNSW leg's counter is not wired through the handle")
        require(evalsPerQ < totalS / 100L,
          f"10M embedded serving evaluated $evalsPerQ%d distances/query " +
            f"(>=1%% of the $totalS%d-doc corpus) — not the graph-serving " +
            "regime")
        // the structural gate: heap-delta measurements on a 24g G1 heap
        // swing by GB (System.gc is advisory; regions are not
        // compacted back), so the gate checks the representation
        // itself — ONE primitive long column (80 MB at 10M), never a
        // boxed Row per doc (~1 GB)
        require(localS.packedMeta,
          "serve() handle at 10M is carrying boxed metadata rows — " +
            "the id-only packed-meta path is not engaging")
        require(localS.metaBytes < (200L << 20),
          s"packed id table ${localS.metaBytes} B at 10M — not the " +
            "8 B/doc representation")
      }
      hsS.close()
    }

    if (sys.env.contains("SPARK_GRAFT_COMPACT")) {
      // ---- ALL-LEGS compaction at 1M docs (r15 verdict ask #4): every
      // leg's collapse is individually gated elsewhere, but the real
      // worst case a 100 TB operator schedules is ONE compact() on a
      // store carrying every attached incremental leg at once. The
      // facade serves ONE vector leg at a time by design (the
      // reference's store template holds one vector index), so the
      // heaviest LEGAL combination is BM25Log (text) + the routed
      // quantized leg (PqLog) — both durable, both collapsing in the
      // same compact(). Gates: total compaction < the seed build (the
      // collapse is O(live) work the compaction already pays shapes
      // of), per-leg split reported, and the post-compaction reopen
      // LOADS the single collapsed piece per leg without replay.
      val rootC = java.nio.file.Files.createTempDirectory("probe-allcompact")
      def vecExprC(idSql: String) =
        expr("transform(sequence(0, 15), j -> CAST(" +
          s"sin((($idSql) % 64) * 7.77 + j * 1.31) * 0.8 + " +
          s"((sin(($idSql) * 12.9898 + j * 78.233) * 43758.5453) % 1.0D)" +
          " * 0.25 AS FLOAT))")
      def mkDocsC(lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"),
          concat_ws(" ",
            concat(lit("w"), col("id") % 50021),
            concat(lit("v"), col("id") % 9973),
            concat(lit("u"), col("id") % 997),
            lit("common body line")).as("text"),
          vecExprC("id").as("vector"))
      val specC = graft.store.HybridStore.PqSpec(m = 4, ksub = 64,
        maxIter = 5, refineFactor = 4, nlist = 64, nprobe = 8)
      def openC() = new graft.store.HybridStore(spark, rootC.toString,
        incrementalPq = Some(specC))
      val hsC = openC()
      val totalC = 1000000L
      hsC.append(mkDocsC(0L, totalC))
      val qvC = spark.range(1).select(lit(0L).as("qid"),
        vecExprC("12345").as("qvec"))
      t0 = System.nanoTime()
      require(hsC.search(queryVec = Some(qvC),
        queryText = Some("w123 v55 common")).count() > 0)
      val seedC = (System.nanoTime() - t0) / 1e9 // tokenize + train + encode
      // mutation folds on BOTH legs: 4 appends (text+vector) + 1 delete
      (0 until 4).foreach(c =>
        hsC.append(mkDocsC(totalC + c * 10000L, 10000L)))
      hsC.deleteFrom(spark.range(0, totalC, 100).select(col("id")))
      require(hsC.search(queryVec = Some(qvC),
        queryText = Some("w123")).count() > 0)
      t0 = System.nanoTime()
      hsC.compact()
      val compactC = (System.nanoTime() - t0) / 1e9
      val split = hsC.lastCompactSecs
      println(f"[probe] ALL-LEGS compact at 1M (text + routed PQ, " +
        f"4 append folds + 10k deletes): total ${compactC}%.1f s, split " +
        split.map { case (k, v) => f"$k=$v%.1f" }.mkString("[", " ", " s]") +
        f" (seed was ${seedC}%.1f s)")
      require(compactC < seedC,
        f"all-legs compaction ${compactC}%.1f s exceeds the seed build " +
          f"${seedC}%.1f s — a collapse is re-deriving instead of " +
          "rewriting")
      require(split.contains("text") && split.contains("pq"),
        s"compaction split missing a leg: $split")
      // post-compaction reopen: one durable piece per leg, loaded —
      // never replayed (the collapse IS the checkpoint)
      hsC.close()
      val hsC2 = openC()
      t0 = System.nanoTime()
      require(hsC2.search(queryVec = Some(qvC),
        queryText = Some("w123")).count() > 0)
      val reopenC = (System.nanoTime() - t0) / 1e9
      println(f"[probe] ALL-LEGS post-compaction reopen first search: " +
        f"${reopenC}%.1f s vs ${seedC}%.1f s seed " +
        f"(textPieces=${hsC2.textLogPieces}, " +
        f"pqPieces=${hsC2.pqLogHandle.map(_.pieceCount).getOrElse(-1)})")
      require(reopenC < seedC / 3.0,
        f"post-compaction reopen ${reopenC}%.1f s re-derived a leg " +
          "instead of loading the collapsed pieces")
      require(hsC2.textLogPieces == 1,
        s"text log reopened with ${hsC2.textLogPieces} pieces, want 1")
      require(hsC2.pqLogHandle.exists(_.pieceCount == 1),
        "pq log reopened with piece count != 1")
      hsC2.close()
    }

    if (sys.env.contains("SPARK_GRAFT_HNSW")) {
      // release the quantizer-stage caches first: at 10M x 128 the cluster
      // assignment + code frames hold ~7 GB the graph build then OOMs on —
      // they are never read again below
      assigned.unpersist()
      encoded.unpersist()
      fullEncoded.unpersist()
      t0 = System.nanoTime()
      val hnsw = Hnsw.build(vecs)
      println(f"[probe] hnsw build (1M, ${cpus} shards): ${(System.nanoTime() - t0) / 1e9}%.1f s")
      time("hnsw ef=200, batch-32", withRecall)(
        Hnsw.searchIndex(hnsw, queries, 100))
      time("hnsw + 10%-filter")(
        Hnsw.searchIndex(hnsw, queries, 100, efSearch = 400,
          candidates = Some(cands)))

      // embedded serving: graphs collected into the driver JVM, searched
      // without job scheduling — the reference's own deployment shape.
      // ef sweep: efSearch, the total beam split across the shards
      // (Hnsw.shardBeam), is the latency/recall knob when the union of
      // nShards local top-k feeds the merge — measure both so the
      // operating point is a documented choice, not a default
      t0 = System.nanoTime()
      val serving = Hnsw.serve(hnsw)
      println(f"[probe] hnsw serve() collect: ${(System.nanoTime() - t0) / 1e9}%.1f s (${serving.size} nodes, ${serving.byteSize / 1048576.0}%.0f MB resident = ${serving.byteSize / (n * d * 4.0)}%.2fx raw f32; ref 634 MB = 1.30x)")
      val qs = queries.select(col("qid").cast("long"), col("qvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val truthSets: Map[Long, Set[Long]] = truth.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val reps = 10
      Seq(400, 200, 120, 80, 40, 20).foreach { ef =>
        qs.foreach { case (_, qv) => serving.search(qv, 100, ef) } // JIT warm
        t0 = System.nanoTime()
        var i = 0
        while (i < reps) {
          qs.foreach { case (_, qv) => serving.search(qv, 100, ef) }
          i += 1
        }
        val msq = (System.nanoTime() - t0) / 1e6 / (reps * qs.length)
        val rec = Recall.meanAtKLocal(
          qs.map { case (qid, qv) =>
            qid -> serving.search(qv, 100, ef).map(_._1) },
          truthSets, 100)
        println(f"[probe] hnsw EMBEDDED single-query ef=$ef%3d: ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%% (no Spark jobs)")
      }

      // f16 storage quantizer on the SAME graphs: half the vector bytes,
      // edges untouched — measure the latency/recall cost of the LUT path
      t0 = System.nanoTime()
      val serving16 = Hnsw.serveF16(hnsw)
      println(f"[probe] hnsw serveF16() collect+quantize: ${(System.nanoTime() - t0) / 1e9}%.1f s (${serving16.byteSize / 1048576.0}%.0f MB resident = ${serving16.byteSize / (n * d * 4.0)}%.2fx raw f32)")
      Seq(200, 80).foreach { ef =>
        qs.foreach { case (_, qv) => serving16.search(qv, 100, ef) } // warm
        t0 = System.nanoTime()
        var i = 0
        while (i < reps) {
          qs.foreach { case (_, qv) => serving16.search(qv, 100, ef) }
          i += 1
        }
        val msq = (System.nanoTime() - t0) / 1e6 / (reps * qs.length)
        val rec = Recall.meanAtKLocal(
          qs.map { case (qid, qv) =>
            qid -> serving16.search(qv, 100, ef).map(_._1) },
          truthSets, 100)
        println(f"[probe] hnsw EMBEDDED f16 ef=$ef%3d: ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%%")
      }
      t0 = System.nanoTime()
      val serving8 = Hnsw.serveInt8(hnsw)
      println(f"[probe] hnsw serveInt8() collect+quantize: ${(System.nanoTime() - t0) / 1e9}%.1f s (${serving8.byteSize / 1048576.0}%.0f MB resident = ${serving8.byteSize / (n * d * 4.0)}%.2fx raw f32)")
      Seq(200, 80).foreach { ef =>
        qs.foreach { case (_, qv) => serving8.search(qv, 100, ef) } // warm
        t0 = System.nanoTime()
        var i = 0
        while (i < reps) {
          qs.foreach { case (_, qv) => serving8.search(qv, 100, ef) }
          i += 1
        }
        val msq = (System.nanoTime() - t0) / 1e6 / (reps * qs.length)
        val rec = Recall.meanAtKLocal(
          qs.map { case (qid, qv) =>
            qid -> serving8.search(qv, 100, ef).map(_._1) },
          truthSets, 100)
        println(f"[probe] hnsw EMBEDDED int8 ef=$ef%3d: ${msq}%.2f ms/query  recall@100=${rec * 100}%5.1f%%")
      }

      // any-index embedded hybrid: the same filter->vec+text->RRF search
      // with the vector leg served by the HNSW graph instead of the flat
      // scan (needs SPARK_GRAFT_BM25 for the text corpus)
      probeCorpus.foreach { corpus =>
        import graft.filter.{Filter, FilterGroup}
        import graft.hybrid.Hybrid
        val meta = spark.range(1000000L).select(col("id"),
          expr("CASE CAST(id % 4 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de' " +
            "WHEN 2 THEN 'fr' ELSE 'zh' END").as("lang"),
          (lit(50) + col("id") % 400).as("n_chars"))
        val filters = Seq(FilterGroup(Seq(
          Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100))))
        // selective filter (~19% pass): widen ef so the unfiltered beam
        // still surfaces k in-filter results (documented HNSW contract)
        val hh = Hybrid.serveHnsw(meta, hnsw, corpus,
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf), efSearch = 400)
        val texts = (0 until 32).map(i =>
          s"w${(i * 7919) % 50000} w${(i * 104729 + 7919) % 50000} w${i % 50000}")
        val hq2 = qs.zip(texts)
        hq2.foreach { case ((_, qv), qt) => hh.search(filters, Some(qv), Some(qt)) }
        t0 = System.nanoTime()
        var r = 0
        while (r < reps) {
          hq2.foreach { case ((_, qv), qt) => hh.search(filters, Some(qv), Some(qt)) }
          r += 1
        }
        println(f"[probe] hybrid EMBEDDED hnsw-leg ef=400 (filter+vec+text RRF): ${(System.nanoTime() - t0) / 1e6 / (reps * hq2.length)}%.2f ms/query (no Spark jobs)")
      }
    }
    spark.stop()
  }
}
