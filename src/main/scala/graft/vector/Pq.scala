package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization: per-subspace k-means codebooks + asymmetric
  * distance computation (ADC).
  *
  * Reference: `/root/reference/pq_index.go:193-247` (train: M independent
  * subspace k-means with Ksub=2^nbits centroids, L2²),
  * `pq_index.go:439-507` (encode), `pq_index_search.go:218-324` (ADC:
  * per-query M×Ksub lookup table, dist = sqrt(Σ_m table[m][code[m]])).
  *
  * Spark mapping: codes are an `ARRAY<INT>` column (uint8 has no exact
  * Spark type — SURVEY.md §1.1); codebooks and per-query distance tables
  * are driver-side arrays broadcast to the scan. The ADC scan is a full
  * pass over codes (no pruning — same as the reference), but 64-dim float
  * vectors shrink to M bytes, so at 100 TB the scan reads M/(4·dim) of the
  * raw bytes (e.g. 1/32 at M=8, dim=64).
  */
object Pq {

  /** Metric gate, reference parity (pq_index.go:135-168 accepts the full
    * `NewDistance` set). PQ handles cosine purely by PREPROCESSING — rows
    * normalized at train/encode, the query at search (distance.go:70-81 via
    * pq_index.go:278-281 / pq_index_search.go:236-240) — while the ADC
    * tables and final sqrt stay L2: the reported cosine-PQ score is the
    * EUCLIDEAN distance between unit vectors (= sqrt(2·(1−cos))), exactly
    * the reference's pq_index_search.go:295 behavior. L2Squared likewise
    * inherits the hardcoded sqrt there, so it scores identically to L2.
    * Zero vectors pass through normalization unchanged
    * ([[graft.expr.Distances.normalized]]'s documented zero case) rather
    * than erroring row-by-row inside a batch job. */
  private[vector] def checkMetric(metric: Metric): Unit = metric match {
    case Metric.L2 | Metric.L2Sq | Metric.Cosine => ()
    case other => throw new IllegalArgumentException(
      s"PQ supports L2, L2Sq, Cosine (reference distance.go:94-107); got $other")
  }

  /** Normalize the vector column for cosine (float result — downstream
    * kernels expect ARRAY<FLOAT>); identity otherwise. */
  private[vector] def prepData(df: DataFrame, metric: Metric): DataFrame =
    metric match {
      case Metric.Cosine => df.withColumn("vector",
        // normalize-at-insert; zero vectors pass through UNCHANGED — a
        // deliberate, spec-pinned departure from the reference's per-row
        // Add error (ErrZeroVector, distance.go:11-12): a 100 TB batch
        // ingest must not die over one degenerate row. The rows are
        // harmless at rest (cosine distance to a zero vector is NULL, so
        // they never surface in results — DegenerateInputSpec pins the
        // drop-out); the reference's fail-fast IS enforced where it is
        // cheap and per-row: direct QUERY vectors (VectorSearch) and
        // per-node graph inserts (Hnsw.LocalGraph).
        graft.expr.Distances.normalized(col("vector")).cast("array<float>"))
      case _ => df
    }

  private[vector] def prepQuery(metric: Metric): Array[Float] => Array[Float] =
    metric match {
      case Metric.Cosine => Metric.unit
      case _             => identity
    }

  final case class Model(m: Int, ksub: Int, dsub: Int,
                         codebooks: Array[Array[Array[Float]]],
                         metric: Metric = Metric.L2,
                         rotation: Option[Array[Array[Float]]] = None) {

    /** OPQ rotation (identity when None) — applied AFTER the metric's
      * preprocessing, on both the encode and the query path, so codes
      * and distance tables live in the same rotated space. Orthogonal ⇒
      * distances are preserved: the ADC score space is unchanged. */
    private def rot(v: Array[Float]): Array[Float] = rotation match {
      case None => v
      case Some(mat) =>
        val out = new Array[Float](mat.length)
        var i = 0
        while (i < mat.length) {
          val row = mat(i)
          var s = 0.0
          var j = 0
          while (j < row.length) { s += row(j).toDouble * v(j); j += 1 }
          out(i) = s.toFloat
          i += 1
        }
        out
    }

    /** Encode one vector, applying the model's OWN preprocessing first —
      * a cosine model's codebooks live in unit space, so quantizing a raw
      * vector against them would pick wrong codewords. Bit-identical to
      * the DataFrame [[Pq.encode]] path ([[Metric.unit]] matches the
      * column kernel's arithmetic). */
    // wrong-dim inputs must fail FAST: copyOfRange zero-pads past the
    // array end, so a short vector would silently encode (and a short
    // query silently score) against zero-filled subspaces — the
    // reference rejects the mismatch at Add and at query preparation
    // (pq_index_test.go:288-318, flat_index_search.go:231-233)
    private def checkDim(v: Array[Float]): Array[Float] = {
      require(v.length == m * dsub,
        s"vector dim ${v.length} != index dim ${m * dsub}")
      v
    }

    def encode(v0: Array[Float]): Array[Int] = {
      val v = rot(if (metric == Metric.Cosine) Metric.unit(checkDim(v0))
                  else checkDim(v0))
      Array.tabulate(m) { s =>
        val sub = java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)
        Kmeans.nearest(sub, codebooks(s))
      }
    }

    /** M×Ksub squared-distance table for a query (already metric-prepped
      * by the caller; the OPQ rotation applies here so every search path
      * shares it) — pq_index_search.go:243-264. */
    def distTable(q0: Array[Float]): Array[Array[Double]] = {
      val q = rot(checkDim(q0))
      Array.tabulate(m) { s =>
        val sub = java.util.Arrays.copyOfRange(q, s * dsub, (s + 1) * dsub)
        Array.tabulate(ksub)(j => Kmeans.l2sq(sub, codebooks(s)(j)))
      }
    }

    def adc(table: Array[Array[Double]], codes: Array[Int]): Double = {
      var s = 0.0
      var i = 0
      while (i < m) { s += table(i)(codes(i)); i += 1 }
      math.sqrt(s)
    }
  }

  /** Persist a PQ index: codebooks as (subspace, centroid, vec) rows plus
    * the encoded codes — the columnar re-expression of the reference's
    * binary PQ serialization (pq_index.go follows the
    * flat_index.go:366-463 write pattern: header + codebooks + codes). */
  def write(model: Model, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    writeCodebooks(spark, s"$path/codebooks", model)
    // OPQ rotation rides along — an artifact read without it would
    // decode codes against un-rotated queries
    writeRotation(spark, s"$path/_rotation", model.rotation)
    encoded.write.mode("overwrite").parquet(s"$path/codes")
    writeMeta(spark, path, s"""{"metric":"${metricName(model.metric)}"}""")
  }

  /** Persist a model's codebooks as `(subspace, centroid, vec)` rows. */
  private[vector] def writeCodebooks(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      model: Model): Unit = {
    import spark.implicits._
    val cb = for {
      s <- 0 until model.m
      j <- model.codebooks(s).indices
    } yield (s, j, model.codebooks(s)(j).toSeq)
    cb.toDF("subspace", "centroid", "vec")
      .repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** The codebooks [[writeCodebooks]] wrote, indexed `[subspace][centroid]`;
    * empty for an empty dataset. */
  private[vector] def readCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(dir)
      .select(col("subspace"), col("centroid"), col("vec")).collect()
    if (rows.isEmpty) return Array.empty
    val codebooks = Array.ofDim[Array[Float]](
      rows.iterator.map(_.getInt(0)).max + 1,
      rows.iterator.map(_.getInt(1)).max + 1)
    rows.foreach { r =>
      codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    codebooks
  }

  /** Persist an OPQ rotation (row-indexed) under `dir`. A rotation-LESS
    * model DELETES any stale rotation a previous write left there:
    * resurrecting an old rotation onto new codebooks or centroids
    * rotates queries into a space they were never trained in — silently
    * wrong neighbors. */
  private[vector] def writeRotation(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      rotation: Option[Array[Array[Float]]]): Unit =
    rotation match {
      case Some(r) =>
        import spark.implicits._
        r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
          .toDF("i", "vec")
          .repartition(1).write.mode("overwrite").parquet(dir)
      case None =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** The rotation [[writeRotation]] committed under `dir`, if any. */
  private[vector] def readRotation(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Array[Array[Float]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(dir).orderBy(col("i"))
      .collect().map(_.getSeq[Float](1).toArray))
  }

  /** Total over all five [[Metric]] cases so ANY built index round-trips
    * its metric through persistence — a catch-all that mapped
    * CosinePreNorm/DotSim to "l2" would silently re-score a reloaded
    * DotSim IVF index in ascending L2. */
  private[vector] def metricName(m: Metric): String = m match {
    case Metric.L2Sq          => "l2sq"
    case Metric.Cosine        => "cosine"
    case Metric.CosinePreNorm => "cosine_prenorm"
    case Metric.DotSim        => "dot"
    case Metric.L2            => "l2"
  }

  private[vector] def metricOf(s: String): Metric = s match {
    case "l2sq"           => Metric.L2Sq
    case "cosine"         => Metric.Cosine
    case "cosine_prenorm" => Metric.CosinePreNorm
    case "dot"            => Metric.DotSim
    case _                => Metric.L2
  }

  private[vector] def writeMeta(spark: org.apache.spark.sql.SparkSession,
                                path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  /** Parse the metric recorded under `key` in an artifact's meta entry,
    * FAILING LOUDLY when the key is absent/unparseable — a
    * silently-defaulted metric serves wrong neighbors with no error,
    * while the reference's ReadFrom fails on a malformed blob
    * (flat_index.go:416-427). One contract for every index reader.
    *
    * A missing file or key is NOT silently defaulted, even for legacy
    * artifacts: a lost meta is indistinguishable from a truncated copy,
    * and a cosine index silently served as L2 returns wrong neighbors
    * with no error. A pre-metric-recording artifact (or one whose meta
    * was genuinely lost but whose metric the operator knows) migrates
    * explicitly via [[stampMetric]] — a one-time, human-asserted stamp,
    * never an implicit guess. */
  private[vector] def requiredMetric(spark: org.apache.spark.sql.SparkSession,
                                     path: String,
                                     key: String = "metric"): Metric = {
    val known = Set("l2", "l2sq", "cosine", "cosine_prenorm", "dot")
    val pat = ("\"" + key + "\":\"(\\w+)\"").r
    pat.findFirstMatchIn(readMeta(spark, path)).map(_.group(1)) match {
      case Some(name) if known(name) => metricOf(name)
      case Some(bad) => throw new IllegalStateException(
        s"index at $path records unknown metric '$bad' under '$key' — " +
          "artifact written by an incompatible version or corrupt")
      case None => throw new IllegalStateException(
        s"index at $path has no parseable '$key' in _graft_meta.json — " +
          "artifact corrupt, incomplete, or written before metrics were " +
          "recorded; if the metric is known, migrate the artifact once " +
          "with Pq.stampMetric(spark, path, metric)")
    }
  }

  /** One-time migration for a legacy artifact written before metrics were
    * recorded (or whose meta was lost): stamps `path/_graft_meta.json`
    * with the OPERATOR-ASSERTED metric so every reader's loud-fail
    * contract is satisfied. Existing non-metric meta entries (e.g. HNSW's
    * m/efConstruction) are preserved; an existing metric record is NOT
    * silently replaced — re-stamping a different metric on an already
    * stamped artifact throws, because that is a re-score-space rewrite,
    * not a migration. */
  def stampMetric(spark: org.apache.spark.sql.SparkSession,
                  path: String, metric: Metric): Unit = {
    val existing = readMeta(spark, path)
    val pat = "\"metric\":\"(\\w+)\"".r
    pat.findFirstMatchIn(existing).map(_.group(1)) match {
      case Some(name) if name == metricName(metric) => () // idempotent
      case Some(other) => throw new IllegalStateException(
        s"index at $path already records metric '$other' — refusing to " +
          s"re-stamp it as '${metricName(metric)}' (rebuild the index to " +
          "change its score space)")
      case None =>
        val entry = s""""metric":"${metricName(metric)}""""
        val merged =
          if (existing.trim == "{}" || existing.trim.isEmpty) s"{$entry}"
          else existing.trim.stripSuffix("}") + s",$entry}"
        writeMeta(spark, path, merged)
    }
  }

  private[vector] def readMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "{}"
    val in = fs.open(p)
    val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    txt
  }

  /** Load a persisted PQ index; the restored model is bit-identical (float
    * centroids survive the parquet round trip exactly). */
  def read(spark: org.apache.spark.sql.SparkSession,
           path: String): (Model, DataFrame) = {
    val codebooks = readCodebooks(spark, s"$path/codebooks")
    val (m, ksub) = (codebooks.length, codebooks(0).length)
    val dsub = codebooks(0)(0).length
    val met = requiredMetric(spark, path)
    val rot = readRotation(spark, s"$path/_rotation")
    (Model(m, ksub, dsub, codebooks, met, rot),
      spark.read.parquet(s"$path/codes"))
  }

  /** The reference's automatic PQ shape (`CalculatePQParams`,
    * pq_index.go:50-67): prefer `m = 8`; when 8 does not divide the
    * dimension, take the smallest divisor in [8, 32]; otherwise fall back
    * to the reference's hard-coded `m = 4` (which, as there, may STILL
    * not divide a pathological dimension — [[train]] then rejects it
    * loudly instead of mis-slicing). Returns `(m, nbits)` with nbits
    * fixed at 8 (256 centroids per subspace, the standard codebook). */
  def defaultParams(dim: Int): (Int, Int) = {
    require(dim > 0, s"dim $dim must be positive")
    val m =
      if (dim % 8 == 0) 8
      else (8 to 32).find(dim % _ == 0).getOrElse(4)
    (m, 8)
  }

  /** Train M independent subspace codebooks (pq_index.go:193-247; needs
    * >= ksub training rows). */
  def train(data: DataFrame, m: Int, ksub: Int = 256,
            maxIter: Int = 20, metric: Metric = Metric.L2): Model = {
    checkMetric(metric)
    // validate m BEFORE the modulus: dim % 0 is an ArithmeticException,
    // not the loud shape error the reference's NewPQIndex gives
    // (pq_index_test.go:46-109 "zero M"/"negative M")
    require(m > 0, s"m=$m must be positive")
    val prepped = prepData(data, metric)
    val dim = prepped.select(size(col("vector"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // all M subspace codebooks in one data pass per iteration
    val codebooks = Kmeans.trainSubspaces(prepped, m, dsub, ksub, maxIter)
    // Kmeans clamps k to the row count; take ksub from the trained
    // codebook so distTable never indexes past the real centroid count.
    Model(m, codebooks(0).length, dsub, codebooks, metric)
  }

  /** OPQ: learn an orthogonal rotation that minimizes PQ quantization
    * error BEFORE the subspace split — the published fix for PQ's recall
    * collapse when the data's correlation structure straddles subspace
    * boundaries (Ge, He, Ke, Sun, "Optimized Product Quantization",
    * CVPR 2013 — the non-parametric alternation: fix R, train codebooks;
    * fix codebooks, solve the orthogonal Procrustes problem via SVD).
    *
    * The alternation runs DRIVER-SIDE on a bounded sample (rotation
    * learning is a dim×dim problem; FAISS's OPQMatrix trains on a sample
    * the same way), then the FINAL codebooks train distributed over the
    * rotated full corpus — so corpus scale touches only the existing
    * one-pass-per-iteration subspace trainer plus one codegen'd rotation
    * per row. The returned model carries the rotation; [[encode]],
    * [[Model.encode]] and [[Model.distTable]] all apply it, and the ADC
    * score space is UNCHANGED (orthogonal transforms preserve L2), so
    * every downstream path — search, refine, serve, persistence — works
    * untouched.
    *
    * Supports L2/L2Sq (checkMetric also admits Cosine, but rotating unit
    * vectors keeps them unit, so cosine composes too). */
  def trainOpq(data: DataFrame, m: Int, ksub: Int = 256,
               maxIter: Int = 20, opqIters: Int = 8,
               sampleSize: Int = 16384,
               metric: Metric = Metric.L2): Model = {
    checkMetric(metric)
    require(m > 0, s"m=$m must be positive")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val prepped = prepData(data, metric)
    val sample = opqSample(prepped, sampleSize)
    require(sample.nonEmpty, "OPQ training needs a non-empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val rF = learnOpqRotation(sample, m, ksub, opqIters)
    // final codebooks: DISTRIBUTED train over the rotated full corpus
    // (the sample only shaped the rotation)
    val rotated = prepped.select(col("id"),
      graft.expr.CentroidKernels.rotateVec(col("vector"), rF).as("vector"))
    val codebooks = Kmeans.trainSubspaces(rotated, m, dsub, ksub, maxIter)
    Model(m, codebooks(0).length, dsub, codebooks, metric, Some(rF))
  }

  /** Rotation-training sample: smallest `sampleSize` rows by id-hash —
    * a deterministic pseudorandom slice that SPANS the corpus (plans as
    * TakeOrderedAndProject: per-partition top-K, no sort shuffle). A
    * plain limit(N) would take the first N rows in partition order, and
    * on a corpus ordered/partitioned by cluster the rotation would be
    * learned from one biased cluster (FAISS's OPQMatrix likewise trains
    * on a random sample). */
  private[vector] def opqSample(prepped: DataFrame,
                                sampleSize: Int): Array[Array[Float]] =
    prepped
      .select(col("vector"), xxhash64(col("id")).as("_h"))
      .orderBy(col("_h")).limit(sampleSize)
      .select(col("vector"))
      .collect().map(_.getSeq[Float](0).toArray)

  /** Driver-side rotation apply (row-convention `out_i = Σ_j R[i][j]·v_j`,
    * the same convention as the codegen RotateVec kernel and
    * [[Model]]'s query-side rot). */
  private[vector] def applyRotation(r: Array[Array[Float]],
                                    v: Array[Float]): Array[Float] = {
    val dim = r.length
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val ri = r(i)
      var s = 0.0; var j = 0
      // double-precision product, matching the kernel bit-for-bit (a
      // float-rounded product differs at the last ulp from kernel-rotated
      // vectors)
      while (j < v.length) { s += ri(j).toDouble * v(j); j += 1 }
      out(i) = s.toFloat; i += 1
    }
    out
  }

  /** Transpose apply `out_j = Σ_i R[i][j]·v_i` — the inverse of
    * [[applyRotation]] for an orthogonal R (Rᵀ = R⁻¹), same
    * double-precision accumulation convention. */
  private[vector] def applyRotationT(r: Array[Array[Float]],
                                     v: Array[Float]): Array[Float] = {
    val dim = r.length
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0; var i = 0
      while (i < v.length) { s += r(i)(j).toDouble * v(i); i += 1 }
      out(j) = s.toFloat; j += 1
    }
    out
  }

  /** The OPQ rotation learner shared by [[trainOpq]] (standalone PQ) and
    * [[IvfPq.buildOpq]] (FAISS's OPQMatrix-before-IVFPQ composition):
    * PCA + eigenvalue-allocation init, then the non-parametric
    * fix-R/fix-codebooks alternation, all on the bounded driver-side
    * sample. Returns the dim×dim orthogonal rotation (row convention). */
  private[vector] def learnOpqRotation(sample: Array[Array[Float]], m: Int,
                                       ksub: Int,
                                       opqIters: Int): Array[Array[Float]] = {
    val dim = sample(0).length
    val dsub = dim / m
    val n = sample.length
    val kEff = math.min(ksub, n)

    import breeze.linalg.{eigSym, svd, DenseMatrix}
    // Parametric init (the paper's closed-form solution under a Gaussian
    // model): rotate onto the PCA basis, then allocate principal
    // directions to subspaces balancing the PRODUCT of eigenvalues per
    // subspace (eigenvalue allocation, Ge et al. §4) — so no subspace is
    // stuck quantizing all the variance while another quantizes noise.
    // The non-parametric alternation below then refines from there
    // (identity init stalls in a local minimum on exactly the rotated
    // geometry OPQ exists for).
    val cov = DenseMatrix.zeros[Double](dim, dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        val vi = v(i).toDouble
        var j = 0
        while (j < dim) { cov(i, j) += vi * v(j); j += 1 }
        i += 1
      }
    }
    cov :/= n.toDouble
    val es = eigSym(cov)
    // eigenvalues ascending from eigSym; walk descending, greedy-assign
    // to the subspace with the smallest log-product and free slots
    val order = (0 until dim).sortBy(i => -es.eigenvalues(i))
    val logProd = new Array[Double](m)
    val slots = new Array[Int](m)
    val assign = Array.ofDim[Int](m, dsub)
    order.foreach { e =>
      val s = (0 until m).filter(slots(_) < dsub).minBy(logProd)
      assign(s)(slots(s)) = e
      slots(s) += 1
      logProd(s) += math.log(math.max(es.eigenvalues(e), 1e-12))
    }
    var R: Array[Array[Double]] = Array.tabulate(dim) { i =>
      val e = assign(i / dsub)(i % dsub) // row = the assigned eigenvector
      Array.tabulate(dim)(j => es.eigenvectors(j, e))
    }
    def applyR(v: Array[Float]): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        var s = 0.0; var j = 0
        while (j < dim) { s += R(i)(j) * v(j); j += 1 }
        out(i) = s.toFloat; i += 1
      }
      out
    }

    var books: Array[Array[Array[Float]]] = null
    (0 until opqIters).foreach { _ =>
      val xr = sample.map(applyR)
      books = localSubspaceKmeans(xr, m, dsub, kEff, iters = 10)
      // reconstructions in rotated space
      val y = xr.map { v =>
        val rec = new Array[Float](dim)
        var s = 0
        while (s < m) {
          val c = books(s)(Kmeans.nearestSlice(v, s * dsub, books(s)))
          System.arraycopy(c, 0, rec, s * dsub, dsub)
          s += 1
        }
        rec
      }
      // orthogonal Procrustes: max_R tr(R·A) with A = X·Yᵀ (X raw
      // columns, Y reconstruction columns) ⇒ SVD A = U·S·Vᵀ, R = V·Uᵀ
      val a = DenseMatrix.zeros[Double](dim, dim)
      var t = 0
      while (t < n) {
        val x = sample(t); val yy = y(t)
        var j = 0
        while (j < dim) {
          val xj = x(j).toDouble
          if (xj != 0.0) {
            var i = 0
            while (i < dim) { a(j, i) += xj * yy(i).toDouble; i += 1 }
          }
          j += 1
        }
        t += 1
      }
      val s = svd(a)
      val rNew = s.Vt.t * s.U.t
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { R(i)(j) = rNew(i, j); j += 1 }
        i += 1
      }
    }

    R.map(_.map(_.toFloat))
  }

  /** Driver-local per-subspace Lloyd's over a bounded sample — only used
    * inside the OPQ alternation (the final codebooks retrain distributed).
    * Deterministic uniform-spaced init, same convention as
    * [[Kmeans.train]]; empty clusters keep their previous centroid. */
  private def localSubspaceKmeans(xr: Array[Array[Float]], m: Int, dsub: Int,
                                  k: Int, iters: Int):
      Array[Array[Array[Float]]] = {
    val n = xr.length
    // subspaces are independent — run them on parallel driver threads
    // (this inner trainer dominates OPQ wall-clock otherwise)
    val out = new Array[Array[Array[Float]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { s =>
      out(s) = localKmeansOne(xr, s, dsub, k, iters)
    }
    out
  }

  private def localKmeansOne(xr: Array[Array[Float]], s: Int, dsub: Int,
                             k: Int, iters: Int): Array[Array[Float]] = {
    val n = xr.length
    locally {
      val off = s * dsub
      val cents = Array.tabulate(k) { c =>
        java.util.Arrays.copyOfRange(xr((c.toLong * n / k).toInt), off, off + dsub)
      }
      (0 until iters).foreach { _ =>
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Long](k)
        var t = 0
        while (t < n) {
          val c = Kmeans.nearestSlice(xr(t), off, cents)
          var j = 0
          while (j < dsub) { sums(c)(j) += xr(t)(off + j); j += 1 }
          counts(c) += 1
          t += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dsub) {
              cents(c)(j) = (sums(c)(j) / counts(c)).toFloat; j += 1
            }
          }
          c += 1
        }
      }
      cents
    }
  }

  /** Encode vectors to code arrays (codegen'd kernel — runs once per
    * ingested row, pq_index.go:439-507). Rows are preprocessed per the
    * model's metric (normalize-at-insert for cosine, pq_index.go:278-281). */
  def encode(data: DataFrame, model: Model): DataFrame = {
    val prepped = prepData(data, model.metric)
    // OPQ models rotate before the subspace split — one extra codegen'd
    // matrix-vector product per ingested row, composing with the same
    // encode kernel (the codebooks live in rotated space)
    val vcol = model.rotation match {
      case Some(r) => graft.expr.CentroidKernels.rotateVec(col("vector"), r)
      case None    => col("vector")
    }
    prepped.select(col("id"),
      graft.expr.CentroidKernels.pqEncode(vcol, model.codebooks).as("codes"))
  }

  /** Incremental DELETE with flush semantics: the reference soft-deletes
    * codes (Remove marks, Flush purges — pq_index_test.go:350-454); the
    * flushed state is the encoded frame minus those ids. Codebooks are
    * train-time state and survive, like the reference's Flush. */
  def delete(encoded: DataFrame, ids: Seq[Long]): DataFrame =
    encoded.filter(!col("id").isin(ids: _*))

  /** ADC top-k search over encoded rows — the scan is a codegen'd
    * [[graft.expr.AdcDist]] kernel, not a UDF.
    *
    * @param threshold  keep results with ADC distance <= threshold
    *                   (pq_index_search.go:290-293)
    * @param candidates optional (id) frame restricting the searchable set
    *                   (WithDocumentIDs, pq_index_search.go:283-286) —
    *                   semi-join before the ADC scan
    */
  def search(encoded: DataFrame, model: Model, queries: DataFrame,
             k: Int, threshold: Option[Double] = None,
             candidates: Option[DataFrame] = None,
             sorted: Boolean = true): DataFrame = {
    val spark = encoded.sparkSession
    val prep = prepQuery(model.metric)
    val qs = Ivf.collectQueries(queries)
    val tables: Map[Long, Array[Array[Double]]] =
      qs.map { case (qid, qv) => qid -> model.distTable(prep(qv)) }.toMap
    import spark.implicits._
    val qids = qs.map(_._1).toSeq.toDF("qid")
    val base = candidates match {
      case Some(c) => encoded.join(c.select(col("id")), Seq("id"), "left_semi")
      case None    => encoded
    }
    val scored = base.crossJoin(broadcast(qids))
      .select(col("qid"), col("id"),
        graft.expr.AdcDist(col("qid"), col("codes"), tables).as("score"))
    val thresholded = threshold match {
      case Some(t) => scored.filter(col("score") <= t)
      case None    => scored
    }
    FlatKnn.topKPerQuery(thresholded, k, ascending = true, sorted = sorted)
  }

  /** Two-stage refined ADC search: the code scan keeps `k·refineFactor`
    * candidates per query, then an EXACT re-rank over the raw vectors of
    * just those candidates returns the true top-k among them — the
    * classic refine stage (FAISS `IndexRefineFlat`; also the pattern in
    * Spark-ecosystem ANN layers). Recovers most of the recall the M-byte
    * codes lose for one bounded join: at 100 TB the corpus is touched
    * only through the code scan; the raw vectors are read for
    * q·k·refineFactor rows via a broadcast-semi-join-pruned scan, never
    * a second full pass.
    *
    * Scores are exact distances in the index's score space (L2 for
    * L2/L2Sq — the ADC path reports sqrt — and unit-space Euclidean for
    * cosine, matching pq_index_search.go:295's cosine-PQ score). With
    * `refineFactor` large enough to cover the corpus this equals exact
    * flat search in that space (PqRefineSpec pins it).
    *
    * @param raw the (id, vector) frame the codes were encoded FROM —
    *            refine reads the original floats, not the codes
    */
  def searchRefined(encoded: DataFrame, model: Model, raw: DataFrame,
                    queries: DataFrame, k: Int, refineFactor: Int = 4,
                    candidates: Option[DataFrame] = None,
                    threshold: Option[Double] = None,
                    sorted: Boolean = true): DataFrame = {
    require(k > 0, s"refined search needs k > 0; got $k")
    require(refineFactor >= 1, s"refineFactor must be >= 1; got $refineFactor")
    // the coarse candidate list feeds refineExact's join only — its order
    // is irrelevant, so the coarse pass always skips the global sort
    val coarse = search(encoded, model, queries, k * refineFactor, None,
      candidates, sorted = false)
    // the threshold cuts on the EXACT refined distances (the scores this
    // search reports), before the per-query top-k cap — the reference's
    // threshold-before-limit ordering (pq_index_search.go:290-298)
    refineExact(coarse, raw, queries, model.metric, k, threshold, sorted)
  }

  /** Exact re-rank of a (qid, id, …) candidate frame over the raw rows:
    * broadcast the bounded candidate list into the big frame's scan (the
    * row read is semi-join-pruned), score with the metric's exact
    * distance, keep top-k per query. Shared by PQ and IVFPQ refine. */
  private[vector] def refineExact(coarse: DataFrame, raw: DataFrame,
                                  queries: DataFrame, metric: Metric,
                                  k: Int,
                                  threshold: Option[Double] = None,
                                  sorted: Boolean = true): DataFrame = {
    val D = graft.expr.Distances
    val dist = metric match {
      // cosine-PQ scores are Euclidean between unit vectors; refine in
      // the same space so refined scores are comparable to coarse ones
      case Metric.Cosine => D.l2(
        D.normalized(col("vector")).cast("array<float>"),
        D.normalized(col("qvec")).cast("array<float>"))
      case _ => D.l2(col("vector"), col("qvec"))
    }
    val rescored = raw
      .join(broadcast(coarse.select(col("qid"), col("id"))), Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), dist.as("score"))
    val cut = threshold match {
      case Some(t) => rescored.filter(col("score") <= t)
      case None    => rescored
    }
    FlatKnn.topKPerQuery(cut, k, ascending = true, sorted = sorted)
  }

  /** Embedded serving for PQ: ids + byte-packed codes collected into the
    * local JVM once, scanned per query against a FLATTENED distance table
    * with no Spark job scheduling — the reference's own deployment shape
    * (pq_index_search.go:218-324 runs in-process). The table values and
    * summation order match the distributed [[graft.expr.AdcDist]] kernel
    * exactly, so scores are bit-identical to [[search]]. */
  final class LocalPq private[vector] (model: Model, ids: Array[Long],
                                       codes: Array[Byte]) {
    private val m = model.m
    private val ksub = model.ksub
    def size: Int = ids.length

    /** Resident bytes: byte-packed codes (M bytes/vector — the layout the
      * reference's 192× compression claim counts, README.md:489-518) +
      * id longs + the shared codebooks. */
    def byteSize: Long = ids.length * 8L + codes.length.toLong +
      model.m.toLong * model.ksub * model.dsub * 4L

    def search(q: Array[Float], k0: Int): Seq[(Long, Double)] = {
      if (ids.isEmpty) return Seq.empty
      val k = math.min(if (k0 <= 0) ids.length else k0, ids.length)
      val t2 = model.distTable(Pq.prepQuery(model.metric)(q))
      val table = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        System.arraycopy(t2(s), 0, table, s * ksub, ksub)
        s += 1
      }
      val nc = FlatKnn.localChunks
      // primitive chunk heaps folded into ONE k-heap — no per-row tuple
      // boxing, no global sort (the boxed concat+sort dominated refined
      // searches, whose candidate budgets are k*factor)
      val parts = new Array[FlatKnn.BoundedTopK](nc)
      java.util.stream.IntStream.range(0, nc).parallel().forEach { c =>
        val lo = (ids.length.toLong * c / nc).toInt
        val hi = (ids.length.toLong * (c + 1) / nc).toInt
        parts(c) = LocalAdc.scanChunkHeap(table, m, ksub, codes, ids, lo, hi, k)
      }
      val out = new FlatKnn.BoundedTopK(k)
      parts.foreach(out.absorb)
      out.sortedEntries.map { case (d2, id) => (id, math.sqrt(d2)) }
    }
  }

  /** Collect an encoded frame for embedded serving (one-time cost ∝ code
    * bytes — M bytes/vector, 8 MB at 1M×m=8; must fit driver memory, the
    * reference's standing constraint). */
  def serve(encoded: DataFrame, model: Model): LocalPq = {
    val (ids, codes, _) = Packed.codes(encoded, model.m)
    new LocalPq(model, ids, codes)
  }
}

/** Shared primitive ADC scan kernel for the embedded PQ/IVFPQ serving
  * paths: flattened table lookup + bounded heap, one tight loop. */
private[vector] object LocalAdc {
  /** Top-k heap of rows [lo, hi) by SQUARED ADC distance; same sum order
    * as [[graft.expr.AdcUtil.adc]], ties by id. The heap is a primitive
    * (score, id) bounded max-heap ([[FlatKnn.BoundedTopK]]) — no per-row
    * tuple boxing — and sqrt is the caller's finish on the k survivors
    * (monotonic, identical ordering and final values). The heap's
    * capacity is chunk-bounded; callers absorb into a k-heap. */
  def scanChunkHeap(table: Array[Double], m: Int, ksub: Int,
                    codes: Array[Byte], ids: Array[Long], lo: Int, hi: Int,
                    k: Int): FlatKnn.BoundedTopK = {
    val heap = new FlatKnn.BoundedTopK(math.min(k, math.max(hi - lo, 0)))
    var i = lo
    while (i < hi) {
      val base = i * m
      var acc = 0.0
      var j = 0
      while (j < m) {
        acc += table(j * ksub + (codes(base + j) & 0xFF))
        j += 1
      }
      heap.offer(acc, ids(i))
      i += 1
    }
    heap
  }
}

/** IVF + PQ on residuals.
  *
  * Reference: `/root/reference/ivfpq_index.go:180-259` (coarse k-means →
  * residual v − centroid → PQ trained on residuals),
  * `ivfpq_index_search.go:231-341` (per probed cluster: query residual →
  * dist table → ADC over that cluster's codes).
  */
object IvfPq {

  /** @param rotation OPQ rotation applied BEFORE the coarse quantizer —
    *                  the public FAISS composition (OPQMatrix as a
    *                  VectorTransform in front of IndexIVFPQ): vectors
    *                  rotate once at ingest, coarse centroids and the
    *                  residual PQ both live in rotated space, queries
    *                  rotate once driver-side. Orthogonal ⇒ L2-preserving,
    *                  so scores and every downstream path (threshold,
    *                  candidates, refine against RAW vectors) are
    *                  unchanged. Built by [[buildOpq]]. */
  final case class Index(encoded: DataFrame, // id, cluster, codes
                         coarse: Kmeans.Model, pq: Pq.Model,
                         metric: Metric = Metric.L2,
                         rotation: Option[Array[Array[Float]]] = None) {
    // IVFPQ encodes residuals through the codegen kernels directly,
    // BYPASSING Model.encode — a hand-assembled index wrapping an OPQ
    // (rotated) INNER model would silently mis-encode, so reject it here.
    // The supported composition rotates the WHOLE space before the coarse
    // quantizer (this Index's `rotation`, residuals rotate with the
    // space); a rotated-PQ-inside-unrotated-IVF mixed space stays
    // rejected (rotating residuals alone is a different algorithm;
    // build()/buildOpq() never produce it).
    require(pq.rotation.isEmpty,
      "IVFPQ does not compose with an OPQ-rotated INNER PQ model — the " +
        "residual encode path does not apply per-subvector rotations; " +
        "use IvfPq.buildOpq (whole-space rotation before the coarse " +
        "quantizer) or train the inner model without one")
  }

  /** The metric lives on the OUTER index, not the inner PQ model: cosine
    * is normalize-at-insert on the INPUT vectors (ivfpq_index.go via
    * distance Preprocess), after which coarse assignment, residuals, and
    * the residual-space PQ all run plain L2 — residuals are not unit
    * vectors and must NOT be re-normalized. */
  def build(data: DataFrame, nlist: Int, m: Int, ksub: Int = 256,
            maxIter: Int = 20, metric: Metric = Metric.L2): Index = {
    Pq.checkMetric(metric)
    val prepped = Pq.prepData(data, metric)
    val coarse = Kmeans.train(prepped, nlist, maxIter)
    val K = graft.expr.CentroidKernels
    // assignment + residual as codegen'd kernels (ivfpq_index.go:467-542)
    val withRes = prepped
      .withColumn("cluster",
        K.nearestCentroid(col("vector"), coarse.centroids))
      .select(col("id"), col("cluster"),
        K.residual(col("vector"), col("cluster"), coarse.centroids)
          .as("vector"))
    val pq = Pq.train(withRes, m, ksub, maxIter)
    Index(encode(withRes, coarse, pq, preResidualed = true), coarse, pq,
      metric)
  }

  /** OPQ + IVFPQ (public FAISS: `OPQMatrix` as a VectorTransform before
    * `IndexIVFPQ`): learn the orthogonal rotation on a bounded
    * corpus-spanning sample ([[Pq.learnOpqRotation]] — the same
    * alternation standalone OPQ uses), rotate the corpus ONCE at ingest
    * through the codegen kernel, then train coarse centroids and the
    * residual PQ entirely in rotated space. No new score math: the
    * rotation is orthogonal (L2-preserving) and residuals rotate with
    * the space (`R·x − R·c = R·(x − c)`), so ADC tables, thresholds and
    * the exact refine stage against RAW vectors all work untouched.
    * Queries rotate once driver-side per search.
    *
    * Cosine composes the same way it does for standalone OPQ:
    * normalize-at-insert runs BEFORE the rotation, and unit vectors stay
    * unit under an orthogonal map. */
  def buildOpq(data: DataFrame, nlist: Int, m: Int, ksub: Int = 256,
               maxIter: Int = 20, opqIters: Int = 8,
               sampleSize: Int = 16384,
               metric: Metric = Metric.L2): Index = {
    Pq.checkMetric(metric)
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val prepped = Pq.prepData(data, metric)
    val sample = Pq.opqSample(prepped, sampleSize)
    require(sample.nonEmpty, "OPQ training needs a non-empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val rF = Pq.learnOpqRotation(sample, m, ksub, opqIters)
    val K = graft.expr.CentroidKernels
    val rotated = prepped.select(col("id"),
      K.rotateVec(col("vector"), rF).as("vector"))
    val coarse = Kmeans.train(rotated, nlist, maxIter)
    val withRes = rotated
      .withColumn("cluster",
        K.nearestCentroid(col("vector"), coarse.centroids))
      .select(col("id"), col("cluster"),
        K.residual(col("vector"), col("cluster"), coarse.centroids)
          .as("vector"))
    val pq = Pq.train(withRes, m, ksub, maxIter)
    Index(encode(withRes, coarse, pq, preResidualed = true), coarse, pq,
      metric, Some(rF))
  }

  /** Assign + residual + PQ-encode a vector frame against trained models —
    * the shared ingest path for [[build]], incremental adds, and external
    * encoders (keeps any re-encoding bit-identical to what build writes).
    * With `preResidualed` the input already carries (cluster, residual
    * vector) and only the PQ encode runs. */
  /** Encode a new batch against an existing index — derives the metric
    * from the index so a cosine IVFPQ's adds can't silently skip the
    * normalize-at-insert step. */
  def encode(data: DataFrame, index: Index): DataFrame =
    encode(data, index.coarse, index.pq, preResidualed = false,
      metric = index.metric, rotation = index.rotation)

  /** Incremental DELETE with flush semantics (ivfpq_index_test.go:329-441
    * Remove + Flush collapsed into one step, mirroring [[Pq.delete]]);
    * coarse centroids and residual codebooks survive. */
  def delete(index: Index, ids: Seq[Long]): Index =
    index.copy(encoded = index.encoded.filter(!col("id").isin(ids: _*)))

  /** Low-level variant; `metric` MUST match the metric the coarse/pq
    * models were built with (prefer the [[Index]] overload, which can't
    * get it wrong). */
  def encode(data: DataFrame, coarse: Kmeans.Model, pq: Pq.Model,
             preResidualed: Boolean = false,
             metric: Metric = Metric.L2,
             rotation: Option[Array[Array[Float]]] = None): DataFrame = {
    val K = graft.expr.CentroidKernels
    val withRes =
      if (preResidualed) data
      else {
        val prepped = Pq.prepData(data, metric)
        // an OPQ-composed index lives in rotated space: incremental adds
        // rotate at ingest exactly like buildOpq's corpus pass
        val inSpace = rotation match {
          case Some(r) => prepped.select(col("id"),
            K.rotateVec(col("vector"), r).as("vector"))
          case None => prepped
        }
        inSpace
          .withColumn("cluster",
            K.nearestCentroid(col("vector"), coarse.centroids))
          .select(col("id"), col("cluster"),
            K.residual(col("vector"), col("cluster"), coarse.centroids)
              .as("vector"))
      }
    withRes.select(col("id"), col("cluster"),
      K.pqEncode(col("vector"), pq.codebooks).as("codes"))
  }

  /** Persist: coarse centroids + PQ codebooks + encoded codes — the
    * quadruple the reference serializes for IVFPQ (ivfpq_index.go follows
    * the flat_index.go:366-463 frame pattern). */
  def write(index: Index, path: String): Unit = {
    val spark = index.encoded.sparkSession
    writeCoarse(spark, s"$path/coarse", index.coarse)
    Pq.write(index.pq, index.encoded, path)
    // the OUTER whole-space OPQ rotation persists under its own dir —
    // NOT Pq's _rotation (that is the inner model's slot, and Pq.write
    // just correctly deleted any stale one for this rotation-free inner
    // model). Same stale-delete discipline: a rotation-less index must
    // clear a previous write's _opq or a reloaded index would rotate
    // queries into a space these centroids were never trained in.
    Pq.writeRotation(spark, s"$path/_opq", index.rotation)
    // overwrite the meta with BOTH metrics: the inner model's (residual
    // space, always L2 here) and the outer index's
    Pq.writeMeta(spark, path,
      s"""{"metric":"${Pq.metricName(index.pq.metric)}","ivfpq_metric":"${Pq.metricName(index.metric)}"}""")
  }

  /** Persist coarse centroids as `(cluster, vec)` rows. */
  private[vector] def writeCoarse(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, coarse: Kmeans.Model): Unit = {
    import spark.implicits._
    coarse.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "vec")
      .repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** The coarse centroids [[writeCoarse]] wrote. */
  private[vector] def readCoarse(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Kmeans.Model = {
    val rows = spark.read.parquet(dir)
      .select(col("cluster"), col("vec")).collect()
    val centroids = Array.ofDim[Array[Float]](rows.length)
    rows.foreach(r => centroids(r.getInt(0)) = r.getSeq[Float](1).toArray)
    Kmeans.Model(centroids)
  }

  /** Load a persisted IVFPQ index; search on the loaded index is
    * bit-identical to the original. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val coarse = readCoarse(spark, s"$path/coarse")
    val (pq, encoded) = Pq.read(spark, path)
    val outer = Pq.requiredMetric(spark, path, key = "ivfpq_metric")
    Index(encoded, coarse, pq, outer,
      Pq.readRotation(spark, s"$path/_opq"))
  }

  /** @param threshold  ADC distance cutoff (ivfpq_index_search.go:312-315)
    * @param candidates  WithDocumentIDs semi-join
    *                    (ivfpq_index_search.go:305-308) */
  def search(index: Index, queries: DataFrame, k: Int,
             nprobe: Int, threshold: Option[Double] = None,
             candidates: Option[DataFrame] = None,
             sorted: Boolean = true): DataFrame = {
    val spark = index.encoded.sparkSession
    val prep0 = Pq.prepQuery(index.metric)
    // OPQ-composed index: the query enters rotated space ONCE here
    // (after the metric prep — normalize-then-rotate, same order as
    // ingest); coarse ranking, residuals and ADC tables then all run in
    // the index's native space
    val prep: Array[Float] => Array[Float] = index.rotation match {
      case Some(r) => v => Pq.applyRotation(r, prep0(v))
      case None    => prep0
    }
    val qs = Ivf.collectQueries(queries).map { case (qid, qv) => (qid, prep(qv)) }
    val np = math.max(1, math.min(nprobe, index.coarse.k))
    // per (query, probed cluster): residual query → dist table
    val tables: Map[(Long, Int), Array[Array[Double]]] = qs.flatMap {
      case (qid, qv) =>
        index.coarse.ranked(qv, np).map { c =>
          val cent = index.coarse.centroids(c)
          val resid = Array.tabulate(qv.length)(i => qv(i) - cent(i))
          (qid, c) -> index.pq.distTable(resid)
        }
    }.toMap
    // (qid, cluster) packed into one long key for the codegen'd ADC kernel
    val packed: Map[Long, Array[Array[Double]]] = tables.map {
      case ((qid, c), t) => ((qid << 32) | (c.toLong & 0xFFFFFFFFL)) -> t
    }
    import spark.implicits._
    val probes = tables.keys.toSeq.toDF("qid", "cluster")
    val base0 = candidates match {
      case Some(c) => index.encoded
        .join(c.select(col("id")), Seq("id"), "left_semi")
      case None    => index.encoded
    }
    // driver-known probed clusters as a literal IN predicate: static
    // partition pruning on a cluster-partitioned code layout (the broadcast
    // join alone can't prune — see the same note in Ivf.search)
    val probedClusters = tables.keys.map(_._2).toSeq.distinct
    val base =
      if (probedClusters.isEmpty) base0
      else base0.filter(col("cluster").isin(probedClusters: _*))
    val scored = base
      .join(broadcast(probes), Seq("cluster"))
      .select(col("qid"), col("id"),
        graft.expr.AdcDist(
          shiftleft(col("qid"), 32)
            .bitwiseOR(col("cluster").cast("long").bitwiseAND(lit(0xFFFFFFFFL))),
          col("codes"), packed).as("score"))
    val thresholded = threshold match {
      case Some(t) => scored.filter(col("score") <= t)
      case None    => scored
    }
    FlatKnn.topKPerQuery(thresholded, k, ascending = true, sorted = sorted)
  }

  /** Two-stage refined IVFPQ search: probed-cluster ADC keeps
    * `k·refineFactor` candidates, exact re-rank over the raw vectors
    * returns the true top-k among them (see [[Pq.searchRefined]] — same
    * refine stage, coarse leg = [[search]]). The double quantization
    * (coarse residual + PQ codes) loses more recall than plain PQ, so
    * refine buys proportionally more here. */
  def searchRefined(index: Index, raw: DataFrame, queries: DataFrame,
                    k: Int, nprobe: Int, refineFactor: Int = 4,
                    candidates: Option[DataFrame] = None,
                    threshold: Option[Double] = None,
                    sorted: Boolean = true): DataFrame = {
    require(k > 0, s"refined search needs k > 0; got $k")
    require(refineFactor >= 1, s"refineFactor must be >= 1; got $refineFactor")
    // coarse candidates feed a join; their order is irrelevant (see
    // [[Pq.searchRefined]])
    val coarse = search(index, queries, k * refineFactor, nprobe, None,
      candidates, sorted = false)
    // threshold cuts on the EXACT refined distances, before the top-k
    // cap — same ordering as [[Pq.searchRefined]]
    Pq.refineExact(coarse, raw, queries, index.metric, k, threshold, sorted)
  }

  /** Embedded serving for IVFPQ: per-cluster id/code arrays collected into
    * the local JVM; a query ranks centroids on the driver (same order as
    * [[search]]), builds one residual distance table per probed cluster,
    * and ADC-scans only those clusters' codes — the reference's in-process
    * search (ivfpq_index_search.go:231-341) without Spark job scheduling.
    * Residuals and tables use the same float math as the distributed path,
    * so scores are bit-identical. */
  final class LocalIvfPq private[vector] (coarse: Kmeans.Model, pq: Pq.Model,
      clusterIds: Array[Array[Long]], clusterCodes: Array[Array[Byte]],
      metric: Metric = Metric.L2,
      rotation: Option[Array[Array[Float]]] = None) {
    private val m = pq.m
    private val ksub = pq.ksub
    def size: Int = clusterIds.map(_.length).sum

    /** Resident bytes: per-cluster byte-packed codes + id longs, plus the
      * coarse centroid table and the shared residual codebooks. */
    def byteSize: Long =
      clusterIds.map(_.length * 8L).sum + clusterCodes.map(_.length.toLong).sum +
        coarse.k.toLong * coarse.dim * 4L +
        pq.m.toLong * pq.ksub * pq.dsub * 4L

    def search(q0: Array[Float], k0: Int, nprobe: Int): Seq[(Long, Double)] = {
      val qPrep = Pq.prepQuery(metric)(q0)
      // same normalize-then-rotate order as the distributed path
      val q = rotation.fold(qPrep)(Pq.applyRotation(_, qPrep))
      val np = math.max(1, math.min(nprobe, coarse.k))
      val probes = coarse.ranked(q, np)
      val total = size
      if (total == 0) return Seq.empty
      val k = math.min(if (k0 <= 0) total else k0, total)
      // one primitive heap per probed cluster, folded into a k-heap —
      // no per-row boxing (see LocalPq.search)
      val parts = new Array[FlatKnn.BoundedTopK](probes.length)
      java.util.stream.IntStream.range(0, probes.length).parallel()
        .forEach { p =>
          val c = probes(p)
          val ids = clusterIds(c)
          if (ids.nonEmpty) {
            val cent = coarse.centroids(c)
            val resid = Array.tabulate(q.length)(i => q(i) - cent(i))
            val t2 = pq.distTable(resid)
            val table = new Array[Double](m * ksub)
            var s = 0
            while (s < m) {
              System.arraycopy(t2(s), 0, table, s * ksub, ksub)
              s += 1
            }
            parts(p) = LocalAdc.scanChunkHeap(table, m, ksub,
              clusterCodes(c), ids, 0, ids.length, k)
          }
        }
      val out = new FlatKnn.BoundedTopK(k)
      parts.foreach(h => if (h != null) out.absorb(h))
      out.sortedEntries.map { case (d2, id) => (id, math.sqrt(d2)) }
    }
  }

  /** Collect an IVFPQ index for embedded serving (code bytes grouped by
    * cluster; must fit driver memory). */
  def serve(index: Index): LocalIvfPq = {
    val nlist = index.coarse.k
    val m = index.pq.m
    val (ids, codes, clusters) = Packed.codes(index.encoded, m, withCluster = true)
    // counted allocation: size each cluster's arrays exactly, then fill in
    // arrival order (partition order — same order the old row loop saw)
    val counts = new Array[Int](nlist)
    clusters.foreach(c => counts(c) += 1)
    val idsBy = Array.tabulate(nlist)(c => new Array[Long](counts(c)))
    val codesBy = Array.tabulate(nlist)(c => new Array[Byte](counts(c) * m))
    val fill = new Array[Int](nlist)
    var i = 0
    while (i < ids.length) {
      val c = clusters(i)
      val p = fill(c)
      idsBy(c)(p) = ids(i)
      System.arraycopy(codes, i * m, codesBy(c), p * m, m)
      fill(c) = p + 1
      i += 1
    }
    new LocalIvfPq(index.coarse, index.pq, idsBy, codesBy, index.metric,
      index.rotation)
  }
}
