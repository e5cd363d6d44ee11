package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-structured, incrementally maintained IVF vector state — the vector
  * twin of [[graft.text.BM25Log]], mirroring the reference's
  * train-once-then-assign contract: `PersistentHybridIndex.Train` runs
  * ONCE (storage.go:321-347), and every flushed segment builds its vector
  * index from the already-trained template by ASSIGNMENT, never by
  * retraining (storage.go:680-760 flushMemtable; ivf_index.go:251-280
  * Add = preprocess + nearest-centroid).
  *
  * Without this, a store facade re-trains its vector leg once per
  * mutation generation — O(corpus · nlist · iters) after every append.
  * Here:
  *
  *   - the k-means model trains ONCE, on the corpus at seed time, and is
  *     persisted next to the pieces (`dir/_model`) so a reopened store
  *     never retrains (centroid drift under heavy adds is handled by an
  *     explicit rebuild, the reference's own retrain guidance);
  *   - each segment's vectors become one materialized ASSIGNED piece
  *     `(id, vector, cluster)` — a codegen nearest-centroid projection at
  *     batch cost, durable as parquet when `persistDir` is set;
  *   - pieces, newest-wins markers, collapse and the retrain commit
  *     sequence are the shared [[graft.core.PieceLog]] protocol.
  *
  * [[index]] exposes the live view as a ready `Ivf.Index`; at probe-all the
  * search is exhaustive-exact, so the incremental state is
  * oracle-equivalent to a flat scan over the live vectors under ANY
  * mutation history. NOT thread-safe; guard with the owning store's lock.
  */
final class VecLog private (spark: SparkSession, val model: Kmeans.Model,
                            val metric: Metric,
                            persistDir: Option[String],
                            val rotation: Option[Array[Array[Float]]] = None)
    extends graft.core.PieceLog(spark, persistDir) {

  def name: String = "vec"
  protected def column: String = "vector"
  protected def tables: IndexedSeq[String] = IndexedSeq("")

  protected def encode(rows: DataFrame): IndexedSeq[DataFrame] = {
    val prepped = Pq.prepData(rows.select(col("id").cast("long").as("id"),
      col("vector")), metric)
    // OPQ composition point (mirrors IvfPq.buildOpq): the coarse
    // quantizer was trained in the ROTATED space, so assignment routes
    // the rotated vector through the codegen kernels; the STORED vector
    // stays original (scoring space untouched — see [[index]])
    val routed = rotation match {
      case Some(r) => graft.expr.CentroidKernels.nearestCentroid(
        graft.expr.CentroidKernels.rotateVec(col("vector"), r),
        model.centroids)
      case None => graft.expr.CentroidKernels.nearestCentroid(
        col("vector"), model.centroids)
    }
    IndexedSeq(prepped.withColumn("cluster", routed))
  }

  protected def empty(i: Int): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float], Int)].toDF("id", "vector", "cluster")
  }

  /** Live assigned view: union of pieces, newest-wins via markers. */
  def liveAssigned: DataFrame = live(0)

  /** The live state as a servable IVF index (probe-all = exhaustive).
    *
    * Under OPQ the served model carries BACK-ROTATED centroids: for an
    * orthogonal R, `argmin_i ||Rx − c_i|| == argmin_i ||x − Rᵀc_i||`, so
    * queries route consistently with the rotated-space assignment while
    * never being rotated themselves — stored vectors and scores are
    * bit-identical to the rotation-less leg (rotations are L2-preserving,
    * which also means plain-IVF recall is unchanged by OPQ; the value of
    * the composition is the persisted-rotation plumbing and guard parity
    * with [[IvfPq.buildOpq]], which a quantized leg reuses). */
  def index: Ivf.Index = Ivf.Index(liveAssigned, servedModel, metric)

  private lazy val servedModel: Kmeans.Model = rotation match {
    case Some(r) =>
      Kmeans.Model(model.centroids.map(c => Pq.applyRotationT(r, c)))
    case None => model
  }
}

object VecLog {
  private def modelDir(dir: String) = s"$dir/_model"
  private def rotDir(dir: String) = s"$dir/_rot"

  /** The train-time preprocessing space a metric implies. Metrics in the
    * same space share centroids and assigned pieces: the cosine family
    * clusters unit-normalized vectors ([[Pq.prepData]] normalizes at
    * insert for Cosine; CosinePreNorm inputs arrive already unit), while
    * L2/L2Sq/DotSim cluster the raw vectors. Cross-space reuse is the
    * silent-recall-loss failure [[reopen]] guards against. */
  private def trainSpace(m: Metric): String = m match {
    case Metric.Cosine | Metric.CosinePreNorm => "unit"
    case _                                    => "raw"
  }

  private def writeModel(spark: SparkSession, dir: String,
                         model: Kmeans.Model, metric: Metric): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c, Pq.metricName(metric)) }.toSeq
      .toDF("cid", "vector", "metric")
      .repartition(1).write.mode("overwrite").parquet(modelDir(dir))
  }

  private def readModel(spark: SparkSession,
                        dir: String): Option[(Kmeans.Model, Metric)] = {
    val p = new org.apache.hadoop.fs.Path(s"${modelDir(dir)}/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val rows = spark.read.parquet(modelDir(dir))
      .orderBy(col("cid")).collect()
    if (rows.isEmpty) return None
    val cents = rows.map(_.getSeq[Float](1).toArray)
    Some((Kmeans.Model(cents), Pq.metricOf(rows.head.getString(2))))
  }

  /** Open a log over a store's live segments: the model loads from the
    * persisted artifact (or trains ONCE on `trainOn` and persists);
    * per-segment assigned pieces load where durable, and only segments
    * without one pay the assignment projection. Mirrors
    * [[graft.text.BM25Log.reopen]].
    *
    * The PERSISTED model is authoritative: `nlist` applies only when no
    * artifact exists yet — a reopened store serves the lists its pieces
    * were assigned against (changing list count on an existing store
    * requires an explicit rebuild, the reference's own retrain guidance;
    * anything else would silently mix two coarse quantizers over the
    * same pieces). The requested `metric` however is VERIFIED against
    * the persisted one: a store reconfigured into a different training
    * space (cosine over an L2-trained model, or vice versa) would
    * silently route queries through centroids trained on the wrong
    * geometry — degraded recall with no error — so the mismatch throws
    * (the reference fails fast on modality metric mismatch,
    * hybrid_search_index.go). */
  def reopen(spark: SparkSession, persistDir: String, segs: Seq[Long],
             segVec: Long => DataFrame, markers: Option[DataFrame],
             trainOn: => DataFrame, nlist: Int, maxIter: Int = 20,
             metric: Metric = Metric.L2, opq: Boolean = false): VecLog = {
    val (model, met, rot, retrained) = readModel(spark, persistDir) match {
      case Some((m, persisted)) =>
        if (trainSpace(persisted) != trainSpace(metric))
          throw new IllegalStateException(
            s"incremental vector log at $persistDir was trained under " +
              s"$persisted but the store is configured for $metric — the " +
              "coarse quantizer is train-time state (storage.go:321-347); " +
              "rebuild the store (or delete its _vec dir) to retrain " +
              "under the new metric")
        // the rotation is train-time state like the centroids — a store
        // reconfigured across the OPQ boundary (either direction) would
        // silently route queries through centroids trained in a space
        // the configuration does not expect, so the mismatch throws
        // exactly like the metric-space guard above
        val persistedRot = Pq.readRotation(spark, rotDir(persistDir))
        if (opq && persistedRot.isEmpty)
          throw new IllegalStateException(
            s"incremental vector log at $persistDir was trained WITHOUT " +
              "an OPQ rotation but the store is configured with ivfOpq — " +
              "the rotation is train-time state; rebuild the store (or " +
              "delete its _vec dir) to retrain with OPQ")
        if (!opq && persistedRot.nonEmpty)
          throw new IllegalStateException(
            s"incremental vector log at $persistDir carries an OPQ " +
              "rotation but the store is configured without ivfOpq — " +
              "rebuild the store (or delete its _vec dir) to retrain " +
              "unrotated, or restore the ivfOpq configuration")
        (m, persisted, persistedRot, false)
      case None =>
        val prepped = Pq.prepData(trainOn, metric)
        val newRot =
          if (opq) {
            val sample = Pq.opqSample(prepped, 16384)
            require(sample.nonEmpty, "OPQ training needs a non-empty corpus")
            val (m0, _) = Pq.defaultParams(sample.head.length)
            Some(Pq.learnOpqRotation(sample, m0, ksub = 256, opqIters = 8))
          } else None
        val trainData = newRot match {
          case Some(r) => prepped.select(col("id"),
            graft.expr.CentroidKernels.rotateVec(col("vector"), r)
              .as("vector"))
          case None => prepped
        }
        val m = Kmeans.train(trainData, nlist, maxIter)
        (m, metric, newRot, true)
    }
    val log = new VecLog(spark, model, met, Some(persistDir), rot)
    // a RETRAINED model (no readable artifact — first open, or a crash
    // left _model without its _SUCCESS) must not trust any surviving
    // piece dir: those assignments belong to a LOST quantizer, and
    // trusting them would silently mix two coarse quantizers over one
    // store. The rotation is written with the model: it is read only
    // once the model marker commits.
    val commit =
      new org.apache.hadoop.fs.Path(s"${modelDir(persistDir)}/_SUCCESS")
    log.load(segs, segVec, markers,
      if (!retrained) None
      else Some((commit, () => {
        Pq.writeRotation(spark, rotDir(persistDir), rot)
        writeModel(spark, persistDir, model, metric)
      })))
    log
  }

  /** Ephemeral (non-persisted) log: train once on `trainOn`, seed one
    * piece from it under `seg`. */
  def fromLive(trainOn: DataFrame, seg: Long, nlist: Int,
               maxIter: Int = 20, metric: Metric = Metric.L2): VecLog = {
    val spark = trainOn.sparkSession
    val model = Kmeans.train(Pq.prepData(trainOn, metric), nlist, maxIter)
    val log = new VecLog(spark, model, metric, None)
    log.append(trainOn, seg)
    log
  }
}
