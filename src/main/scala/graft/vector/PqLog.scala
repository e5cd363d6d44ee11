package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-structured, incrementally maintained PQ-CODED vector state — the
  * quantized sibling of [[VecLog]], completing the reference's
  * train-once-then-assign contract for its quantized index kinds:
  * `PersistentHybridIndex.Train` runs ONCE (storage.go:321-347), and
  * every flushed segment builds its vector index from the already-trained
  * template by ENCODING, never by retraining (storage.go:680-760
  * flushMemtable serializes each segment's index; pq_index.go:251-280 Add
  * = preprocess + per-subspace nearest-centroid code assignment).
  *
  * Here:
  *
  *   - the PQ codebooks (and, with `opq`, the learned rotation — riding
  *     [[Pq.Model.rotation]]'s existing encode/distTable composition)
  *     train ONCE on the corpus at seed time and persist under
  *     `dir/_model` so a reopened store never retrains;
  *   - each segment's vectors become one materialized CODED piece
  *     `(id, codes)` — a codegen [[graft.expr.CentroidKernels.pqEncode]]
  *     projection at batch cost, M bytes of code per vector at rest
  *     (the compression PQ exists for), durable as parquet when
  *     `persistDir` is set;
  *   - pieces, newest-wins markers, collapse and the retrain commit
  *     sequence are the shared [[graft.core.PieceLog]] protocol.
  *
  * Serving is ADC over [[liveCodes]] (a codegen [[graft.expr.AdcDist]]
  * scan), optionally refined against the store's raw live vectors
  * ([[Pq.searchRefined]] — the bounded exact re-rank); with a
  * corpus-covering refine factor the leg is exhaustive-exact, so the
  * incremental state is oracle-equivalent to a flat scan of the live
  * vectors under ANY mutation history. NOT thread-safe; guard with the
  * owning store's lock.
  *
  * At 100 TB: the corpus is touched only through the M-byte code scan;
  * raw vectors are read for q·k·refineFactor rows via a
  * broadcast-semi-join-pruned scan of the segment parquet, never a
  * second full pass. Appends cost one encode projection over the batch.
  *
  * ROUTED mode (`coarse` present — the IVFPQ composition,
  * ivfpq_index.go:467-542): pieces additionally carry a coarse `cluster`
  * assignment and codes encode RESIDUALS against that cluster's
  * centroid; serving probes only `nprobe` lists
  * ([[IvfPq.searchRefined]]), so the per-query scan is
  * `nprobe/nlist` of the codes instead of all of them — the difference
  * between O(corpus) and O(corpus/nlist) per query at 100 TB. The coarse
  * centroids are train-time state exactly like the codebooks (they
  * define what the residual codes MEAN), so they persist under the same
  * `_COMMIT` protocol and join the reopen guard matrix: a routed
  * artifact reopened unrouted (or vice versa) throws — residual codes
  * served as plain codes would be silently wrong, the exact class this
  * matrix exists to prevent. An OPQ rotation in routed mode is the
  * WHOLE-SPACE rotation applied before the coarse quantizer
  * ([[IvfPq.buildOpq]]'s composition), never an inner-model rotation.
  * Pieces are written sorted by `cluster` within partitions, so the
  * probed-cluster `IN` predicate prunes parquet row groups on reload —
  * the probe only reads the lists it scores.
  */
final class PqLog private (spark: SparkSession, val model: Pq.Model,
                           persistDir: Option[String],
                           val coarse: Option[Kmeans.Model] = None,
                           val outerRotation: Option[Array[Array[Float]]] = None,
                           outerMetric0: Option[Metric] = None)
    extends graft.core.PieceLog(spark, persistDir) {

  /** Score space of the SERVED leg: the store's configured metric for a
    * routed log (the inner residual model always trains in L2), the
    * model's own metric otherwise. */
  val servingMetric: Metric = outerMetric0.getOrElse(model.metric)

  def name: String = "pq"
  protected def column: String = "vector"
  protected def tables: IndexedSeq[String] = IndexedSeq("")

  /** Encode one batch under the train-time model. Unrouted: [[Pq.encode]]
    * preps in the model's metric space (normalize-at-insert for cosine),
    * rotates when the model carries an OPQ rotation, and emits
    * `(id, codes)`. Routed: [[IvfPq.encode]] — prep, whole-space
    * rotation, coarse assignment, residual, PQ code — emits
    * `(id, cluster, codes)`. */
  protected def encode(rows: DataFrame): IndexedSeq[DataFrame] = {
    val in = rows.select(col("id").cast("long").as("id"), col("vector"))
    IndexedSeq(coarse match {
      case Some(c) => IvfPq.encode(in, c, model,
        metric = servingMetric, rotation = outerRotation)
      case None => Pq.encode(in, model)
    })
  }

  /** Routed pieces are RANGE-partitioned by list id, then sorted, so the
    * probe's `cluster IN (...)` predicate prunes files and row groups: an
    * id-ordered piece leaves every file carrying all nlist clusters, and
    * HASH partitioning leaves row groups straddling non-adjacent lists
    * (stats [3,35] survive any probe in between — a 3.6x over-scan at
    * 1M). With range partitioning every boundary spans only ADJACENT
    * clusters, so min-max stats are tight and the probed scan reads
    * ~probed mass at any corpus size, for one batch-sized shuffle (plus
    * the range sampler's pass) per fold. */
  override protected def layout(coded: DataFrame): DataFrame =
    if (coarse.isEmpty) coded
    else coded.repartitionByRange(col("cluster"))
      .sortWithinPartitions("cluster")

  protected def empty(i: Int): DataFrame = {
    import spark.implicits._
    if (coarse.nonEmpty)
      Seq.empty[(Long, Int, Array[Int])].toDF("id", "cluster", "codes")
    else Seq.empty[(Long, Array[Int])].toDF("id", "codes")
  }

  /** Live coded view: union of pieces, newest-wins via markers. */
  def liveCodes: DataFrame = live(0)

  /** Routed serving view: the live coded state as an [[IvfPq.Index]]
    * (probed-list ADC + optional refine). Only meaningful in routed
    * mode — the facade never calls this on an unrouted log. */
  def ivfPqIndex: IvfPq.Index = {
    val c = coarse.getOrElse(throw new IllegalStateException(
      "ivfPqIndex on an unrouted PQ log"))
    IvfPq.Index(liveCodes, c, model, servingMetric, outerRotation)
  }
}

object PqLog {
  private def modelDir(dir: String) = s"$dir/_model"

  // the model is a MULTI-dataset artifact (codebooks + optional rotation
  // + meta), so its commit marker is an explicit file above them, not a
  // parquet job's own _SUCCESS
  private def commitMarker(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(s"${modelDir(dir)}/_COMMIT")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Everything the codes' meaning depends on, as one persisted unit:
    * the PQ model, and in routed mode the coarse centroids + outer
    * metric + whole-space rotation. */
  private final case class ModelState(model: Pq.Model,
                                      coarse: Option[Kmeans.Model],
                                      outerRotation: Option[Array[Array[Float]]],
                                      outerMetric: Metric)

  private def writeModel(spark: SparkSession, dir: String,
                         st: ModelState): Unit = {
    val base = modelDir(dir)
    val model = st.model
    Pq.writeCodebooks(spark, s"$base/codebooks", model)
    // rotation is train-time state like the codebooks. In routed mode
    // the slot holds the WHOLE-SPACE rotation (the inner model is
    // rotation-free by [[IvfPq.Index]]'s own invariant).
    Pq.writeRotation(spark, s"$base/rotation",
      st.outerRotation.orElse(model.rotation))
    // coarse centroids are train-time state in routed mode (they define
    // what the residual codes mean); same stale-delete discipline
    st.coarse match {
      case Some(c) => IvfPq.writeCoarse(spark, s"$base/coarse", c)
      case None =>
        val p = new org.apache.hadoop.fs.Path(s"$base/coarse")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
    }
    val outer = st.coarse.map(_ =>
      s""","outer_metric":"${Pq.metricName(st.outerMetric)}"""").getOrElse("")
    Pq.writeMeta(spark, base,
      s"""{"metric":"${Pq.metricName(model.metric)}"$outer}""")
  }

  private def readModel(spark: SparkSession,
                        dir: String): Option[ModelState] = {
    val (marker, fs) = commitMarker(spark, dir)
    if (!fs.exists(marker)) return None
    val base = modelDir(dir)
    val codebooks = Pq.readCodebooks(spark, s"$base/codebooks")
    if (codebooks.isEmpty) return None
    val (m, ksub) = (codebooks.length, codebooks(0).length)
    val met = Pq.requiredMetric(spark, base)
    val rot = Pq.readRotation(spark, s"$base/rotation")
    val coarseP = new org.apache.hadoop.fs.Path(s"$base/coarse/_SUCCESS")
    val coarse =
      if (fs.exists(coarseP)) Some(IvfPq.readCoarse(spark, s"$base/coarse"))
      else None
    coarse match {
      case Some(_) =>
        val outer = Pq.requiredMetric(spark, base, key = "outer_metric")
        // routed: the rotation slot is the whole-space rotation; the
        // inner model stays rotation-free (IvfPq.Index's invariant)
        Some(ModelState(
          Pq.Model(m, ksub, codebooks(0)(0).length, codebooks, met, None),
          coarse, rot, outer))
      case None =>
        Some(ModelState(
          Pq.Model(m, ksub, codebooks(0)(0).length, codebooks, met, rot),
          None, None, met))
    }
  }

  /** Open a log over a store's live segments: the model loads from the
    * persisted artifact (or trains ONCE on `trainOn` and persists);
    * per-segment coded pieces load where durable, and only segments
    * without one pay the encode projection. Mirrors [[VecLog.reopen]].
    *
    * The PERSISTED model is authoritative: `m`/`ksub` apply only when no
    * artifact exists yet — a reopened store serves the codebooks its
    * pieces were coded against (changing the code shape on an existing
    * store requires an explicit rebuild; anything else would silently
    * mix two quantizers over the same pieces). The reopen GUARD MATRIX
    * however covers every piece of codebook state that changes what the
    * codes MEAN:
    *
    *   - METRIC: PQ codebooks score in the metric space they were
    *     trained in (ADC distances are centroid distances in that
    *     space), so a store reconfigured to a different metric — not
    *     merely a different train space — would silently serve ADC
    *     scores from the wrong geometry; the mismatch throws. (Stricter
    *     than [[VecLog]]'s train-space guard: IVF centroids only ROUTE,
    *     PQ codebooks SCORE.)
    *   - OPQ both directions: codes were assigned in rotated space (or
    *     not); a configuration flip would encode new pieces in one
    *     space and serve old pieces from the other.
    *
    * Retrain commit protocol (the [[VecLog]] crash-window discipline):
    * surviving piece `_SUCCESS` markers are invalidated BEFORE the model
    * write, and the model's `_COMMIT` marker is withheld until every
    * piece has been re-encoded — any crash point lands on
    * retrain-or-re-encode, never a silently-mixed quantizer. */
  def reopen(spark: SparkSession, persistDir: String, segs: Seq[Long],
             segVec: Long => DataFrame, markers: Option[DataFrame],
             trainOn: => DataFrame, m: Int = 0, ksub: Int = 256,
             maxIter: Int = 20, metric: Metric = Metric.L2,
             opq: Boolean = false, nlist: Int = 0): PqLog = {
    val (st, retrained) = readModel(spark, persistDir) match {
      case Some(persisted) =>
        // routed vs unrouted is part of what the codes MEAN: residual
        // codes served as plain codes (or vice versa) are silently wrong
        // scores, not an error — throw in BOTH directions. nlist's VALUE
        // is artifact-authoritative like m/ksub: only presence flips.
        if (persisted.coarse.nonEmpty && nlist <= 0)
          throw new IllegalStateException(
            s"incremental PQ log at $persistDir is coarse-ROUTED " +
              "(codes are residuals against persisted centroids, " +
              "ivfpq_index.go:467-542) but the store is configured " +
              "unrouted — rebuild the store (or delete its _pq dir) to " +
              "retrain without routing")
        if (persisted.coarse.isEmpty && nlist > 0)
          throw new IllegalStateException(
            s"incremental PQ log at $persistDir is UNROUTED (codes " +
              "quantize whole vectors) but the store is configured " +
              s"with nlist=$nlist — rebuild the store (or delete its " +
              "_pq dir) to retrain routed")
        if (persisted.outerMetric != metric)
          throw new IllegalStateException(
            s"incremental PQ log at $persistDir was trained under " +
              s"${persisted.outerMetric} but the store is configured " +
              s"for $metric — PQ codebooks are train-time state that " +
              "SCORE in their training space (pq_index.go:193-247); " +
              "rebuild the store (or delete its _pq dir) to retrain " +
              "under the new metric")
        val persistedRot =
          persisted.outerRotation.orElse(persisted.model.rotation)
        if (opq && persistedRot.isEmpty)
          throw new IllegalStateException(
            s"incremental PQ log at $persistDir was trained WITHOUT an " +
              "OPQ rotation but the store is configured with opq — the " +
              "rotation is train-time state; rebuild the store (or " +
              "delete its _pq dir) to retrain with OPQ")
        if (!opq && persistedRot.nonEmpty)
          throw new IllegalStateException(
            s"incremental PQ log at $persistDir carries an OPQ rotation " +
              "but the store is configured without opq — rebuild the " +
              "store (or delete its _pq dir) to retrain unrotated, or " +
              "restore the opq configuration")
        (persisted, false)
      case None =>
        val train = trainOn
        val m0 =
          if (m > 0) m
          else Pq.defaultParams(
            train.select(size(col("vector"))).head().getInt(0))._1
        val fresh: ModelState =
          if (nlist > 0) {
            // routed: train the coarse quantizer + residual codebooks in
            // one pass (IvfPq.build/buildOpq — their encoded frame is
            // lazy and never materialized here; the per-segment
            // re-encode below is the one that runs)
            val idx =
              if (opq) IvfPq.buildOpq(train, nlist, m0, ksub, maxIter,
                metric = metric)
              else IvfPq.build(train, nlist, m0, ksub, maxIter, metric)
            ModelState(idx.pq, Some(idx.coarse), idx.rotation, metric)
          } else {
            val mod =
              if (opq) Pq.trainOpq(train, m0, ksub, maxIter, metric = metric)
              else Pq.train(train, m0, ksub, maxIter, metric)
            ModelState(mod, None, None, metric)
          }
        (fresh, true)
    }
    val log = new PqLog(spark, st.model, Some(persistDir), st.coarse,
      st.outerRotation, Some(st.outerMetric))
    // a RETRAINED model must not trust any surviving piece dir: those
    // codes belong to LOST codebooks; the model's _COMMIT is dropped
    // before the write and withheld until every piece is re-encoded
    log.load(segs, segVec, markers,
      if (!retrained) None
      else Some((commitMarker(spark, persistDir)._1,
        () => writeModel(spark, persistDir, st))))
    log
  }
}
