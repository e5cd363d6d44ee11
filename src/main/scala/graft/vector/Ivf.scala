package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) index: k-means partitions + nprobe-pruned search.
  *
  * Reference: `/root/reference/ivf_index.go:206-280` (train + assign),
  * `ivf_index_search.go:217-322` (rank centroids, scan nprobe lists
  * exhaustively).
  *
  * Spark mapping (SURVEY.md §2.8): the inverted lists ARE a `cluster`
  * column. Persisted with `writePartitioned` the cluster becomes a physical
  * partition key, so `cluster IN (probes)` is partition pruning — the scan
  * reads only nprobe/nlist of the data, which is exactly the reference's
  * speedup, but disk-pruned instead of pointer-chased. Centroid ranking
  * happens on the driver (nlist × dim floats — tiny), like the reference.
  */
object Ivf {

  /** `metric` records the BUILD-side preprocessing (the reference
    * serializes its distanceKind with every index, ivf_index.go:512-519):
    * under Cosine the stored vectors are unit-normalized, so searching
    * them with a raw-L2 scoring expression would measure a different
    * space. [[search]] still takes its metric per call (cosine is
    * scale-invariant, so Cosine/CosinePreNorm over a cosine-built index
    * are both exact); [[Hybrid]] enforces consistency at its boundary. */
  final case class Index(assigned: DataFrame, model: Kmeans.Model,
                         metric: Metric = Metric.L2)

  /** Assign every row to its nearest centroid (codegen'd kernel — the
    * per-row ingest hot path, ivf_index.go:251-280).
    *
    * `metric = Cosine` applies the reference's normalize-at-insert
    * preprocessing (ivf_index.go stores `distance.Preprocess`ed vectors):
    * rows are unit-normalized BEFORE k-means, so centroids respect angular
    * geometry and nprobe routing matches the reference's under cosine.
    * Cosine scoring itself is scale-invariant, so search with
    * `Metric.Cosine` returns identical scores either way — the metric here
    * only changes what k-means clusters. */
  def build(data: DataFrame, nlist: Int, maxIter: Int = 20,
            metric: Metric = Metric.L2): Index = {
    val prepped = Pq.prepData(data, metric)
    val model = Kmeans.train(prepped, nlist, maxIter)
    Index(prepped.withColumn("cluster",
      graft.expr.CentroidKernels.nearestCentroid(col("vector"),
        model.centroids)), model, metric)
  }

  /** Incremental ADD (ivf_index.go:251-280): assign the new batch to the
    * EXISTING centroids and append — no retrain, same as the reference.
    * Centroid drift under heavy adds is handled by a periodic rebuild,
    * exactly like the reference's retrain guidance. */
  def add(index: Index, data: DataFrame): Index =
    // new rows get the SAME build-side preprocessing (Preprocess-then-
    // assign, ivf_index.go:251-280) and the metric survives the copy —
    // appending raw rows to a cosine index would route them by raw L2
    // against unit-space centroids and mix score spaces
    index.copy(assigned = index.assigned.unionByName(
      Pq.prepData(data, index.metric).withColumn("cluster",
        graft.expr.CentroidKernels.nearestCentroid(col("vector"),
          index.model.centroids))))

  /** Incremental DELETE with flush semantics: the reference soft-deletes
    * (Remove marks, search skips, Flush purges the lists —
    * ivf_index_test.go:227-379); we go straight to the flushed state by
    * filtering the assigned frame. Centroids are untouched, like the
    * reference's Flush (the coarse quantizer is train-time state).
    * Removing an absent id is harmless (ivf_index_test.go:285-306). */
  def delete(index: Index, ids: Seq[Long]): Index =
    index.copy(assigned = index.assigned.filter(!col("id").isin(ids: _*)))

  /** Persist as cluster-partitioned parquet: nprobe search = partition
    * pruning on read. The artifact is SELF-CONTAINED like the reference's
    * serialization (centroids + distanceKind + lists in one blob,
    * ivf_index.go:496-560): centroids and the metric ride along in
    * underscore-prefixed entries that parquet readers of the data dir
    * skip, so `spark.read.parquet(path)` still sees only the rows. */
  def writePartitioned(index: Index, path: String): Unit = {
    index.assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"$path/_centroids")
    Pq.writeMeta(spark, path,
      s"""{"metric":"${Pq.metricName(index.metric)}"}""")
  }

  /** Reload a [[writePartitioned]] artifact into a full Index — centroids,
    * metric, and the cluster-partitioned rows (partition pruning intact;
    * the `cluster IN (probes)` filter lands as PartitionFilters). */
  def readPartitioned(spark: org.apache.spark.sql.SparkSession,
                      path: String): Index = {
    val rows = spark.read.parquet(s"$path/_centroids").orderBy("cid").collect()
    val centroids = rows.map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    val met = Pq.requiredMetric(spark, path)
    Index(spark.read.parquet(path).select(col("id"), col("vector"), col("cluster")),
      Kmeans.Model(centroids), met)
  }

  /** nprobe search. `queries` must be small (collected to rank centroids,
    * then broadcast back — same driver-side centroid ranking as
    * ivf_index_search.go:252-261). nprobe >= nlist degenerates to exact
    * flat search.
    *
    * @param threshold  keep results with score <= threshold (distance
    *                   metrics only; ivf_index_search.go:294-297)
    * @param candidates optional (id) frame restricting the searchable set —
    *                   comet's WithDocumentIDs on IVF
    *                   (ivf_index_search.go:287-290) as a semi-join applied
    *                   BEFORE scoring, so pruned rows never hit the distance
    *                   kernel
    */
  def search(index: Index, queries: DataFrame, k: Int, nprobe: Int,
             metric: Metric = Metric.L2,
             threshold: Option[Double] = None,
             candidates: Option[DataFrame] = None,
             sorted: Boolean = true): DataFrame = {
    require(threshold.isEmpty || metric.ascending,
      "threshold is a distance cutoff; unsupported with a similarity " +
        "(descending) metric — it would be silently ignored")
    val spark = index.assigned.sparkSession
    val qs = collectQueries(queries)
    val np = math.max(1, math.min(nprobe, index.model.k))
    // (qid, qvec, probed cluster) — tiny, broadcast into the cluster join
    val probeRows = qs.flatMap { case (qid, qv) =>
      index.model.ranked(qv, np).map(c => (qid, qv, c))
    }
    import spark.implicits._
    val probes = spark.createDataFrame(probeRows.toIndexedSeq)
      .toDF("qid", "qvec", "cluster")
    val base0 = candidates match {
      case Some(c) => index.assigned
        .join(c.select(col("id")), Seq("id"), "left_semi")
      case None    => index.assigned
    }
    // The probed list ids are known DRIVER-side — state them as a literal
    // IN predicate so a `writePartitioned` (cluster=…) layout prunes
    // partitions STATICALLY at the scan. The broadcast join alone cannot:
    // dynamic partition pruning needs a selective build-side predicate and
    // won't fire against a constructed LocalRelation, so without this a
    // reloaded index scans every cluster directory (verified in PLANS.md).
    val probedClusters = probeRows.map(_._3).distinct.toSeq
    val base =
      if (probedClusters.isEmpty) base0
      else base0.filter(col("cluster").isin(probedClusters: _*))
    val scored = base
      .join(broadcast(probes), "cluster")
      .select(col("qid"), col("id"),
        metric.expr(col("vector"), col("qvec")).as("score"))
    val thresholded = threshold match {
      case Some(t) if metric.ascending => scored.filter(col("score") <= t)
      case _                           => scored
    }
    FlatKnn.topKPerQuery(thresholded, k, metric.ascending, sorted)
  }

  /** Node-based "more like this" on the IVF index: the stored vectors of
    * `nodeIds` become the query set (the per-index node search the
    * reference exposes alongside HNSW's, hnsw_index_search.go:212-226). */
  def searchByNodes(index: Index, nodeIds: Seq[Long], k: Int, nprobe: Int,
                    metric: Metric = Metric.L2): DataFrame = {
    val queries = index.assigned
      .filter(col("id").isin(nodeIds: _*))
      .select(col("id").as("qid"), col("vector").as("qvec"))
    search(index, queries, k, nprobe, metric)
  }

  private[vector] def collectQueries(queries: DataFrame): Array[(Long, Array[Float])] =
    queries.select(col("qid").cast("long"), col("qvec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
}
