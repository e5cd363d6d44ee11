package graft

import graft.vector._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index lifecycle + recall tests mirroring *_index_search_test.go: flat is
  * the exact oracle; ANN variants must hit recall bounds on the synthetic
  * grid fixture (FIXTURES.md §1 `synthetic_grid_10d`). */
class VectorIndexSpec extends SparkSpec {

  /** 500 vectors, 10-dim, v[j] = (i*10 + j) % 100 — the reference's recall
    * fixture (hnsw_index_search_test.go:993-1040). */
  private lazy val grid: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 500).map { i =>
      (i.toLong, Array.tabulate(10)(j => ((i * 10 + j) % 100).toFloat))
    }.toDF("id", "vector")
  }

  private def queryOf(id: Long): DataFrame =
    grid.filter(col("id") === id)
      .select(col("id").as("qid"), col("vector").as("qvec"))

  private def resultIds(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq

  private lazy val flatTop10: Seq[Long] =
    resultIds(FlatKnn.search(grid, queryOf(7), 10, Metric.L2))

  test("flat: self is nearest, k>n returns all, threshold filters") {
    val res = FlatKnn.search(grid, queryOf(7), 10, Metric.L2).collect()
    assert(res.head.getLong(1) == 7L)
    assert(res.head.getDouble(2) == 0.0)
    assert(FlatKnn.search(grid, queryOf(7), 0, Metric.L2).count() == 500)
    val thresholded = FlatKnn.search(grid, queryOf(7), 0, Metric.L2,
      threshold = Some(50.0))
    assert(thresholded.agg(max("score")).head().getDouble(0) <= 50.0)
  }

  test("flat: top-k invariant under partitioning (local-heap pruning)") {
    // the per-partition heap prune must not change results — compare the
    // same multi-query search across partition layouts, including skewed
    val qs = grid.filter(col("id").isin(3, 7, 11))
      .select(col("id").as("qid"), col("vector").as("qvec"))
    def run(data: DataFrame) =
      FlatKnn.search(data, qs, 10, Metric.L2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val base = run(grid.repartition(1))
    assert(run(grid.repartition(7)) == base)
    assert(run(grid.repartition(64)) == base) // partitions >> rows/per query
    assert(run(grid.repartition(col("id") % 3)) == base)
  }

  test("flat: document prefilter restricts the search space") {
    val s = spark
    import s.implicits._
    val cands = (0L until 100L).toDF("id")
    val res = resultIds(FlatKnn.search(grid, queryOf(7), 10, Metric.L2,
      candidates = Some(cands)))
    assert(res.forall(_ < 100L))
  }

  test("kmeans: deterministic across runs, centroids = means") {
    val m1 = Kmeans.train(grid, 5, 10)
    val m2 = Kmeans.train(grid, 5, 10)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    assert(m1.k == 5 && m1.dim == 10)
  }

  test("ivf: nprobe = nlist is exact (equals flat)") {
    val idx = Ivf.build(grid, nlist = 8, maxIter = 10)
    val ivfIds = resultIds(Ivf.search(idx, queryOf(7), 10, nprobe = 8))
    assert(ivfIds == flatTop10)
  }

  test("ivf: small nprobe keeps recall on the grid (>=8/10)") {
    val idx = Ivf.build(grid, nlist = 8, maxIter = 10)
    val ivfIds = resultIds(Ivf.search(idx, queryOf(7), 10, nprobe = 2))
    assert((ivfIds.toSet & flatTop10.toSet).size >= 8)
  }

  /** Random 32-dim vectors — the grid fixture contains ~50 exact
    * duplicates of every query (v[(i+10k)*10+j] ≡ v[i*10+j] mod 100),
    * which is adversarial for PQ/HNSW in ways real embeddings aren't. */
  private lazy val randVecs: DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 500).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vector").cache()
  }

  private def randQuery: DataFrame = randVecs.filter(col("id") === 7)
    .select(col("id").as("qid"), col("vector").as("qvec"))

  private lazy val randFlatTop10: Seq[Long] =
    resultIds(FlatKnn.search(randVecs, randQuery, 10, Metric.L2))

  test("pq: fine codebooks converge to exact ranking; coarse stay sane") {
    // ksub ~ n -> near-zero quantization error -> ADC ≈ exact distances.
    // (On 32-dim gaussians with coarse codebooks recall is legitimately low
    // — distance concentration — so exactness-in-the-limit is the correct
    // mechanical check, recall bounds belong to structured data.)
    val fine = Pq.train(randVecs, m = 8, ksub = 256, maxIter = 5)
    val fineIds = resultIds(
      Pq.search(Pq.encode(randVecs, fine), fine, randQuery, 10))
    assert((fineIds.toSet & randFlatTop10.toSet).size >= 8)
    assert(fineIds.head == 7L) // self still wins

    val coarse = Pq.train(randVecs, m = 8, ksub = 32, maxIter = 10)
    val encoded = Pq.encode(randVecs, coarse)
    assert(encoded.head().getSeq[Int](1).length == 8)
    val coarseIds = resultIds(Pq.search(encoded, coarse, randQuery, 10))
    assert((coarseIds.toSet & randFlatTop10.toSet).size >= 3)
  }

  test("ivfpq: runs end-to-end with sane recall (>=5/10)") {
    val idx = IvfPq.build(grid, nlist = 4, m = 5, ksub = 32, maxIter = 10)
    val ids = resultIds(IvfPq.search(idx, queryOf(7), 10, nprobe = 2))
    assert((ids.toSet & flatTop10.toSet).size >= 5)
  }

  test("hnsw: recall >= 9/10 on random vectors (cf. hnsw_index_search_test.go:993-1040)") {
    val ids = resultIds(Hnsw.search(randVecs.repartition(2), randQuery, 10,
      m = 16, efConstruction = 200, efSearch = 200))
    assert((ids.toSet & randFlatTop10.toSet).size >= 9)
  }

  test("pq/ivfpq: high recall on PQ-faithful subspace geometry (regression " +
       "gate for the ADC/codebook path)") {
    // Product-of-subspace-anchors data (the PQ-faithful geometry):
    // each of 4 subspaces draws one of 32 anchors by murmur3 of
    // (id, subspace), plus small noise. The true top-k ranking is decided
    // by WHICH anchors rows share — exactly what ADC reconstructs — so a
    // correct PQ scores high recall HERE even though it legitimately floors
    // on isotropic noise (distance concentration; see the convergence test
    // above). A codebook-training or ADC-table regression craters this.
    val n = 20000
    val vecs = spark.range(n).select(col("id"), expr(
      "transform(sequence(0, 31), j -> cast(" +
        "sin(pmod(hash(id, j div 8), 32) * 131 + (j % 8) * 7 + (j div 8) * 997) * 100 " +
        "+ sin(id * 13 + j * 29) * 1.5 as float))").as("vector"))
      .repartition(4).cache()
    val queries = vecs.filter(col("id") % 2500 === 7)
      .select(col("id").as("qid"), col("vector").as("qvec")).cache()
    val truth = FlatKnn.search(vecs, queries, 20, Metric.L2)
      .select("qid", "id")
    def recallOf(res: DataFrame): Double =
      res.select("qid", "id").join(truth, Seq("qid", "id"), "left_semi")
        .count().toDouble / truth.count()

    val pq = Pq.train(vecs, m = 4, ksub = 64, maxIter = 8)
    val pqRec = recallOf(Pq.search(Pq.encode(vecs, pq), pq, queries, 20))
    assert(pqRec >= 0.90, s"PQ subspace recall@20 = $pqRec, want >= 0.90")

    val ivfpq = IvfPq.build(vecs, nlist = 16, m = 4, ksub = 64, maxIter = 8)
    val ipRec = recallOf(
      IvfPq.search(IvfPq.Index(IvfPq.encode(vecs, ivfpq), ivfpq.coarse,
        ivfpq.pq), queries, 20, nprobe = 4))
    assert(ipRec >= 0.60, s"IVFPQ subspace recall@20 = $ipRec, want >= 0.60")
    vecs.unpersist(); queries.unpersist()
  }

  test("hnsw local graph: exact on tiny sets") {
    val g = new Hnsw.LocalGraph(4, 50)
    val vecs = Seq(
      1L -> Array(0f, 0f), 2L -> Array(1f, 0f), 3L -> Array(10f, 10f),
      4L -> Array(0.1f, 0f))
    vecs.foreach { case (id, v) => g.add(id, v) }
    val res = g.search(Array(0f, 0f), 2, 10)
    assert(res.map(_._1) == Seq(1L, 4L))
  }

  test("hnsw: persisted graph round-trips without rebuild") {
    val idx = Hnsw.build(grid.repartition(4))
    val path = java.nio.file.Files.createTempDirectory("hnsw-persist").toString
    Hnsw.write(idx, path)
    val loaded = Hnsw.read(spark, path)
    val before = Hnsw.searchIndex(idx, queryOf(7), 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val after = Hnsw.searchIndex(loaded, queryOf(7), 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(after == before) // identical graph => identical search
  }

  test("ivf partitioned write enables partition pruning") {
    val idx = Ivf.build(grid, nlist = 4, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Ivf.writePartitioned(idx, dir)
    val read = spark.read.parquet(dir).filter(col("cluster") === 1)
    val plan = read.queryExecution.executedPlan.toString
    assert(read.count() > 0)
    assert(plan.contains("cluster") || read.inputFiles.forall(_.contains("cluster=1")))
  }

  test("ivf SEARCH on a reloaded partitioned index prunes statically to the probed lists") {
    val idx = Ivf.build(grid, nlist = 4, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf-search-prune").toString
    Ivf.writePartitioned(idx, dir)
    val readBack = Ivf.Index(
      spark.read.parquet(dir).select("id", "vector", "cluster"), idx.model)
    val res = Ivf.search(readBack, queryOf(7), 5, nprobe = 1)
    // the driver-known probe list becomes a literal IN filter, which the
    // scan consumes as a PartitionFilter over the cluster= directories —
    // a broadcast join alone would read every cluster (no DPP against a
    // LocalRelation build side)
    // (inputFiles can't show this — it lists the relation's files BEFORE
    // pruning; the scan node's PartitionFilters is the authoritative record)
    val scan = res.queryExecution.executedPlan.toString
    // Catalyst renders a single-element probe list as `cluster = <lit>`
    // (OptimizeIn rewrites IN(one) to EqualTo) and multi-element lists as
    // `cluster IN (...)` — both are the literal partition filter we want
    assert("cluster#\\d+ (IN \\(|= )".r.findFirstIn(scan).isDefined,
      s"expected a literal cluster partition filter in:\n$scan")
    // and the pruned search still returns the probed list's rows
    assert(res.count() > 0)
  }
}
