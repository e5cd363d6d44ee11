package graft

import graft.core.Tables
import graft.expr.Quantizers
import graft.filter.{Filter, FilterGroup, Filters}
import graft.fusion.Fusion
import graft.hybrid.Hybrid
import graft.pipeline.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.text.BM25
import graft.vector.{FlatKnn, Hnsw, Ivf, IvfPq, Metric, Pq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — each entry in [[queries]] is an implemented operator
  * from SURVEY.md §2 (or a training-data pipeline op); [[oracleSql]] holds
  * the equivalent DuckDB SQL over the same parquet tables.
  *
  * Determinism rules shared by both sides: all float math in DOUBLE,
  * identical fold order, outputs rounded (2-6 dp), every result totally
  * ordered with an id tie-break.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def emb(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").as("vector"), col("label"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")

  /** One BM25 corpus per sf-dir, built once and persisted — an engine
    * builds its inverted index once and serves many queries from it
    * (comet holds the postings in memory for the index lifetime,
    * bm25_index.go:98-122). Six queries share this. */
  private val corpora =
    scala.collection.concurrent.TrieMap.empty[String, graft.text.BM25Corpus]
  private def corpus(s: SparkSession, dir: String): graft.text.BM25Corpus =
    corpora.getOrElseUpdate(dir, {
      val c = BM25.build(docs(s, dir), "doc_id", "text")
      // docLens persists too (r20): delete/upsert consult it for overlap
      // probes and stats deltas — left lazy it re-tokenized the whole
      // corpus on every bm25_delete/bm25_upsert invocation
      c.copy(postings = c.postings.persist(), termDf = c.termDf.persist(),
        stats = c.stats.persist(), docLens = c.docLens.persist())
    })

  /** Per-(query, dir) fixture cache: stores, persisted artifacts, and
    * derived corpora that a query only needs built ONCE per sf-dir — an
    * engine ingests/writes once and serves many reads (comet opens its
    * store once, storage.go:120-220), so re-running a query times the
    * serving operation, not a re-ingest. Correctness is unaffected: the
    * first invocation in any session does the full build. */
  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), Any]
  private def fixture[T](name: String, dir: String)(build: => T): T =
    fixtures.getOrElseUpdate((name, dir), build).asInstanceOf[T]

  /** Scratch dir for a per-dir FIXTURE: the path must be scoped by the
    * sf-dir as well as the prefix — fixtures cache the returned path per
    * (name, dir), so a prefix-only path would let a second sf-dir's build
    * WIPE the first dir's artifact while its fixture still points there. */
  private def fixtureScratchDir(prefix: String, dir: String): String =
    scratchDir(prefix + "-" + dir.replaceAll("\\W", "_"))

  private def persistedCorpus(c: graft.text.BM25Corpus): graft.text.BM25Corpus =
    c.copy(postings = c.postings.persist(), termDf = c.termDf.persist(),
      stats = c.stats.persist(),
      docLens = if (c.docLens == null) null else c.docLens.persist())

  /** Vector indexes likewise build once per sf-dir and serve every query
    * (comet trains/loads an index once, then searches it many times —
    * ivf_index.go:206-235, pq_index.go:193-247). The assigned/encoded
    * frames are persisted so probes scan memory, not parquet. */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[String, Ivf.Index]
  private def ivfIndex(s: SparkSession, dir: String): Ivf.Index =
    ivfCache.getOrElseUpdate(dir, {
      val idx = Ivf.build(emb(s, dir).select("id", "vector"), nlist = 8,
        maxIter = 10)
      idx.copy(assigned = idx.assigned.persist())
    })

  /** Half-corpus IVF (even ids only) — the pre-existing index that
    * `ivf_add` appends to. An incremental add runs against an index that
    * already exists (ivf_index.go:251-280 assigns into trained lists; it
    * never retrains), so the fixture is built once per sf-dir and each
    * `ivf_add` invocation times the actual add + probe-all search. */
  private val ivfHalfCache =
    scala.collection.concurrent.TrieMap.empty[String, Ivf.Index]
  private def ivfHalfIndex(s: SparkSession, dir: String): Ivf.Index =
    ivfHalfCache.getOrElseUpdate(dir, {
      val idx = Ivf.build(
        emb(s, dir).select("id", "vector").filter(col("id") % 2 === 0),
        nlist = 8, maxIter = 10)
      idx.copy(assigned = idx.assigned.persist())
    })

  /** IVF with INIT-ONLY centroids (maxIter = 0): the uniform-spaced init
    * rows (clustering.go:147-162 — every (n/k)-th vector in id order) ARE
    * the centroids, so the nprobe < nlist pruning is exactly reproducible
    * in the SQL oracle — same pruning code path as the trained index. */
  private val ivf0Cache =
    scala.collection.concurrent.TrieMap.empty[String, Ivf.Index]
  private def ivf0Index(s: SparkSession, dir: String): Ivf.Index =
    ivf0Cache.getOrElseUpdate(dir, {
      val idx = Ivf.build(emb(s, dir).select("id", "vector"), nlist = 8,
        maxIter = 0)
      idx.copy(assigned = idx.assigned.persist())
    })

  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, (Pq.Model, DataFrame)]
  private def pqIndex(s: SparkSession, dir: String): (Pq.Model, DataFrame) =
    pqCache.getOrElseUpdate(dir, {
      val data = emb(s, dir).select("id", "vector")
      val model = Pq.train(data, m = 8, ksub = 16, maxIter = 10)
      (model, Pq.encode(data, model).persist())
    })

  /** PQ with INIT-ONLY codebooks (maxIter = 0): the uniform-spaced init
    * rows (clustering.go:147-162) sliced per subspace ARE the codebooks,
    * so PQ encode (argmin per subspace) and the ADC sum are exactly
    * expressible in the SQL oracle — the same trick that oracle-backed
    * `ivf_probe`. The TRAINED path stays covered by `pq_persist` (exact
    * round-trip certificate) and the convergence specs. */
  private val pq0Cache =
    scala.collection.concurrent.TrieMap.empty[String, (Pq.Model, DataFrame)]
  private def pq0Index(s: SparkSession, dir: String): (Pq.Model, DataFrame) =
    pq0Cache.getOrElseUpdate(dir, {
      val data = emb(s, dir).select("id", "vector")
      val model = Pq.train(data, m = 8, ksub = 16, maxIter = 0)
      (model, Pq.encode(data, model).persist())
    })

  /** TRAINED IVFPQ (maxIter = 10) — the production configuration; its ADC
    * path is pinned end-to-end by the `ivfpq_adc_trained` certificate. */
  private val ivfpqCache =
    scala.collection.concurrent.TrieMap.empty[String, IvfPq.Index]
  private def ivfpqIndex(s: SparkSession, dir: String): IvfPq.Index =
    ivfpqCache.getOrElseUpdate(dir, {
      val idx = IvfPq.build(emb(s, dir).select("id", "vector"), nlist = 8,
        m = 8, ksub = 16, maxIter = 10)
      idx.copy(encoded = idx.encoded.persist())
    })

  /** IVFPQ with INIT-ONLY coarse centroids AND residual codebooks
    * (maxIter = 0 everywhere): cluster assignment, float residuals, PQ
    * codes and the per-cluster ADC scan all become deterministic functions
    * of the data — SQL-oracle-expressible end to end. */
  private val ivfpq0Cache =
    scala.collection.concurrent.TrieMap.empty[String, IvfPq.Index]
  private def ivfpq0Index(s: SparkSession, dir: String): IvfPq.Index =
    ivfpq0Cache.getOrElseUpdate(dir, {
      val idx = IvfPq.build(emb(s, dir).select("id", "vector"), nlist = 8,
        m = 8, ksub = 16, maxIter = 0)
      idx.copy(encoded = idx.encoded.persist())
    })

  /** Duplicate clusters per sf-dir: pair generation + connected components
    * run once, shared by the cluster and prune stages of the pipeline. */
  private val clustersCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def clustersOf(s: SparkSession, dir: String): DataFrame =
    clustersCache.getOrElseUpdate(dir,
      Dedup.duplicateClusters(
        Dedup.minhashPairs(docs(s, dir), "doc_id", "text")).persist())

  /** The total HNSW beam the oracle-checked queries search with: each of
    * an index's n shards gets ceil(ExhaustiveEf / n) of it
    * (`Hnsw.shardBeam`), at least 2,048 up to 32 shards, more than the
    * whole corpus at correctness scale (2,000 vectors at sf0.1). So the
    * beam never stops early and visits every node of each connected shard
    * graph — exhaustive, exact search, which the flat SQL oracles can
    * check. */
  private val ExhaustiveEf = 1 << 16

  private val hnswCache =
    scala.collection.concurrent.TrieMap.empty[String, Hnsw.Index]
  private def hnswIndex(s: SparkSession, dir: String): Hnsw.Index =
    hnswCache.getOrElseUpdate(dir,
      Hnsw.build(emb(s, dir).select("id", "vector")))

  private val hnswCosCache =
    scala.collection.concurrent.TrieMap.empty[String, Hnsw.Index]
  private def hnswCosIndex(s: SparkSession, dir: String): Hnsw.Index =
    hnswCosCache.getOrElseUpdate(dir,
      Hnsw.build(emb(s, dir).select("id", "vector"), metric = Metric.Cosine))

  /** deleteFlush materializes a fresh resident copy of every shard graph —
    * cache it per dir so repeated runs (Verify then Bench) reuse ONE copy
    * instead of leaking a persisted RDD per invocation. */
  private val hnswDeleteCache =
    scala.collection.concurrent.TrieMap.empty[(String, Seq[Long]), Hnsw.Index]
  private def hnswDeleted(s: SparkSession, dir: String,
                          ids: Seq[Long]): Hnsw.Index =
    hnswDeleteCache.getOrElseUpdate((dir, ids.sorted),
      Hnsw.deleteFlush(hnswIndex(s, dir), ids))

  /** Materialize the shared per-dir index caches (bench warmup — an
    * engine builds its indexes once and serves queries from them; timed
    * queries then measure search, the reference baseline's accounting). */
  def warmIndexes(s: SparkSession, dir: String): Unit = {
    val c = corpus(s, dir)
    c.postings.count(); c.termDf.count(); c.stats.count(); c.docLens.count()
    ivfIndex(s, dir).assigned.count()
    ivf0Index(s, dir).assigned.count()
    pqIndex(s, dir)._2.count()
    pq0Index(s, dir)._2.count()
    ivfpq0Index(s, dir).encoded.count()
    ivfpqIndex(s, dir).encoded.count()
    hnswIndex(s, dir).graphs.count()
    hnswCosIndex(s, dir).graphs.count()
    clustersOf(s, dir).count()
    ()
  }

  /** Scratch dir under target/ for persistence round-trip queries. FIXED
    * path per prefix, wiped before reuse — repeated Verify/Bench runs
    * replace the previous copy instead of accumulating temp dirs until the
    * disk fills. */
  private def scratchDir(prefix: String): String = {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "target",
      "graft-scratch", prefix)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** The query vector, collected once per (dir, qid) and re-issued as a
    * LocalRelation: an engine takes the query as a search ARGUMENT (comet's
    * WithQuery), it doesn't re-scan storage for it on every search. The
    * LocalRelation collects driver-side with zero jobs and broadcasts for
    * free. */
  private val qvecCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]
  private def queryVec(s: SparkSession, dir: String, qid: Long = 0L): DataFrame =
    qvecCache.getOrElseUpdate((dir, qid), {
      import s.implicits._
      val row = emb(s, dir).filter(col("id") === qid)
        .select(col("id"), col("vector")).head()
      Seq((row.getLong(0), row.getSeq[Float](1).toArray))
        .toDF("qid", "qvec")
    })

  /** Flagship: full hybrid search (metadata filter → vector + text → RRF
    * fusion → top-k) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("hybrid_full")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  /** Round + re-sort a (vec_id, dist) knn result for cross-engine compare. */
  private def knnOut(df: DataFrame): DataFrame =
    df.select(col("id").as("vec_id"), round(col("score"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))

  private val knnSqlPrefix =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)""".stripMargin

  private def l2Sql(extra: String) =
    s"""$knnSqlPrefix
       |SELECT vec_id, round(dist, 6) AS dist FROM (
       |  SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
       |    x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
       |  FROM e CROSS JOIN q $extra
       |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
       |ORDER BY dist ASC, vec_id ASC""".stripMargin

  // -------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesCore ++ queriesVector ++ queriesPipeline

  private def queriesCore: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core: scan/filter/agg/join/window/sort/limit ---
    // hierarchical totals: ROLLUP over (returnflag, linestatus) with
    // grouping_id — subtotal + grand-total rows in one pass
    "q1_rollup" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy(col("gid"), col("rf"), col("ls"))
    }),
    "q1_agg" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q3_topk" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      val rev = c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("raw_rev"))
        .orderBy(col("raw_rev").desc, col("o_orderkey")).limit(10)
      rev.select(col("o_orderkey"), round(col("raw_rev"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
    }),
    "q5_join" -> ((s, dir) => {
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("num_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("n_name"))
    }),
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q_semi" -> ((s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_anti" -> ((s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_events_window" -> ((s, dir) => {
      // DECIMAL sum, no rounding: double summation is order-dependent
      // (partition order varies run to run and engine to engine), and
      // rounding an AVERAGE is engine-dependent exactly where it matters —
      // 2-dp event values make group averages land on exact 4-dp halves
      // (sf0.1: 1512.12/32 = 47.25375), where Spark's round (shortest
      // decimal string, HALF_UP) and DuckDB's (binary value) disagree.
      // The exact decimal SUM is associative and converts to the same
      // double in both engines — bit-stable with no rounding at all.
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(28,10)")).as("sv"))
        .select(col("w.start").cast("string").as("w_start"), col("event_type"),
          col("cnt"), col("sv").cast("double").as("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),
    "q_events_json" -> ((s, dir) => {
      T(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1)
          .cast("long"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    // deletes-as-data: tombstone anti-join (SURVEY.md §2.8 soft deletes)
    "q_tombstone" -> ((s, dir) => {
      val tomb = T(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("l_orderkey"))
      T(s, dir, "lineitem")
        .join(tomb, Seq("l_orderkey"), "left_anti")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // --- metadata filter algebra (Filter ADT → Column) ---
    "f_eq_in" -> ((s, dir) => {
      T(s, dir, "part").filter(Filters.compileAll(Seq(
          Filter.Eq("p_brand", "Brand#1"),
          Filter.In("p_type", Seq("ECONOMY", "PROMO")))))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),
    "f_range" -> ((s, dir) => {
      T(s, dir, "part").filter(Filters.compileAll(Seq(
          Filter.Between("p_retailprice", 950.0, 960.0),
          Filter.Gte("p_size", 10))))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),
    "f_dnf" -> ((s, dir) => {
      // same groups via the fluent Where/And/Or builder
      T(s, dir, "part").filter(
        graft.filter.FilterBuilder
          .where(Filter.Eq("p_brand", "Brand#1")).and(Filter.Lt("p_size", 10))
          .orWhere(Filter.Eq("p_type", "PROMO"))
          .and(Filter.Gt("p_retailprice", 995.0))
          .compile())
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
        .orderBy(col("p_partkey"))
    }),
    "f_not" -> ((s, dir) => {
      T(s, dir, "part").filter(Filters.compileAll(Seq(
          Filter.Not(Filter.Between("p_size", 5, 45)),
          Filter.Ne("p_brand", "Brand#2"))))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),
    "f_null" -> ((s, dir) => {
      T(s, dir, "part")
        .withColumn("b", expr("nullif(p_brand, 'Brand#1')"))
        .filter(Filters.compileGroups(Seq(
          FilterGroup(Seq(Filter.NotExists("b"))),
          FilterGroup(Seq(Filter.NotIn("b", Seq("Brand#2", "Brand#3")),
            Filter.Eq("p_size", 1))))))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),
    // list-valued metadata fields: comet posts every element of a []string
    // tag list to the metadata index (node.go:130,150;
    // metadata_index.go:279-296), so query-side IN matches when ANY tag is
    // in the set; AnyIn/NoneIn compile to arrays_overlap over an array
    // column — pushdown-friendly, no explode
    "f_tags" -> ((s, dir) => {
      docs(s, dir).withColumn("tags", array(col("lang"), col("source")))
        .filter(Filters.compileGroups(Seq(
          FilterGroup(Seq(Filter.AnyIn("tags", Seq("de", "fr")))),
          FilterGroup(Seq(Filter.NoneIn("tags", Seq("en")),
            Filter.Lt("n_chars", 200))))))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- vector: flat exact kNN (the ANN oracle) ---
    "knn_l2" -> ((s, dir) =>
      knnOut(FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 10, Metric.L2))),
    "knn_cosine" -> ((s, dir) =>
      knnOut(FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 10, Metric.Cosine))),
    // comet's real cosine path: normalize AT INSERT (distance.go:70-81),
    // then the fast 1-dot distance on unit vectors at query time
    "knn_cosine_prenorm" -> ((s, dir) => {
      val d = graft.expr.Distances
      val data = emb(s, dir)
        .select(col("id"), d.normalized(col("vector")).as("vector"))
      val qv = queryVec(s, dir)
        .select(col("qid"), d.normalized(col("qvec")).as("qvec"))
      knnOut(FlatKnn.search(data, qv, 10, Metric.CosinePreNorm))
    }),
    // flat persistence round trip (the reference's "FLAT" blob,
    // flat_index.go:366-614): vectors stored PRENORMALIZED under cosine
    // (normalize-at-insert), metric restored from the artifact alone;
    // search over the reload must equal the direct cosine search
    "flat_persist" -> ((s, dir) => {
      val path = fixture("flat_artifact", dir) {
        val p = fixtureScratchDir("graft-flat", dir)
        FlatKnn.write(emb(s, dir).select("id", "vector"), Metric.Cosine, p)
        p
      }
      val (data, met) = FlatKnn.read(s, path)
      knnOut(FlatKnn.search(data, queryVec(s, dir), 10, met))
    }),
    "knn_prefilter" -> ((s, dir) => {
      val e = emb(s, dir)
      knnOut(FlatKnn.search(e.select("id", "vector"), queryVec(s, dir), 10,
        Metric.L2,
        candidates = Some(e.filter(col("label").isin(1, 2, 3)).select("id"))))
    }),
    // distance threshold: keep dist <= t before top-k
    // (flat_index_search.go:268-271)
    "knn_threshold" -> ((s, dir) =>
      knnOut(FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 20, Metric.L2, threshold = Some(1.3)))),
    // Norm / Normalize / Scale scalar vector functions
    // (distance.go:312-318, :338-344, :369-388)
    "vec_norm" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("id").between(1, 20))
      val d = graft.expr.Distances
      e.select(col("id").as("vec_id"),
        round(d.norm(col("vector")), 6).as("l2norm"),
        round(element_at(d.normalized(col("vector")), 1), 6).as("unit0"),
        round(d.norm(d.normalized(col("vector"))), 6).as("unit_norm"),
        round(element_at(d.scale(col("vector"), lit(2.5)), 1), 6).as("scaled0"))
        .orderBy(col("vec_id"))
    }),
    // reranker hook (index_search.go:50-60): user function over the final
    // slice — here a deterministic score boost, then re-sort
    "rerank_boost" -> ((s, dir) => {
      val base = FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 10, Metric.L2)
        .select(col("id"), col("score"))
      val boosted = graft.agg.ScoreAgg.rerank(base, rows =>
        rows.map { r =>
          org.apache.spark.sql.Row(r.getLong(0),
            r.getDouble(1) / (1.0 + (r.getLong(0) % 3).toDouble))
        }.sortBy(r => (r.getDouble(1), r.getLong(0))))
      boosted.select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score"), col("vec_id"))
    }),

    // --- text: BM25 ---
    "bm25_search" -> ((s, dir) => {
      val c = corpus(s, dir)
      c.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    "bm25_morelike" -> ((s, dir) => {
      val c = corpus(s, dir)
      c.searchByDocs(Seq(0L), 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // OOV terms mixed into the query contribute NOTHING (they have no
    // postings — bm25_index_search_test.go's no-match rows): scores equal
    // a query over just the present terms, checked against DuckDB
    "bm25_oov" -> ((s, dir) => {
      val c = corpus(s, dir)
      c.search("spark zzzneverseen query qqq999", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // k=0 = ALL matching docs (limiter.go:12-17), and the total order over
    // the resulting mass of near-tied scores must be deterministic
    // (score desc, id asc) — the tie-ordering edge from
    // bm25_index_search_test.go at corpus scale
    "bm25_ties" -> ((s, dir) => {
      val c = corpus(s, dir)
      c.search("the", 0)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // --- training-data pipeline ops ---
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text").orderBy(col("keeper"))),
    // the WHOLE curation pass as one composed pipeline — quality filter
    // (Gopher rules) -> exact-dup removal (min-id keeper) -> deterministic
    // hash split -> per-split doc/token accounting. Every stage is an
    // already-oracled operator; this row proves they COMPOSE (and is the
    // shape a real training-data pass ships)
    "pipeline_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      val kept = TextAnalysis.gopherFilter(d, "doc_id", "text",
          minWords = 25, maxWords = 100000, minMeanWordLen = 3.0,
          maxMeanWordLen = 10.0, minAlphaWordRatio = 0.8, minStopHits = 1,
          maxDupBigram = 0.1, maxTopToken = 0.2)
        .filter(col("keep")).select(col("id").as("doc_id"))
      val filtered = d.join(kept, "doc_id")
      // exact dedup INLINE as a min-over-hash window (same keeper = min id
      // semantics as Dedup.exact) — a keepers self-join would make
      // Catalyst evaluate the whole quality chain twice (no cross-branch
      // CSE); the window is one keyed exchange on the content hash
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash"))
      val deduped = filtered
        .withColumn("content_hash", md5(col("text").cast("binary")))
        .withColumn("keeper", min(col("doc_id")).over(byHash))
        .filter(col("doc_id") === col("keeper"))
      Curation.splitHash(deduped, "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(graft.text.Tokenize.simple(col("text"))).cast("long"))
            .as("n_tokens"))
        .orderBy(col("split"))
    }),
    "text_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // whitespace + BPE-ish pre-tokenizer counts (token-budget accounting
    // for a training corpus — a single projection, no materialized arrays)
    "text_tokcount" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // MassiveText/Gopher repetition signals: dup-bigram + top-token ratios
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))),
    // Gopher-rule document filter: published keep/drop decision with
    // auditable per-rule flags; thresholds tuned to this corpus's spread
    // so keep and drop are both populated
    "quality_gopher" -> ((s, dir) =>
      TextAnalysis.gopherFilter(docs(s, dir), "doc_id", "text",
          minWords = 25, maxWords = 100000,
          minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
          minAlphaWordRatio = 0.8, minStopHits = 1,
          maxDupBigram = 0.1, maxTopToken = 0.2)
        .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))),
    // C4-style page cleaning over PLANTED line structure (the corpus has
    // none): a three-sentence body line, a too-short line, an
    // unpunctuated line, plus lorem-ipsum / curly-brace / two-sentence
    // variants keyed off the doc id so keep and every drop reason are
    // all populated
    "quality_c4" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0,
            lit("only one short planted sentence lives here ."))
            .otherwise(lit("first planted sentence is long enough . " +
              "second one also fine . third completes the required trio .")),
          lit("\ntoo short.\n"),
          col("text"), // the original flat token stream: no terminal punct
          when(col("doc_id") % 13 === 0, lit("\nhidden lorem ipsum marker ."))
            .otherwise(lit("\nanother perfectly ordinary closing sentence .")),
          when(col("doc_id") % 17 === 0, lit("\nconfig { block } found ."))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.c4Filter(planted, "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    }),
    // CCNet-style LM quality signal: add-alpha bigram model trained on
    // the every-5th-doc reference subset, per-doc cross-entropy over its
    // bigrams (DECIMAL-accumulated log-probs, engine-exact)
    "quality_ccnet" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmCrossEntropy(d, d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", alpha = 0.1)
        .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    }),
    // DSIR-style data selection: hashed-unigram importance log-ratios of
    // a target subset (every 5th doc as the target-distribution proxy)
    // against the whole raw pool — per-doc Σ ln(p_t/p_r) over token
    // buckets, DECIMAL-accumulated so the hash compare is engine-exact
    "quality_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.importanceWeights(d, d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", buckets = 4096, alpha = 0.5)
        .withColumnRenamed("id", "doc_id").orderBy(col("doc_id"))
    }),
    // DSIR's resampling step: Gumbel top-k over the importance weights —
    // deterministic hash-derived noise, so the softmax sample is
    // reproducible and exactly SQL-expressible
    "quality_dsir_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = Curation.importanceWeights(d,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        buckets = 4096, alpha = 0.5)
      Curation.importanceResample(w, "id", "log_weight", n = 50)
        .select(col("id").as("doc_id"),
          round(col("log_weight"), 6).as("log_weight"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    }),
    // PII scrub with planted email/IP/digit-run per doc — the redaction
    // strings hash-compare, so the regex semantics must match exactly
    "text_redact" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com from 10.0.0."), col("doc_id") % 256,
          lit(" ref 123456789")).as("text"))
      TextAnalysis.redact(planted, "doc_id", "text").orderBy(col("doc_id"))
    }),
    "mm_binary" -> ((s, dir) =>
      Multimodal.binaryMeta(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")))
  )

  private def queriesVector: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVF probing all lists == exact flat search (the oracle-able IVF path;
    // with nprobe < nlist results depend on the learned centroids)
    "ivf_exact" -> ((s, dir) =>
      knnOut(Ivf.search(ivfIndex(s, dir), queryVec(s, dir), 10, nprobe = 8))),
    // nprobe < nlist pruning, oracle-backed: init-only centroids (see
    // ivf0Index) make the centroid ranking + list pruning exactly
    // expressible in SQL (ivf_index_search.go:252-301)
    "ivf_probe" -> ((s, dir) =>
      knnOut(Ivf.search(ivf0Index(s, dir), queryVec(s, dir), 10, nprobe = 2))),
    // incremental IVF add: train on half, assign-and-append the rest to
    // the existing centroids (no retrain) — probe-all search is still
    // exact, so the flat-kNN oracle applies (ivf_index.go:251-280)
    "ivf_add" -> ((s, dir) => {
      val e = emb(s, dir).select("id", "vector")
      val full = Ivf.add(ivfHalfIndex(s, dir), e.filter(col("id") % 2 === 1))
      knnOut(Ivf.search(full, queryVec(s, dir), 10, nprobe = 8))
    }),
    // ADC search with init-only codebooks (see pq0Index): encode + distance
    // table + scan are the SAME code path as a trained model, but the
    // codebooks are exact data rows — full DuckDB oracle applies
    // (pq_index_search.go:218-324)
    "pq_adc" -> ((s, dir) => {
      val (model, encoded) = pq0Index(s, dir)
      knnOut(Pq.search(encoded, model, queryVec(s, dir), 10))
    }),
    // residual-PQ ADC over probed clusters, init-only everywhere (see
    // ivfpq0Index) — coarse ranking, float residuals, codes and ADC sums
    // reproduced exactly by the SQL oracle (ivfpq_index_search.go:231-341)
    "ivfpq_adc" -> ((s, dir) =>
      knnOut(IvfPq.search(ivfpq0Index(s, dir), queryVec(s, dir), 10, nprobe = 4))),
    // two-stage refine (the public FAISS IndexRefineFlat shape): the ADC
    // scan keeps 4·k candidates, an exact L2 re-rank over the RAW rows of
    // just those candidates returns the true top-k among them. The oracle
    // replays the candidate cut and the rescore, so the refined list —
    // including rows the code scan misranked and refine rescued — is
    // hash-checked end to end
    "pq_refine" -> ((s, dir) => {
      val (model, encoded) = pq0Index(s, dir)
      knnOut(Pq.searchRefined(encoded, model,
        emb(s, dir).select("id", "vector"), queryVec(s, dir), 10,
        refineFactor = 4))
    }),
    // OPQ (Ge et al., CVPR 2013) end-to-end with an EXACT oracle: the
    // learned-rotation model encodes the corpus, the ADC scan runs in
    // rotated space, and refineFactor covers the corpus so the exact
    // re-rank equals flat L2 REGARDLESS of ADC ordering — gating the
    // rotation plumbing (train, codegen rotate+encode, distTable,
    // refine); recall quality is gated by OpqSpec on a rotated
    // anisotropic generator (a 200k x 128 run of that geometry measured
    // plain PQ 52% -> OPQ 83% recall@100)
    "pq_opq_refine" -> ((s, dir) => {
      val (model, encoded) = fixture("pq_opq_refine", dir) {
        val e = emb(s, dir).select("id", "vector")
        val (m0, _) = Pq.defaultParams(
          e.select(size(col("vector"))).head().getInt(0))
        val mod = Pq.trainOpq(e, m0, ksub = 64, maxIter = 5, opqIters = 4,
          sampleSize = 4096)
        val enc = Pq.encode(e, mod).persist()
        enc.count()
        (mod, enc)
      }
      val n = emb(s, dir).count()
      knnOut(Pq.searchRefined(encoded, model,
        emb(s, dir).select("id", "vector"), queryVec(s, dir), 10,
        refineFactor = ((n + 9) / 10).toInt))
    }),
    // same refine stage over the doubly-quantized IVFPQ candidates (coarse
    // residual + PQ codes lose more recall, refine buys more here)
    "ivfpq_refine" -> ((s, dir) =>
      knnOut(IvfPq.searchRefined(ivfpq0Index(s, dir),
        emb(s, dir).select("id", "vector"), queryVec(s, dir), 10,
        nprobe = 4, refineFactor = 4))),
    // OPQ composed with IVFPQ (public FAISS: OPQMatrix as a
    // VectorTransform before IndexIVFPQ): the whole space rotates once
    // at ingest, coarse centroids + residual PQ train rotated, the query
    // rotates once driver-side. All clusters probed + corpus-covering
    // refineFactor ⇒ the exact raw-space re-rank equals flat L2
    // REGARDLESS of ADC ordering — gating the composed plumbing (rotated
    // ingest, rotated coarse assign, residual tables, _opq persistence
    // path exercised by OpqSpec); recall quality is gated by OpqSpec's
    // plain-vs-OPQ IVFPQ row on the rotated-anisotropic geometry
    "ivfpq_opq_refine" -> ((s, dir) => {
      val idx = fixture("ivfpq_opq_refine", dir) {
        val e = emb(s, dir).select("id", "vector")
        val (m0, _) = Pq.defaultParams(
          e.select(size(col("vector"))).head().getInt(0))
        val i = IvfPq.buildOpq(e, nlist = 8, m = m0, ksub = 64,
          maxIter = 5, opqIters = 4, sampleSize = 4096)
        val cached = i.copy(encoded = i.encoded.persist())
        cached.encoded.count()
        cached
      }
      val n = emb(s, dir).count()
      knnOut(IvfPq.searchRefined(idx,
        emb(s, dir).select("id", "vector"), queryVec(s, dir), 10,
        nprobe = 8, refineFactor = ((n + 9) / 10).toInt))
    }),
    // TRAINED-codebook ADC certificate: the init-only oracles above pin the
    // encode/table/scan code paths, but the production configuration runs
    // trained k-means codebooks, which no SQL oracle can reproduce. This
    // query re-derives each invariant through an INDEPENDENT driver-side
    // implementation (scala Model.encode vs the codegen pqEncode kernel;
    // direct decode-then-L2 vs the ADC table-lookup sum) and certifies the
    // counts — a trained-path encode or ADC regression flips a column.
    "pq_adc_trained" -> ((s, dir) => {
      import s.implicits._
      val (model, encoded) = pqIndex(s, dir) // maxIter = 10 (trained)
      val qv = queryVec(s, dir).head().getSeq[Float](1).toArray
      val res = Pq.search(encoded, model, queryVec(s, dir), 10)
        .select(col("id").cast("long"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val idSet = res.map(_._1).toIndexedSeq
      val stored = encoded.filter(col("id").isin(idSet: _*))
        .select(col("id").cast("long"), col("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
      val raw = emb(s, dir).filter(col("id").isin(idSet: _*))
        .select(col("id").cast("long"), col("vector")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      // (a) stored codes == an independent per-subspace argmin re-encode
      val nArgmin = res.count { case (id, _) =>
        model.encode(raw(id)).sameElements(stored(id)) }
      // (b) reported ADC distance == L2(query, decoded vector), computed
      // directly from the codebooks WITHOUT the distance-table path
      val dsub = model.dsub
      def decode(codes: Array[Int]): Array[Float] = {
        val out = new Array[Float](model.m * dsub)
        var t = 0
        while (t < model.m) {
          System.arraycopy(model.codebooks(t)(codes(t)), 0, out, t * dsub, dsub)
          t += 1
        }
        out
      }
      val nDecode = res.count { case (id, d) =>
        val dec = decode(stored(id))
        var acc = 0.0
        var j = 0
        while (j < dec.length) {
          val dd = qv(j).toDouble - dec(j).toDouble; acc += dd * dd; j += 1
        }
        math.abs(math.sqrt(acc) - d) < 1e-6
      }
      // (c) result distances arrive best-first
      val nMono = res.map(_._2).toSeq.sliding(2)
        .count { case Seq(a, b) => a <= b; case _ => false }
      Seq((res.length.toLong, nArgmin.toLong, nDecode.toLong, nMono.toLong))
        .toDF("n_rows", "n_code_argmin", "n_adc_decode", "n_monotone")
    }),
    // same certificate for trained IVFPQ: coarse assignment, probed-list
    // membership, float residual re-encode, and decode-based ADC recompute
    "ivfpq_adc_trained" -> ((s, dir) => {
      import s.implicits._
      val idx = ivfpqIndex(s, dir) // maxIter = 10 everywhere (trained)
      val qv = queryVec(s, dir).head().getSeq[Float](1).toArray
      val res = IvfPq.search(idx, queryVec(s, dir), 10, nprobe = 4)
        .select(col("id").cast("long"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val idSet = res.map(_._1).toIndexedSeq
      val stored = idx.encoded.filter(col("id").isin(idSet: _*))
        .select(col("id").cast("long"), col("cluster").cast("int"),
          col("codes")).collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2).toArray))
        .toMap
      val raw = emb(s, dir).filter(col("id").isin(idSet: _*))
        .select(col("id").cast("long"), col("vector")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val probed = idx.coarse.ranked(qv, 4).toSet
      // (a) stored cluster == independent nearest-centroid assignment
      val nCluster = res.count { case (id, _) =>
        stored(id)._1 == idx.coarse.nearest(raw(id)) }
      // (b) every result came from a probed list
      val nProbed = res.count { case (id, _) => probed.contains(stored(id)._1) }
      // (c) stored codes == re-encode of the float32 residual
      val nArgmin = res.count { case (id, _) =>
        val (c, codes) = stored(id)
        val cent = idx.coarse.centroids(c)
        val r = Array.tabulate(raw(id).length)(i => raw(id)(i) - cent(i))
        idx.pq.encode(r).sameElements(codes)
      }
      // (d) reported distance == L2(query residual, decoded residual)
      val dsub = idx.pq.dsub
      val nDecode = res.count { case (id, d) =>
        val (c, codes) = stored(id)
        val cent = idx.coarse.centroids(c)
        val dec = new Array[Float](idx.pq.m * dsub)
        var t = 0
        while (t < idx.pq.m) {
          System.arraycopy(idx.pq.codebooks(t)(codes(t)), 0, dec, t * dsub, dsub)
          t += 1
        }
        var acc = 0.0
        var j = 0
        while (j < dec.length) {
          val dd = (qv(j) - cent(j)).toDouble - dec(j).toDouble
          acc += dd * dd; j += 1
        }
        math.abs(math.sqrt(acc) - d) < 1e-6
      }
      val nMono = res.map(_._2).toSeq.sliding(2)
        .count { case Seq(a, b) => a <= b; case _ => false }
      Seq((res.length.toLong, nCluster.toLong, nProbed.toLong,
          nArgmin.toLong, nDecode.toLong, nMono.toLong))
        .toDF("n_rows", "n_cluster_nearest", "n_probed",
          "n_code_argmin", "n_adc_decode", "n_monotone")
    }),
    "hnsw_knn" -> ((s, dir) =>
      knnOut(Hnsw.searchIndex(hnswIndex(s, dir), queryVec(s, dir), 10,
        efSearch = ExhaustiveEf))),
    // cosine HNSW: normalize-at-insert (distance.go:70-81), beam navigates
    // L2² on unit vectors (= 2·(1−cos), same ordering), final scores are
    // 1−cos. Exhaustive beam at correctness scale ⇒ the exact-cosine
    // oracle applies. Rounded at 5 dp (not 6): rows are normalized in
    // FLOAT, a ~1e-7 deviation from the oracle's double math — measured
    // 5dp-boundary margin on this table is 2.9e-6, 30× the error.
    "hnsw_cosine" -> ((s, dir) =>
      Hnsw.searchIndex(hnswCosIndex(s, dir), queryVec(s, dir), 10,
          efSearch = ExhaustiveEf)
        .select(col("id").as("vec_id"), round(col("score"), 5).as("dist"))
        .orderBy(col("dist"), col("vec_id"))),
    // document pre-filter pushed into the IVF search (WithDocumentIDs,
    // ivf_index_search.go:287-290): semi-join BEFORE scoring; probing all
    // lists makes it exact, so the flat-filtered oracle applies
    "ivf_prefilter" -> ((s, dir) => {
      val e = emb(s, dir)
      knnOut(Ivf.search(ivfIndex(s, dir), queryVec(s, dir), 10, nprobe = 8,
        candidates = Some(e.filter(col("label").isin(1, 2, 3)).select("id"))))
    }),
    // distance threshold on the IVF path (ivf_index_search.go:294-297)
    "ivf_threshold" -> ((s, dir) =>
      knnOut(Ivf.search(ivfIndex(s, dir), queryVec(s, dir), 20, nprobe = 8,
        threshold = Some(1.3)))),
    // node-based search on the IVF index: node 0's stored vector is the
    // query, probe-all == exact, so the flat-kNN oracle applies
    "ivf_nodes" -> ((s, dir) =>
      knnOut(Ivf.searchByNodes(ivfIndex(s, dir), Seq(0L), 10, nprobe = 8))),
    // document pre-filter inside the HNSW beam (broadcast id set,
    // hnsw_index_search.go:322-325) — exhaustive-exact at this scale
    // (see the hnsw_knn oracle note), so the filtered flat oracle applies
    "hnsw_prefilter" -> ((s, dir) => {
      val e = emb(s, dir)
      knnOut(Hnsw.searchIndex(hnswIndex(s, dir), queryVec(s, dir), 10,
        efSearch = ExhaustiveEf,
        candidates = Some(e.filter(col("label").isin(1, 2, 3)).select("id"))))
    }),
    // hard delete + flush: shards drop nodes, rewire edges, re-elect entry
    // points (hnsw_index.go:348-431); deleted ids can never surface
    "hnsw_delete" -> ((s, dir) =>
      knnOut(Hnsw.searchIndex(
        hnswDeleted(s, dir, Seq(1L, 2L, 3L, 4L, 5L)),
        queryVec(s, dir), 10, efSearch = ExhaustiveEf))),
    // node-based "more like this" on the HNSW index
    // (hnsw_index_search.go:212-226)
    "hnsw_nodes" -> ((s, dir) =>
      knnOut(Hnsw.searchByNodes(hnswIndex(s, dir), Seq(0L), 10,
        efSearch = ExhaustiveEf))),
    // graph persistence round trip: dump per-node rows, restore WITHOUT
    // re-inserting, search the loaded graphs (exhaustive-exact at this
    // scale — the flat oracle applies to the reloaded index too)
    "hnsw_persist" -> ((s, dir) => {
      val path = fixture("hnsw_artifact", dir) {
        val p = fixtureScratchDir("graft-hnsw", dir)
        Hnsw.write(hnswIndex(s, dir), p)
        p
      }
      knnOut(Hnsw.searchIndex(Hnsw.read(s, path), queryVec(s, dir), 10,
        efSearch = ExhaustiveEf))
    }),
    // LSH-bucketed ANN: planes are a CLOSED-FORM hash (Similarity.planes),
    // so the oracle reproduces the ENTIRE pipeline — plane values, sign
    // signatures, multi-probe buckets, cosine verify — in SQL
    "ann_lsh" -> ((s, dir) =>
      knnOut(Similarity.lshCosine(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 10))),
    // multi-query search + score aggregation (sum/max/mean over per-query
    // top-k unions — aggregation.go:107-255)
    "knn_batch_agg" -> ((s, dir) => {
      val e = emb(s, dir).select("id", "vector")
      val qs = e.filter(col("id").isin(0, 1, 2))
        .select(col("id").as("qid"), col("vector").as("qvec"))
      val topk = FlatKnn.search(e, qs, 10, Metric.L2)
      val agged = topk.groupBy(col("id")).agg(
        sum(col("score")).as("rs"), max(col("score")).as("rm"),
        avg(col("score")).as("ra"))
        .orderBy(col("rs").asc, col("id"))
      agged.select(col("id"), round(col("rs"), 6).as("s_sum"),
        round(col("rm"), 6).as("s_max"), round(col("ra"), 6).as("s_mean"))
    }),
    // combined direct-query + node search (WithQuery + WithNode in ONE
    // execution, hnsw_index_search_test.go:510-546): the node's stored
    // vector joins the query batch, overlapping results dedup through the
    // default Sum aggregation (aggregation.go:85-90)
    "knn_query_node" -> ((s, dir) => {
      val e = emb(s, dir).select("id", "vector")
      val nodeQ = e.filter(col("id") === 7L)
        .select(col("id").as("qid"), col("vector").as("qvec"))
      val topk = FlatKnn.search(e, queryVec(s, dir).union(nodeQ), 10, Metric.L2)
      topk.groupBy(col("id")).agg(sum(col("score")).as("score"))
        .select(col("id").cast("long").as("vec_id"),
          round(col("score"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    }),
    "dist_fns" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("id").between(1, 20))
        .select(col("id"), col("vector"))
      val q = queryVec(s, dir)
      e.crossJoin(broadcast(q)).select(
        col("id").as("vec_id"),
        round(graft.expr.Distances.l2(col("vector"), col("qvec")), 6).as("l2"),
        round(graft.expr.Distances.l2Sq(col("vector"), col("qvec")), 6).as("l2sq"),
        round(graft.expr.Distances.cosine(col("vector"), col("qvec")), 6).as("cosd"),
        round(graft.expr.Distances.dot(col("vector"), col("qvec")), 6).as("dotp"))
        .orderBy(col("vec_id"))
    }),
    "quant_int8" -> ((s, dir) => {
      val e = emb(s, dir)
      val am = Quantizers.int8AbsMax(e, "vector").head().getDouble(0)
      val codes = Quantizers.int8Quantize(col("vector"), lit(am))
      val deq = Quantizers.int8Dequantize(codes, lit(am))
      e.select(col("id").as("vec_id"),
        round(array_max(zip_with(deq, col("vector").cast("array<double>"),
          (d, o) => abs(d - o))), 6).as("max_err"))
        .orderBy(col("vec_id"))
    }),
    "quant_f16" -> ((s, dir) => {
      val e = emb(s, dir)
      val deq = Quantizers.f16RoundTrip(col("vector"))
      e.select(col("id").as("vec_id"),
        round(array_max(zip_with(deq.cast("array<double>"),
          col("vector").cast("array<double>"), (d, o) => abs(d - o))), 6)
          .as("max_err"))
        .orderBy(col("vec_id"))
    }),
    // fusion strategies over deterministic top-20 inputs
    "fuse_weighted" -> ((s, dir) => {
      val (v, t) = fusionInputs(s, dir)
      Fusion.weightedSum(v, t, 1.0, 0.5)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    "fuse_rrf" -> ((s, dir) => {
      val (v, t) = fusionInputs(s, dir)
      Fusion.rrf(v, t)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    "fuse_max" -> ((s, dir) => {
      val (v, t) = fusionInputs(s, dir)
      Fusion.maxFusion(v, t)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    "fuse_min" -> ((s, dir) => {
      val (v, t) = fusionInputs(s, dir)
      Fusion.minFusion(v, t)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the reference's main entry point end-to-end
    // MULTI-QUERY hybrid: TWO vector queries, per-query top-k, duplicate
    // ids Sum-combined BEFORE fusion (the reference's
    // WithScoreAggregation on every sub-search, storage.go:509;
    // aggregation.go:107-255), then RRF with the text leg — the oracle
    // reproduces the per-query window, the sum, and the fusion in SQL
    "hybrid_multi_vec" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      val q2 = emb(s, dir).filter(col("id").isin(0L, 1L))
        .select(col("id").as("qid"), col("vector").as("qvec"))
      Hybrid.search(
        meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(emb(s, dir).select("id", "vector")),
        Some(q2),
        Some(corpus(s, dir)), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    "hybrid_full" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.search(
        meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(emb(s, dir).select("id", "vector")),
        Some(queryVec(s, dir)),
        Some(corpus(s, dir)), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // full hybrid under COSINE with the vector modality routed through a
    // cosine-built HNSW leg (any-index hybrid + normalize-at-insert,
    // hybrid_search_index.go:76 × distance.go:70-81). Exhaustive beam at
    // correctness scale ⇒ the leg ranks exactly like flat cosine, and RRF
    // fuses by RANK, so the double-cosine SQL oracle applies even though
    // leg scores are float-normalized (measured rank gaps ~2.4e-4, three
    // orders above the float error).
    "hybrid_cosine" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.searchWith(
        meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(Hybrid.HnswLeg(hnswCosIndex(s, dir), efSearch = ExhaustiveEf)),
        Some(queryVec(s, dir)),
        Some(corpus(s, dir)), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf, metric = Metric.Cosine))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // same hybrid, but the FILTERED vector search routes through the IVF
    // index (document filter pushed down to the index instead of falling
    // back to a flat scan — comet's core composition primitive); probing
    // all lists keeps it exact == the flat-path hybrid
    "hybrid_ivf" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.search(
        meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        None, Some(queryVec(s, dir)),
        Some(corpus(s, dir)), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
        ivf = Some(ivfIndex(s, dir)))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // ANY-INDEX hybrid: the vector modality routed through the HNSW leg
    // (the reference's hybrid takes any VectorIndex,
    // hybrid_search_index.go:76; modality matrix
    // hybrid_search_index_test.go:10-1101). At sf corpus sizes the beam
    // (efSearch = ExhaustiveEf) covers every shard, so the leg is exact
    // and the hybrid_full oracle applies verbatim
    "hybrid_hnsw" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.searchWith(
        meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(Hybrid.HnswLeg(hnswIndex(s, dir), efSearch = ExhaustiveEf)),
        Some(queryVec(s, dir)),
        Some(corpus(s, dir)), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // metadata-only hybrid: no modalities, every candidate scores 1.0
    // (hybrid_search_index.go:588-593)
    "hybrid_meta_only" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.search(meta,
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        None, None, None, None, Hybrid.Config(k = 10))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // vector-only hybrid with WeightedSum (the reference default):
    // passthrough distances sorted DESCENDING — the documented
    // farthest-first caveat, reproduced for parity (SURVEY.md §2.9,
    // fusion.go:131-149 vs hybrid_search_index.go:604-607)
    "hybrid_vec_only" -> ((s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
        col("source"), col("n_chars"))
      Hybrid.search(meta, Seq.empty,
        Some(emb(s, dir).select("id", "vector")), Some(queryVec(s, dir)),
        None, None, Hybrid.Config(k = 10, fusion = Hybrid.WeightedSum))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // inner-product similarity metric (higher-better ordering,
    // distance.go:17-30 DotProduct kind)
    "knn_dot" -> ((s, dir) =>
      FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 10, Metric.DotSim)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))),
    // index persistence round-trip: cluster-partitioned parquet write,
    // read back, probe-all search == exact (flat_index.go:366-463's
    // write/read cycle; partition pruning is the Spark analog of the
    // inverted lists, SURVEY.md §2.8)
    "ivf_persist" -> ((s, dir) => {
      val path = fixture("ivf_artifact", dir) {
        val p = fixtureScratchDir("graft-ivf", dir)
        Ivf.writePartitioned(ivfIndex(s, dir), p)
        p
      }
      // full self-contained restore: rows + centroids + metric from the
      // artifact alone (ivf_index.go:496-560's read cycle)
      knnOut(Ivf.search(Ivf.readPartitioned(s, path),
        queryVec(s, dir), 10, nprobe = 8))
    }),
    // SINGLE-ARTIFACT hybrid persistence (the reference's "HYBR" blob,
    // hybrid_search_index.go:655-817; round-trip test shape
    // hybrid_search_index_test.go:737): ONE directory holds all sub-indexes
    // (metadata, cluster-partitioned vectors + centroids, BM25 frames) plus
    // fusion kind/weights/metric/nprobe. Reload, then run the FULL hybrid
    // from the artifact alone — no re-wiring; probe-all keeps the vector
    // leg exact, so the hybrid_full oracle applies
    "hybrid_persist" -> ((s, dir) => {
      // write-once fixture: the artifact is produced once per dir (a user
      // writes an index once and reloads it many times); the timed
      // operation is the reload + full hybrid search from the artifact
      val path = fixture("hybrid_artifact", dir) {
        val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
          col("source"), col("n_chars"))
        val p = fixtureScratchDir("graft-hybrid", dir)
        Hybrid.write(p, meta, ivfIndex(s, dir), corpus(s, dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        p
      }
      val loaded = Hybrid.read(s, path)
      loaded.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // KIND-GENERAL blob: the same artifact contract with a NON-IVF vector
    // leg — the reference's blob persists whichever sub-index kind the
    // hybrid holds (hybrid_search_index.go:655-743); here the HNSW-legged
    // hybrid round-trips through Hybrid.writeAny/read and the reloaded
    // graph serves the same exhaustive-at-this-scale search the
    // hybrid_hnsw oracle pins
    "hybrid_persist_any" -> ((s, dir) => {
      val path = fixture("hybrid_artifact_any", dir) {
        val meta = docs(s, dir).select(col("doc_id").as("id"), col("lang"),
          col("source"), col("n_chars"))
        val p = fixtureScratchDir("graft-hybany", dir)
        Hybrid.writeAny(p, Some(meta),
          Some(Hybrid.HnswLeg(hnswIndex(s, dir), efSearch = ExhaustiveEf)),
          Some(corpus(s, dir)), Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        p
      }
      val loaded = Hybrid.read(s, path)
      loaded.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // BM25 index persistence round trip (bm25_index.go:467-623): write the
    // four index frames, load them back, search the LOADED corpus — the
    // reference's own test shape is search-equivalence after reload
    "bm25_persist" -> ((s, dir) => {
      val path = fixture("bm25_artifact", dir) {
        val p = fixtureScratchDir("graft-bm25", dir)
        BM25.write(corpus(s, dir), p)
        p
      }
      val loaded = BM25.read(s, path)
      loaded.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // PQ index persistence round trip (codebooks + codes, the
    // flat_index.go:366-463 write pattern applied to PQ): the loaded model
    // must reproduce the original ADC search EXACTLY (floats survive
    // parquet bit-identically) — output is the equivalence certificate
    "pq_persist" -> ((s, dir) => {
      val (model, encoded) = pqIndex(s, dir)
      val path = fixture("pq_artifact", dir) {
        val p = fixtureScratchDir("graft-pq", dir)
        Pq.write(model, encoded, p)
        p
      }
      val (m2, enc2) = Pq.read(s, path)
      val orig = Pq.search(encoded, model, queryVec(s, dir), 10)
        .select(col("id"), round(col("score"), 6).as("score"))
      val rt = Pq.search(enc2, m2, queryVec(s, dir), 10)
        .select(col("id").as("rid"), round(col("score"), 6).as("rscore"))
      val matched = orig.join(rt,
        col("id") === col("rid") && col("score") === col("rscore"))
      orig.agg(count(lit(1)).as("n_orig"))
        .crossJoin(rt.agg(count(lit(1)).as("n_rt")))
        .crossJoin(matched.agg(count(lit(1)).as("n_match")))
    }),
    // metadata index persistence (metadata_index.go:579-698): the Spark
    // metadata index IS columnar parquet + partition/footer pruning —
    // write partitioned by the hot filter column, reload, run the same
    // DNF filter (now partition-pruned at the scan)
    "meta_persist" -> ((s, dir) => {
      val path = fixture("meta_artifact", dir) {
        val p = fixtureScratchDir("graft-meta", dir)
        T(s, dir, "part").write.mode("overwrite")
          .partitionBy("p_brand").parquet(p)
        p
      }
      s.read.parquet(path).filter(
        graft.filter.FilterBuilder
          .where(Filter.Eq("p_brand", "Brand#1")).and(Filter.Lt("p_size", 10))
          .orWhere(Filter.Eq("p_type", "PROMO"))
          .and(Filter.Gt("p_retailprice", 995.0))
          .compile())
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
        .orderBy(col("p_partkey"))
    }),
    // multi-query TEXT search + score aggregation sum/max/mean over the
    // union of per-query top-k (aggregation.go:316-447, desc ordering)
    "bm25_batch_agg" -> ((s, dir) => {
      val c = corpus(s, dir)
      val r1 = c.search("spark query join table", 20)
        .select(col("id"), col("score"))
      val r2 = c.search("merge batch stream filter", 20)
        .select(col("id"), col("score"))
      r1.union(r2).groupBy(col("id")).agg(
          round(sum(col("score")), 4).as("s_sum"),
          round(max(col("score")), 4).as("s_max"),
          round(avg(col("score")), 4).as("s_avg"))
        .orderBy(col("s_sum").desc, col("id")).limit(10)
        .select(col("id").as("doc_id"), col("s_sum"), col("s_max"), col("s_avg"))
        .orderBy(col("s_sum").desc, col("doc_id"))
    }),
    "autocut_demo" -> ((s, dir) => {
      val sorted = FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 50, Metric.L2)
        .select(col("id"), col("score"))
      graft.agg.ScoreAgg.autocut(sorted, 1)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score"), col("id"))
    }),
    // cut before the SECOND local maximum (limiter.go:81-118 takes nth)
    "autocut_nth" -> ((s, dir) => {
      val sorted = FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 50, Metric.L2)
        .select(col("id"), col("score"))
      graft.agg.ScoreAgg.autocut(sorted, 2)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score"), col("id"))
    })
  )

  /** The two modality result lists feeding the four fuse_* queries — a
    * per-dir fixture: fusion's INPUT is a pair of ranked lists (the
    * reference's Fuse takes already-computed per-modality results,
    * fusion.go:13-38), so the fusion queries time the combine, not four
    * redundant re-searches of the same fixed legs. k-sized frames,
    * persisted. */
  private def fusionInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    fixture("fusion_inputs", dir) {
      val v = FlatKnn.search(emb(s, dir).select("id", "vector"),
        queryVec(s, dir), 20, Metric.L2).select(col("id"), col("score"))
        .persist()
      val c = corpus(s, dir)
      val t = c.search("spark query join table", 20)
        .select(col("id"), col("score")).persist()
      v.count(); t.count()
      (v, t)
    }

  private def queriesPipeline: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash" -> ((s, dir) => {
      val sig = Dedup.minhashSignature(
        graft.text.Tokenize.simple(col("text")), nShingle = 3, h = 4)
      docs(s, dir).select(col("doc_id"), sig.as("sig"))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("mh0"), element_at(col("sig"), 2).as("mh1"),
          element_at(col("sig"), 3).as("mh2"), element_at(col("sig"), 4).as("mh3"))
        .orderBy(col("doc_id"))
    }),
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),
    "dedup_jaccard" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", "source")
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(20)
      pairs.select(col("id_a"), col("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
    }),
    // duplicate clusters: connected components over the LSH candidate
    // pairs, representative = min id (what a dedup pipeline keeps)
    "dedup_clusters" -> ((s, dir) =>
      clustersOf(s, dir).orderBy(col("id"))),
    // the pipeline ending: drop every non-representative cluster member,
    // report corpus sizes (what a dedup pass actually delivers)
    "dedup_prune" -> ((s, dir) => {
      val d = docs(s, dir)
      val removed = clustersOf(s, dir)
        .filter(col("id") =!= col("cluster")).select("id")
      val kept = d.join(removed.select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      kept.agg(count(lit(1)).as("n_after"))
        .crossJoin(d.agg(count(lit(1)).as("n_before")))
        .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
        .select(col("n_before"), col("n_removed"), col("n_after"))
    }),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text").orderBy(col("doc_id"))),
    // CCNet-style paragraph dedup: the corpus has no line structure, so
    // lines are PLANTED — a banner shared by every doc, the doc body, and
    // a footer shared by each doc_id%7 class; a repeated line survives
    // only at its smallest (doc, position) occurrence
    "dedup_lines" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(lit("banner line\n"), col("text"),
          lit("\nfooter "), col("doc_id") % 7).as("text"))
      Dedup.dedupLines(planted, "doc_id", "text").orderBy(col("doc_id"))
    }),
    // the DEDUP pipeline composed end-to-end (the cleaning half of a real
    // corpus pass, complementing pipeline_e2e's quality half): CCNet-style
    // line dedup -> exact dedup on the CLEANED text (boilerplate-stripped
    // docs that became identical now merge) -> deterministic split ->
    // per-split doc/char accounting, hash-matched against one chained
    // DuckDB oracle. Same single-pass window dedup as pipeline_e2e (no
    // cross-branch CSE through a keepers self-join).
    "pipeline_dedup_e2e" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(lit("banner line\n"), col("text"),
          lit("\nfooter "), col("doc_id") % 7).as("text"))
      val cleaned = Dedup.dedupLines(planted, "doc_id", "text")
        .select(col("doc_id"), col("cleaned"))
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"))
      val keepers = cleaned
        .withColumn("h", md5(col("cleaned").cast("binary")))
        .withColumn("keeper", min(col("doc_id")).over(byHash))
        .filter(col("doc_id") === col("keeper"))
      Curation.splitHash(keepers, "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("cleaned"))).cast("long").as("n_chars"))
        .orderBy(col("split"))
    }),
    // cross-document duplicated-span profile: share of each doc's word
    // 8-grams that also appear verbatim in another doc (span-level dedup
    // signal; postings df join, never all-pairs)
    "dedup_spans" -> ((s, dir) =>
      Dedup.spanProfile(docs(s, dir), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))),
    "dedup_embcos" -> ((s, dir) => {
      val e = emb(s, dir).select(col("id"), col("vector"), col("label"))
      val pairs = Dedup.cosinePairs(e, "id", "vector", "label")
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b")).limit(20)
      pairs.select(col("id_a"), col("id_b"),
        round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    }),
    // SemDeDup-style semantic dedup: k-means blocks (init-only centroids
    // for the exact oracle, same pattern as ivf_probe), intra-cluster
    // cosine pairs, connected-component keepers. The synthetic embeddings
    // have no true near-dups (max intra-cluster cosine ~0.6), so
    // exact-direction duplicates are PLANTED: every 25th vector
    // re-appears at id+10000 scaled by 2.0f — a power-of-two scale is
    // EXACT in float and double, so both engines see bit-identical
    // vectors, and the planted pair's cosine ~1.0 vs <=0.6 for every
    // true pair leaves the 0.9 threshold a huge decision margin
    "dedup_semantic" -> ((s, dir) => {
      val e = emb(s, dir).select(col("id"), col("vector"))
      val planted = e.filter(col("id") % 25 === 0)
        .select((col("id") + 10000).as("id"),
          transform(col("vector"), x => x * lit(2.0f)).as("vector"))
      val all = e.unionByName(planted)
      // blocking centroids are MODEL state, trained once per dir like
      // every other cached index model (ivfIndex, pqIndex, …): the init
      // collect cost ~1 s of eager driver jobs per invocation while the
      // timed operator is the dedup itself (r19 measurement)
      val cents = fixture("dedup_semantic_cents", dir) {
        graft.vector.Kmeans.train(all, k = 8, maxIter = 0).centroids
      }
      Dedup.semanticDedup(all, "id", "vector", cents, 0.9)
        .orderBy(col("id"))
    }),
    // the no-blocking-key scale path: BANDED sign-LSH buckets (collide in
    // any band => candidate), cosine verify once per deduped pair. This
    // corpus has no true near-dups (max pairwise cosine ~0.51), so emit
    // every bucket-collision pair with its verified cosine
    "dedup_embcos_lsh" -> ((s, dir) => {
      val e = emb(s, dir).select(col("id"), col("vector"))
      Dedup.cosineLshPairs(e, "id", "vector", bands = 4, bitsPerBand = 12,
        minSim = -1.0)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    }),
    // --- corpus curation (training-data pipeline end stages) ---
    // deterministic source mixing: hash-of-id sampling at per-source rates
    "sample_mix" -> ((s, dir) => {
      val rates = Map("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.25,
        "src3" -> 0.25, "src4" -> 0.25)
      Curation.sampleMix(docs(s, dir), "doc_id", "source", rates,
        defaultRate = 0.9)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),
    // temperature-scaled mixing weights (alpha = 0.5): per-source token
    // shares smoothed toward uniform, boost = weight / natural share
    "mix_temperature" -> ((s, dir) =>
      Curation.temperatureWeights(docs(s, dir), "source", "text",
          alpha = 0.5)
        .orderBy(col("source"))),
    // vocabulary building: per-term document frequency + total term
    // frequency, top-20 by df — the tokenizer-training corpus table
    "vocab_topk" -> ((s, dir) =>
      Curation.vocab(docs(s, dir), "doc_id", "text", topK = 20)),
    // token-budget selection: greedily keep the longest docs (n_chars
    // desc) until 50k tokens are spoken for; the crossing doc is kept
    "corpus_budget" -> ((s, dir) =>
      Curation.selectByBudget(docs(s, dir), "doc_id", "text", "n_chars",
          budget = 50000L)
        .orderBy(col("ord").desc, col("id"))),
    // sharded (100 TB) form: window partitioned by source, so each source
    // runs its own greedy budget walk in parallel — per-source token budget
    "corpus_budget_sharded" -> ((s, dir) =>
      Curation.selectByBudget(docs(s, dir), "doc_id", "text", "n_chars",
          budget = 20000L, shardCol = Some("source"))
        .orderBy(col("shard"), col("ord").desc, col("id"))),
    // curriculum bucketing: 10 equal-frequency quality tiers ordered
    // (score desc, id) — the data-ordering stage of curriculum training
    "curriculum_buckets" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Curation.curriculum(q, "doc_id", "quality", buckets = 10)
        .orderBy(col("bucket"), col("id"))
    }),
    // sharded curriculum: each source tiers independently (the 100 TB
    // partitioned-window form; tiers are per-source)
    "curriculum_sharded" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
        .join(d.select(col("doc_id"), col("source")), "doc_id")
      Curation.curriculum(q, "doc_id", "quality", buckets = 4,
          shardCol = Some("source"))
        .orderBy(col("shard"), col("bucket"), col("id"))
    }),
    // deterministic 80/10/10 split by id-hash bucket: stable across runs
    // and content edits, no RNG state
    "split_hash" -> ((s, dir) =>
      Curation.splitHash(docs(s, dir), "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),
    // benchmark decontamination: docs sharing an 8-gram with the held-out
    // eval slice (doc_id % 50 == 0) — the planted near-dup pair surfaces
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Curation.decontaminate(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 8)
        .orderBy(col("train_id"), col("eval_id"))
    }),
    // stopword/short-token cleaning with a cleaned-stream fingerprint
    "text_clean" -> ((s, dir) =>
      Curation.clean(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // GPT-style packing: concat in id order, chunk every 512 tokens
    "pack_sequences" -> ((s, dir) =>
      Curation.packSequences(docs(s, dir), "doc_id", "text", 512)
        .orderBy(col("seq_id"))),
    // sharded packing: each source packs its own sequence stream in
    // parallel (partitioned window — the 100 TB plan shape)
    "pack_sequences_sharded" -> ((s, dir) =>
      Curation.packSequences(docs(s, dir), "doc_id", "text", 512,
          shardCol = Some("source"))
        .orderBy(col("shard"), col("seq_id"))),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // language ID with the live CJK character profile
    "text_langid_zh" -> ((s, dir) =>
      TextAnalysis.languageIdUnicode(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text")
        .orderBy(col("id"), col("frame_idx"))),
    // 2×2 patch grid with pooled per-patch feature (the resize/patch step
    // of a vision pipeline, stub decode — Multimodal.gridPatches)
    "mm_patches" -> ((s, dir) =>
      Multimodal.gridPatches(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text")
        .orderBy(col("id"), col("patch_idx"))),
    // overlapping STFT-shaped audio windows (len 16, hop 8) with
    // energy/peak per window over fake PCM samples (stub decode)
    "mm_audio" -> ((s, dir) =>
      Multimodal.audioWindows(docs(s, dir).filter(col("doc_id") < 50),
        "doc_id", "text")
        .orderBy(col("id"), col("win_idx"))),
    // incremental index maintenance: build on half the corpus, ADD the
    // other half — search must equal a fresh full build
    // (bm25_index.go:204-334 add path)
    "bm25_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val half = BM25.build(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val full = BM25.add(half,
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      full.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // incremental delete with flush semantics: df/n_docs/avgdl corrected
    // immediately — search equals a build over the surviving docs
    // (bm25_index.go:253-400 delete+flush)
    "bm25_delete" -> ((s, dir) => {
      val d = docs(s, dir)
      // derive from the shared cached corpus — delete is an incremental
      // operation ON an existing index, not a rebuild
      val pruned = BM25.delete(corpus(s, dir),
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id")))
      pruned.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // upsert: the reference's Add on an already-indexed id REPLACES the
    // doc — n_docs stays flat, old tokens vanish, new tokens score
    // (bm25_index.go:204-240, bm25_index_test.go:131-156). Oracle scores
    // a fresh build over the post-replacement corpus.
    "bm25_upsert" -> ((s, dir) => {
      val replaced = docs(s, dir).filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"),
          concat(lit("refreshed content "), col("text")).as("text"))
      val up = BM25.upsert(corpus(s, dir), replaced, "doc_id", "text")
      up.search("refreshed spark query", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // persistent hybrid path (SURVEY.md §3.3): documents land in LSM
    // segments, some get tombstoned, and the search runs over the LIVE
    // view (union minus deletes, newest wins) — comet's
    // PersistentHybridIndex Execute over memtables+segments
    // (storage.go:489-629), with the BM25 stats recomputed over the live
    // corpus exactly as a fresh index build would
    "store_live_search" -> ((s, dir) => {
      // ingest-once, search-many: segments + tombstones + the BM25 index
      // over the live view are the per-dir fixture; the timed operation is
      // the live-view search (comet's store serves reads from its open
      // segments, storage.go:489-629 — it does not re-ingest per query)
      val c = fixture("store_live", dir) {
        val store = new graft.store.SegmentStore(s, fixtureScratchDir("graft-live", dir))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
        store.append(d.filter(col("id") % 2 === 0))
        store.append(d.filter(col("id") % 2 === 1))
        store.deleteFrom(d.filter(col("id") % 7 === 0).select("id"))
        persistedCorpus(BM25.build(store.read(), "id", "text"))
      }
      c.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // INCREMENTAL derived-state maintenance oracle (bm25_index.go:327-334
    // O(1) stats contract, wired through the facade): the first search
    // SEEDS the BM25 log from half the corpus; the other half, a
    // replacement batch, and a tombstone wave are then folded in at BATCH
    // cost by BM25Log (never a rebuild) — and the final log-maintained
    // corpus must score EXACTLY like DuckDB's fresh build over the
    // surviving documents
    "store_incremental" -> ((s, dir) => {
      val c = fixture("store_incr", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sinc", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
        h.append(d.filter(col("id") % 2 === 0))
        // seed the incremental log (covers everything appended so far)
        h.search(queryText = Some("seed")).count()
        // incremental add, replace (remove+add of live ids), delete
        h.append(d.filter(col("id") % 2 === 1))
        h.append(d.filter(col("id") % 6 === 2))
        h.deleteFrom(d.filter(col("id") % 7 === 0).select("id"))
        persistedCorpus(h.textCorpus.get)
      }
      c.search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // FULL hybrid over the persistent store (§3.3, storage.go:489-629):
    // documents land in LSM segments, some are tombstoned, and one plan
    // fuses metadata filter + vector search + BM25 over the LIVE view —
    // comet's PersistentHybridIndex Execute end-to-end. Vectors are
    // restricted to live ids by semi-join (the tombstone anti-join pushed
    // into the vector modality)
    "store_hybrid" -> ((s, dir) => {
      // ingest-once fixture (segments + tombstones + live view + BM25 over
      // it + live-restricted vectors); the timed operation is the full
      // hybrid Execute over the live view — comet's PersistentHybridIndex
      // serves every search from its open store (storage.go:489-629)
      val (live, c, vecs) = fixture("store_hybrid", dir) {
        val store = new graft.store.SegmentStore(s, fixtureScratchDir("graft-shyb", dir))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        store.append(d.filter(col("id") % 2 === 0))
        store.append(d.filter(col("id") % 2 === 1))
        store.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        val lv = store.read().persist()
        val cc = persistedCorpus(BM25.build(lv, "id", "text"))
        val vv = emb(s, dir).select("id", "vector")
          .join(lv.select("id"), Seq("id"), "left_semi").persist()
        (lv, cc, vv)
      }
      Hybrid.search(
        live.select(col("id"), col("lang"), col("source"), col("n_chars")),
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(vecs), Some(queryVec(s, dir)),
        Some(c), Some("spark query join table"),
        Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the persistent-store FACADE end-to-end: one HybridStore object owns
    // segments + derived modality state (storage.go:120-629 /
    // docs/PERSISTENCE.md API) — append in two batches, tombstone a
    // slice, search the live view; same oracle as store_hybrid since the
    // facade must reproduce the hand-composed pipeline exactly
    // the facade with INCREMENTAL derived state for BOTH modalities:
    // text via the (seeded) BM25Log, vectors via VecLog — train-once,
    // assign-only pieces, probe-all (nlist=8, nprobe=8) so the leg is
    // exhaustive-exact and the store_facade oracle applies verbatim to
    // the identical mutation sequence
    "store_facade_incr" -> ((s, dir) => {
      val hs = fixture("store_facade_incr", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfinc", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
          incrementalIvf = Some((8, 8)))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        // seed BOTH logs mid-history, then mutate incrementally
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the incremental facade under COSINE: VecLog trains its coarse
    // quantizer in the store's configured metric space (normalize-at-
    // insert — the round-12 fix for the silent L2-training hole) and
    // probe-all keeps the leg exhaustive-exact, so the double-cosine
    // hybrid oracle applies. The mutation tail deletes a slice and
    // RE-APPENDS it (tombstone → resurrect in a newer segment,
    // storage_memtable_test.go:153-175), converging the live state to
    // the full corpus — so the oracle is exact by construction, not by
    // the deleted ids happening to miss the top-k
    "store_facade_incr_cos" -> ((s, dir) => {
      val hs = fixture("store_facade_incr_cos", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfinccos", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf, metric = Metric.Cosine),
          incrementalIvf = Some((8, 8)))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        // seed BOTH logs mid-history, then mutate incrementally
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.append(d.filter(col("id") % 9 === 5))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the incremental facade with OPQ composed into the VecLog leg
    // (mirroring IvfPq.buildOpq): the coarse quantizer trains in the
    // ROTATED space, assignment routes rotated vectors through the
    // codegen kernel, the rotation persists beside _model (reopen guards
    // both mismatch directions), and the leg serves through back-rotated
    // centroids — stored vectors and scores stay bit-identical to the
    // unrotated leg (orthogonal maps are L2-preserving), so the
    // store_facade_incr oracle applies verbatim at probe-all
    "store_facade_opq" -> ((s, dir) => {
      val hs = fixture("store_facade_opq", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfopq", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
          incrementalIvf = Some((8, 8)), ivfOpq = true)
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the facade with the QUANTIZED incremental leg (PqLog): codebooks
    // train ONCE (persisting under _pq/_model with the withheld-commit
    // crash protocol), each segment folds in as an encode-only
    // (id, codes) piece — M bytes per vector at rest, the reference's
    // flush-segments-as-serialized-indexes contract (storage.go:680-760)
    // over its quantized index kind — and serving is ADC over the live
    // codes + exact refine against the store's raw live vectors.
    // refineFactor covers the corpus, so the exact re-rank equals flat
    // L2 REGARDLESS of ADC ordering (the pq_opq_refine pattern) and the
    // store_facade oracle applies verbatim to the identical mutation
    // sequence; bounded-refine recall is gated by PqLogSpec
    "store_facade_pq" -> ((s, dir) => {
      val hs = fixture("store_facade_pq", dir) {
        val n = emb(s, dir).count()
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfpq", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
          incrementalPq = Some(graft.store.HybridStore.PqSpec(
            ksub = 64, maxIter = 5,
            refineFactor = ((n + 9) / 10).toInt)))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        // seed BOTH logs mid-history, then mutate incrementally
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the facade with the ROUTED quantized leg (PqLog + coarse
    // quantizer = the IVFPQ composition, ivfpq_index.go:467-542): codes
    // are residuals against train-once coarse centroids, pieces carry a
    // cluster column (written cluster-sorted so probed-list reads prune
    // row groups), and serving probes nprobe lists before ADC + exact
    // refine. nprobe = nlist probes every list and refineFactor covers
    // the corpus, so the leg is exhaustive-exact and the store_facade
    // oracle applies verbatim to the identical mutation sequence;
    // bounded-probe recall is gated by PqLogSpec
    "store_facade_ivfpq" -> ((s, dir) => {
      val hs = fixture("store_facade_ivfpq", dir) {
        val n = emb(s, dir).count()
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfivfpq", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
          incrementalPq = Some(graft.store.HybridStore.PqSpec(
            ksub = 64, maxIter = 5,
            refineFactor = ((n + 9) / 10).toInt,
            nlist = 4, nprobe = 4)))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the facade with an INCREMENTAL HNSW vector leg (HnswLog: seed once,
    // copy-on-write shard insertion per append, soft-delete marks per
    // delete — the reference's store template over its lowest-latency
    // index kind, storage.go:321-347). ExhaustiveEf gives every shard a
    // beam wider than its node count at correctness scale, so the beam is
    // exhaustive and the store_facade oracle applies verbatim to the
    // identical mutation sequence
    "store_facade_hnsw" -> ((s, dir) => {
      val hs = fixture("store_facade_hnsw", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfhnsw", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
          incrementalHnsw =
            Some(graft.store.HybridStore.HnswSpec(efSearch = ExhaustiveEf)))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        // seed BOTH logs mid-history, then mutate incrementally
        h.search(queryVec = Some(queryVec(s, dir)),
          queryText = Some("seed")).count()
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    "store_facade" -> ((s, dir) => {
      val hs = fixture("store_facade", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-sfac", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        // LEFT join: every document rides into the store with its text and
        // metadata; the vector modality is optional (embeddings cover only
        // part of the corpus at sf0.1 — an inner join silently shrank the
        // BM25 corpus to the embedded subset and diverged from the oracle)
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        h.append(d.filter(col("id") % 2 === 1))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.read().count() // materialize the live view once, in the fixture
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // node-based "more like this" THROUGH the store facade: the vector
    // leg combines a direct query (vec 0) with node id 1 resolved to its
    // STORED vector in the live view — the reference's store search
    // surface delegates WithNode like every other option
    // (storage.go:489-543). The store holds the full corpus (two
    // appends, no deletes), so the resolved node vector equals embedding
    // row 1 and the search is value-identical to hybrid_multi_vec's
    // two-direct-query run — one oracle pins both paths
    "store_morelike" -> ((s, dir) => {
      val hs = fixture("store_morelike", dir) {
        val h = new graft.store.HybridStore(s,
          fixtureScratchDir("graft-smlk", dir),
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf))
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        h.append(d.filter(col("id") % 2 === 1))
        h.read().count()
        h
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"),
        queryNodes = Seq(1L))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // the store LIFECYCLE contract end-to-end (storage_test.go:360-478,
    // carried r16 ask #7): mutate -> close -> REOPEN -> search, under the
    // DuckDB evidence regime. The mutation order makes the oracle
    // distinct from store_facade's: the delete lands while only the EVEN
    // half is ingested (markers carry upto = seg 0), so the odd %9==5
    // docs appended afterwards are LIVE again (LSM delete markers are
    // segment-scoped, not global bans) — the final exclusion is exactly
    // doc_id % 18 == 14. close() releases the writer LOCK and every leg;
    // use-after-close must throw; the reopened facade re-acquires the
    // lock and serves the identical live view
    "store_close" -> ((s, dir) => {
      val hs = fixture("store_close", dir) {
        val root = fixtureScratchDir("graft-sclose", dir)
        val h = new graft.store.HybridStore(s, root,
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf), lock = true)
        val d = docs(s, dir).select(col("doc_id").as("id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .join(emb(s, dir).select(col("id"), col("vector")), Seq("id"), "left")
        h.append(d.filter(col("id") % 2 === 0))
        h.deleteFrom(d.filter(col("id") % 9 === 5).select("id"))
        h.append(d.filter(col("id") % 2 === 1)) // resurrects odd %9==5 ids
        h.close()
        val threw =
          try { h.read(); false }
          catch { case _: IllegalStateException => true }
        require(threw, "use-after-close did not throw " +
          "(storage_test.go:445-478 contract)")
        val h2 = new graft.store.HybridStore(s, root,
          Hybrid.Config(k = 10, fusion = Hybrid.Rrf), lock = true)
        h2.read().count() // build the reopened generation once
        h2
      }
      hs.search(
        Seq(FilterGroup(Seq(Filter.Eq("lang", "en"), Filter.Gt("n_chars", 100)))),
        Some(queryVec(s, dir)), Some("spark query join table"))
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id"))
    }),
    // TRUE streaming ingest end-to-end, timed as one pipeline: a file
    // stream whose source redelivers the whole corpus (staged twice — the
    // at-least-once delivery every real ingest must tolerate), exact dedup
    // with watermark-BOUNDED state across micro-batches
    // (dropDuplicatesWithinWatermark — state tracks the dedup horizon, not
    // the stream lifetime), each micro-batch flushed as an immutable LSM
    // segment (comet's memtable rotate+flush, storage.go:632-643),
    // tombstones applied, then BM25 built + searched over the LIVE view.
    // Oracle: identical to store_live_search (the duplicate redelivery and
    // the second micro-batch must leave NO trace).
    "store_stream_e2e" -> ((s, dir) => {
      val srcDir = scratchDir("graft-se2e-src")
      val root = scratchDir("graft-se2e-store")
      val ckpt = scratchDir("graft-se2e-ckpt")
      val docFile = java.nio.file.Paths.get(dir, "documents.parquet")
      java.nio.file.Files.copy(docFile,
        java.nio.file.Paths.get(srcDir, "delivery1.parquet"))
      java.nio.file.Files.copy(docFile,
        java.nio.file.Paths.get(srcDir, "delivery2.parquet"))
      val schema = s.read.parquet(srcDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // one delivery per micro-batch
        .parquet(srcDir)
        .withColumn("ts", to_timestamp(from_unixtime(
          lit(1767225600L) + col("doc_id") % 3600)))
      val deduped = graft.streaming.Ingest
        .dedupStream(stream, Seq("doc_id"), watermark = "2 hours")
        .select(col("doc_id").as("id"), col("text"))
      val store = new graft.store.SegmentStore(s, root)
      // State/shuffle partitions sized by DELIVERY BYTES (~32 MB per state
      // partition), the streaming twin of SegmentStore.fileCountFor: a state
      // partition costs a store commit + a task per micro-batch, so a
      // kB-scale delivery must not pay for 32 of them, while a 100 TB/day
      // stream saturates every core (capped at 4× parallelism). Fixed at
      // stream start — Spark pins state partitioning at first checkpoint.
      val deliveryBytes = java.nio.file.Files.size(docFile) * 2
      val statePartitions = math.max(1L, math.min(
        s.sparkContext.defaultParallelism.toLong * 4,
        deliveryBytes / (32L << 20) + 1)).toString
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", statePartitions)
        val q = graft.streaming.Ingest.sinkSegmentStore(deduped, store, ckpt)
        require(q.awaitTermination(300000),
          "streaming ingest did not drain within 300 s — a partial store " +
            "would silently fail the oracle")
        // conf restored only after the stream DRAINS: micro-batch planning
        // reads the session conf, so an early restore would race the stream
        // thread back to the fat partition count
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      store.deleteFrom(docs(s, dir).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id")))
      BM25.build(store.read(), "id", "text")
        .search("spark query join table", 10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // segment result merge: union of per-segment top-k, dedup by id keeping
    // MAX score, sort desc, limit (storage_merge.go:13-38)
    "store_merge" -> ((s, dir) => {
      val c = corpus(s, dir)
      val r1 = c.search("spark query join table", 20)
        .select(col("id"), col("score"))
      val r2 = c.search("merge batch stream filter", 20)
        .select(col("id"), col("score"))
      r1.union(r2).groupBy(col("id")).agg(max(col("score")).as("score"))
        .orderBy(col("score").desc, col("id")).limit(10)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    // LSM segment store end-to-end: append 4 segments (one holding updated
    // rows — newest wins), tombstone deletes, REAL compaction (unlike the
    // reference's stub, storage_compaction.go:68-73), then read the
    // compacted live view
    "store_compact" -> ((s, dir) => {
      // the 4-segment + tombstone store is a per-dir fixture; each timed
      // run filesystem-copies it to a fresh root and compacts THAT — so
      // the measured operation is the real compaction (read + merge +
      // rewrite), not the repeated re-ingest of its input
      val fixtureRoot = fixture("store_compact_src", dir) {
        val root = fixtureScratchDir("graft-store-src", dir)
        val store = new graft.store.SegmentStore(s, root)
        val base = T(s, dir, "orders")
          .select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
        store.append(base.filter(col("id") % 3 === 0))
        store.append(base.filter(col("id") % 3 === 1))
        store.append(base.filter(col("id") % 3 === 2))
        store.append(base.filter(col("id") % 5 === 0)
          .withColumn("price", lit(1.0))) // updates: newest segment wins
        store.deleteFrom(base.filter(col("id") % 11 === 0).select("id"))
        root
      }
      val tmpRoot = scratchDir("graft-store")
      val src = java.nio.file.Paths.get(fixtureRoot)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(tmpRoot)
          .resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else if (p.getFileName.toString.endsWith(".tmp") ||
                 p.getFileName.toString.startsWith("."))
          // NEVER hardlink a temp file (ADVICE r19 #2): committed store
          // files are immutable (temp+rename), but a leftover *.tmp is
          // exactly the kind of path a later fs.create(tmp, overwrite)
          // would open for WRITE — through a shared inode that would
          // silently corrupt the fixture for every later run. Copy it.
          { java.nio.file.Files.copy(p, dst,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING); () }
        else
          // hardlink the immutable fixture files instead of copying the
          // bytes — the timed operation is the COMPACTION (read + merge +
          // rewrite), not the harness's scratch-dir setup; parquet files
          // are never modified in place (temp+rename only — see the
          // no-in-place-write invariant at SegmentStore.writeRetiredManifest)
          // and vacuum only unlinks, so links are safe (fallback to copy
          // on filesystems without link support)
          try java.nio.file.Files.createLink(dst, p)
          catch { case _: UnsupportedOperationException |
                       _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(p, dst,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
          }
      }
      val store = new graft.store.SegmentStore(s, tmpRoot)
      store.compact()
      // count + avg (not sum): a 600k-term double sum is order-sensitive
      // at the 2-dp rounding boundary; avg divides the error away
      store.read()
        .agg(count(lit(1)).as("n_live"),
          count(when(col("price") === 1.0, 1)).as("n_upd"),
          round(avg(col("price")), 2).as("avg_price"))
    }),
    // the RETIREMENT-WINDOW lifecycle as a DuckDB-matched oracle (round
    // 19, the ADVICE r18 #1 scenario end-to-end): deletes PRECEDE a
    // compaction (their tombstone files are consumed + retired), a frame
    // is planned AFTER that compaction, more mutations land, and a
    // SECOND compaction vacuums the retired generation — the held frame
    // must still collect (its plan references no retired file) and stay
    // generation-bound (the post-plan mutations are invisible to it),
    // while the final read applies every marker. One result frame with
    // both phases, labeled.
    "store_vacuum_cycle" -> ((s, dir) => {
      val (store, held) = fixture("store_vacuum_cycle", dir) {
        val root = fixtureScratchDir("graft-svac", dir)
        val st = new graft.store.SegmentStore(s, root)
        val base = T(s, dir, "orders")
          .select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
        st.append(base.filter(col("id") % 3 === 0))
        st.append(base.filter(col("id") % 3 === 1))
        st.deleteFrom(base.filter(col("id") % 3 < 2 && col("id") % 7 === 0)
          .select("id"))
        st.compact() // consumes + retires the tombstone files
        val h = st.read() // the held frame: planned post-compaction
        st.append(base.filter(col("id") % 3 === 2))
        st.deleteFrom(base.filter(col("id") % 11 === 0).select("id"))
        st.compact() // vacuums generation 1 — held must survive this
        (st, h)
      }
      val phase = (df: org.apache.spark.sql.DataFrame, tag: String) =>
        df.agg(count(lit(1)).as("n"),
            round(avg(col("price")), 2).as("avg_price"))
          .withColumn("phase", lit(tag))
      phase(held, "held").unionByName(phase(store.read(), "final"))
        .select(col("phase"), col("n"), col("avg_price"))
        .orderBy(col("phase"))
    }),
    // flatMapGroupsWithState custom-state sessionization: emits every
    // CLOSED session (each user's last stays open in the state store) —
    // the batch run of the same code that streams across micro-batches
    "q_sessions_stateful" -> ((s, dir) =>
      graft.streaming.Ingest.statefulSessions(T(s, dir, "events"))
        .toDF()
        .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))),
    // distinct aggregation + exact interpolated percentiles per group
    "q_events_stats" -> ((s, dir) =>
      T(s, dir, "events").groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(expr("percentile(value, 0.5)"), 6).as("med"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy(col("event_type"))),
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.Ingest.sessionize(T(s, dir, "events"))
        .select(col("user_id"), col("ts").cast("string").as("ts_s"),
          col("session_id"))
        .orderBy(col("user_id"), col("ts_s"))),
    // Session-level analytics over the sessionize output — the realistic
    // downstream consumer (per-user session counts / sizes / durations);
    // exercises sessionize through a two-level aggregation end-to-end
    "q_session_stats" -> ((s, dir) =>
      graft.streaming.Ingest.sessionize(T(s, dir, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("dur_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          round(avg(col("dur_us")) / 1000000.0, 2).as("avg_dur_s"))
        .orderBy(col("user_id")))
  )

  // ------------------------------------------------------------ oracle SQL

  private val bm25Cte =
    """WITH tok AS (SELECT doc_id AS id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
      |d AS (SELECT id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
      |post AS (SELECT id, dl, unnest(toks) AS term FROM d),
      |tf AS (SELECT term, id, dl, CAST(count(*) AS DOUBLE) AS tf FROM post GROUP BY 1,2,3),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d)""".stripMargin

  /** Autocut oracle: normalize to the ideal linear ramp, diff, cut before
    * the `nth` local maximum (limiter.go:81-118). */
  private def autocutSql(nth: Int) =
    s"""$knnSqlPrefix,
       |top AS (SELECT vec_id, dist FROM (
       |  SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
       |    x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
       |  FROM e CROSS JOIN q
       |  ORDER BY dist ASC, vec_id ASC LIMIT 50)),
       |r AS (SELECT vec_id, dist,
       |  row_number() OVER (ORDER BY dist, vec_id) - 1 AS i FROM top),
       |nn AS (SELECT count(*) AS n FROM r),
       |bounds AS (SELECT
       |  (SELECT dist FROM r WHERE i = 0) AS d0,
       |  (SELECT dist FROM r ORDER BY i DESC LIMIT 1) AS dl,
       |  (SELECT n FROM nn) AS n),
       |d AS (SELECT r.vec_id, r.dist, r.i, b.n,
       |  ((r.dist - b.d0) / (b.dl - b.d0)) - r.i * (1.0 / (b.n - 1)) AS diff
       |  FROM r, bounds b),
       |m AS (SELECT i FROM (
       |  SELECT i, n, diff,
       |    lag(diff) OVER (ORDER BY i) AS p1,
       |    lag(diff, 2) OVER (ORDER BY i) AS p2,
       |    lead(diff) OVER (ORDER BY i) AS nx FROM d)
       |  WHERE i >= 1 AND ((i < n - 1 AND diff > p1 AND diff > nx)
       |    OR (i = n - 1 AND diff > p1 AND diff > p2))),
       |cut AS (SELECT coalesce(
       |  (SELECT i FROM m ORDER BY i LIMIT 1 OFFSET ${nth - 1}),
       |  (SELECT n FROM nn)) AS c)
       |SELECT vec_id AS id, round(dist, 6) AS score
       |FROM r, cut WHERE r.i < cut.c
       |ORDER BY score, id""".stripMargin

  private def bm25ScoreSql(qcte: String) =
    s"""$bm25Cte,
       |$qcte,
       |scored AS (
       |  SELECT tf.id, sum(
       |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
       |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
       |  FROM tf JOIN df USING(term) JOIN q USING(term) CROSS JOIN stats
       |  GROUP BY tf.id)
       |SELECT id AS doc_id, round(score, 4) AS score FROM (
       |  SELECT * FROM scored ORDER BY score DESC, id LIMIT 10)
       |ORDER BY score DESC, doc_id""".stripMargin

  /** Exact-rescore tail shared by the `*_refine` oracles: cut the coarse
    * `score` CTE to the candidate budget, re-rank those rows by exact L2
    * against the query, keep the true top-10. */
  private def refineTailSql(budget: Int): String =
    s"""cand AS (SELECT vec_id FROM score ORDER BY dist ASC, vec_id ASC LIMIT $budget)
       |SELECT vec_id, round(dist, 6) AS dist FROM (
       |  SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
       |    x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
       |  FROM e JOIN cand ON cand.vec_id = e.vec_id CROSS JOIN q
       |  ORDER BY dist ASC, e.vec_id ASC LIMIT 10)
       |ORDER BY dist ASC, vec_id ASC""".stripMargin

  private val adcTopSql =
    """SELECT vec_id, round(dist, 6) AS dist FROM (
      |  SELECT vec_id, dist FROM score ORDER BY dist ASC, vec_id ASC LIMIT 10)
      |ORDER BY dist ASC, vec_id ASC""".stripMargin

  // PQ with init-only codebooks: centroid j of subspace s = row at
  // j*(n/16) (clustering.go:147-162); codes = per-subspace argmin (ties →
  // lowest j, pq_index.go:439-507); dist = sqrt(Σ_s table[s][code]) —
  // pq_index_search.go:218-324 reproduced in SQL, ending at the `score`
  // CTE so the adc and refine oracles share one pipeline
  private val pqAdcScoreCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |ord AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |par AS (SELECT count(*) AS n, greatest(count(*) // 16, 1) AS step FROM e),
      |sub AS (SELECT unnest(range(8)) AS s),
      |cb AS (
      |  SELECT g.j AS j, sub.s AS s,
      |    list_slice(o.v, sub.s * 8 + 1, sub.s * 8 + 8) AS cv
      |  FROM (SELECT unnest(range(16)) AS j) g
      |  CROSS JOIN par p
      |  JOIN ord o ON o.rn = least(g.j * p.step, p.n - 1)
      |  CROSS JOIN sub),
      |enc AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT e.vec_id, cb.s, cb.j,
      |      row_number() OVER (PARTITION BY e.vec_id, cb.s ORDER BY
      |        list_sum(list_transform(
      |          list_zip(list_slice(e.v, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
      |          x -> (x[1]-x[2])*(x[1]-x[2]))), cb.j) AS rk
      |    FROM e CROSS JOIN cb)
      |  WHERE rk = 1),
      |tab AS (
      |  SELECT cb.s, cb.j,
      |    list_sum(list_transform(
      |      list_zip(list_slice(q.qv, cb.s * 8 + 1, cb.s * 8 + 8), cb.cv),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS td
      |  FROM cb CROSS JOIN q),
      |score AS (
      |  SELECT enc.vec_id, sqrt(sum(tab.td)) AS dist
      |  FROM enc JOIN tab ON tab.s = enc.s AND tab.j = enc.j
      |  GROUP BY enc.vec_id)""".stripMargin

  // IVFPQ, init-only everywhere: coarse centroid c = init row at
  // min(c·(n/8), n−1); float residuals (CAST … AS REAL reproduces the
  // reference's float32 subtraction, ivfpq_index.go:467-542); residual
  // codebooks from init rows of the residual frame; query probes its 4
  // nearest coarse lists, builds one residual table per probed cluster,
  // ADC-scans those clusters only (ivfpq_index_search.go:231-341)
  private val ivfpqAdcScoreCtes =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |ord AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |par AS (SELECT count(*) AS n, greatest(count(*) // 8, 1) AS cstep,
      |               greatest(count(*) // 16, 1) AS pstep FROM e),
      |cents AS (
      |  SELECT g.c AS cid, o.v AS cv
      |  FROM (SELECT unnest(range(8)) AS c) g
      |  CROSS JOIN par p
      |  JOIN ord o ON o.rn = least(g.c * p.cstep, p.n - 1)),
      |asg AS (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(e.v, c.cv),
      |        x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
      |  FROM e CROSS JOIN cents c),
      |cl AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
      |res AS (
      |  SELECT e.vec_id, cl.cid,
      |    list_transform(list_zip(e.v, c.cv),
      |      x -> CAST(CAST(x[1] - x[2] AS REAL) AS DOUBLE)) AS rv
      |  FROM e JOIN cl ON cl.vec_id = e.vec_id
      |  JOIN cents c ON c.cid = cl.cid),
      |sub AS (SELECT unnest(range(8)) AS s),
      |rcb AS (
      |  SELECT g.j AS j, sub.s AS s,
      |    list_slice(r.rv, sub.s * 8 + 1, sub.s * 8 + 8) AS cv
      |  FROM (SELECT unnest(range(16)) AS j) g
      |  CROSS JOIN par p
      |  JOIN ord o ON o.rn = least(g.j * p.pstep, p.n - 1)
      |  JOIN res r ON r.vec_id = o.vec_id
      |  CROSS JOIN sub),
      |enc AS (
      |  SELECT vec_id, s, j FROM (
      |    SELECT r.vec_id, rcb.s, rcb.j,
      |      row_number() OVER (PARTITION BY r.vec_id, rcb.s ORDER BY
      |        list_sum(list_transform(
      |          list_zip(list_slice(r.rv, rcb.s * 8 + 1, rcb.s * 8 + 8), rcb.cv),
      |          x -> (x[1]-x[2])*(x[1]-x[2]))), rcb.j) AS rk
      |    FROM res r CROSS JOIN rcb)
      |  WHERE rk = 1),
      |probe AS (
      |  SELECT cid FROM (
      |    SELECT c.cid,
      |      row_number() OVER (ORDER BY
      |        list_sum(list_transform(list_zip(c.cv, q.qv),
      |          x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
      |    FROM cents c CROSS JOIN q)
      |  WHERE rk <= 4),
      |qres AS (
      |  SELECT c.cid,
      |    list_transform(list_zip(q.qv, c.cv),
      |      x -> CAST(CAST(x[1] - x[2] AS REAL) AS DOUBLE)) AS rv
      |  FROM cents c CROSS JOIN q
      |  WHERE c.cid IN (SELECT cid FROM probe)),
      |tab AS (
      |  SELECT qr.cid, rcb.s, rcb.j,
      |    list_sum(list_transform(
      |      list_zip(list_slice(qr.rv, rcb.s * 8 + 1, rcb.s * 8 + 8), rcb.cv),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))) AS td
      |  FROM qres qr CROSS JOIN rcb),
      |score AS (
      |  SELECT enc.vec_id, sqrt(sum(tab.td)) AS dist
      |  FROM enc JOIN cl ON cl.vec_id = enc.vec_id
      |  JOIN tab ON tab.cid = cl.cid AND tab.s = enc.s AND tab.j = enc.j
      |  GROUP BY enc.vec_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls,
        | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, round(raw_rev, 2) AS revenue FROM (
        |  SELECT o_orderkey, sum(l_extendedprice * (1.0 - l_discount)) AS raw_rev
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY o_orderkey ORDER BY raw_rev DESC, o_orderkey LIMIT 10)
        |ORDER BY revenue DESC, o_orderkey""".stripMargin,
    "q5_join" ->
      """SELECT n_name, count(*) AS num_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS w_start, event_type,
        | count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_json" ->
      """SELECT event_type,
        | round(avg(k), 4) AS avg_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_tombstone" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "f_eq_in" ->
      """SELECT p_partkey, p_brand, p_type, p_size FROM part
        |WHERE p_brand = 'Brand#1' AND p_type IN ('ECONOMY', 'PROMO')
        |ORDER BY p_partkey""".stripMargin,
    "f_range" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part
        |WHERE p_retailprice BETWEEN 950.0 AND 960.0 AND p_size >= 10
        |ORDER BY p_partkey""".stripMargin,
    "f_dnf" ->
      """SELECT p_partkey, p_brand, p_type, p_size, p_retailprice FROM part
        |WHERE (p_brand = 'Brand#1' AND p_size < 10)
        |   OR (p_type = 'PROMO' AND p_retailprice > 995.0)
        |ORDER BY p_partkey""".stripMargin,
    "f_not" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE NOT (p_size BETWEEN 5 AND 45) AND p_brand <> 'Brand#2'
        |ORDER BY p_partkey""".stripMargin,
    "f_null" ->
      """SELECT p_partkey, p_brand, p_size FROM (
        |  SELECT *, nullif(p_brand, 'Brand#1') AS b FROM part)
        |WHERE (b IS NULL)
        |   OR ((b IS NULL OR b NOT IN ('Brand#2', 'Brand#3')) AND p_size = 1)
        |ORDER BY p_partkey""".stripMargin,
    "f_tags" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE len(list_intersect([lang, source], ['de', 'fr'])) > 0
        |   OR (len(list_intersect([lang, source], ['en'])) = 0
        |       AND n_chars < 200)
        |ORDER BY doc_id""".stripMargin,
    "knn_l2" -> l2Sql(""),
    "knn_threshold" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(dist, 6) AS dist FROM (
         |  SELECT * FROM (
         |    SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
         |      x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |    FROM e CROSS JOIN q)
         |  WHERE dist <= 1.3
         |  ORDER BY dist ASC, vec_id ASC LIMIT 20)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    "vec_norm" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id BETWEEN 1 AND 20),
        |n AS (SELECT vec_id, v,
        |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT vec_id, round(nrm, 6) AS l2norm,
        | round(v[1] / nrm, 6) AS unit0,
        | round(sqrt(list_sum(list_transform(v, x -> (x/nrm)*(x/nrm)))), 6) AS unit_norm,
        | round(v[1] * 2.5, 6) AS scaled0
        |FROM n ORDER BY vec_id""".stripMargin,
    "rerank_boost" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(score, 6) AS score FROM (
         |  SELECT vec_id, dist / (1.0 + (vec_id % 3)) AS score FROM (
         |    SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
         |      x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |    FROM e CROSS JOIN q
         |    ORDER BY dist ASC, vec_id ASC LIMIT 10))
         |ORDER BY score, vec_id""".stripMargin,
    "autocut_demo" -> autocutSql(1),
    "autocut_nth" -> autocutSql(2),
    "knn_cosine_prenorm" ->
      s"""$knnSqlPrefix,
         |e2 AS (SELECT vec_id, list_transform(v, x -> x /
         |  sqrt(list_sum(list_transform(v, y -> y*y)))) AS v FROM e),
         |q2 AS (SELECT list_transform(qv, x -> x /
         |  sqrt(list_sum(list_transform(qv, y -> y*y)))) AS qv FROM q)
         |SELECT vec_id, round(dist, 6) AS dist FROM (
         |  SELECT e2.vec_id, least(greatest(1.0 -
         |      list_sum(list_transform(list_zip(e2.v, q2.qv), x -> x[1]*x[2])),
         |      0.0), 2.0) AS dist
         |  FROM e2 CROSS JOIN q2
         |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    // flat artifact round trip: the store prenormalizes in DOUBLE then
    // casts to FLOAT (normalize-at-insert, array<float> storage); the
    // reload's cosine then runs full double math over those f32 values.
    // The oracle replays exactly that chain: prenorm -> FLOAT[] ->
    // DOUBLE[] -> cosine with re-normalization.
    "flat_persist" ->
      s"""$knnSqlPrefix,
         |pn AS (SELECT vec_id, CAST(CAST(list_transform(v, x -> x /
         |  sqrt(list_sum(list_transform(v, y -> y*y)))) AS FLOAT[])
         |  AS DOUBLE[]) AS v FROM e)
         |SELECT vec_id, round(dist, 6) AS dist FROM (
         |  SELECT pn.vec_id, least(greatest(1.0 -
         |      list_sum(list_transform(list_zip(pn.v, q.qv), x -> x[1]*x[2])) /
         |      (sqrt(list_sum(list_transform(pn.v, y -> y*y))) *
         |       sqrt(list_sum(list_transform(q.qv, y -> y*y)))),
         |      0.0), 2.0) AS dist
         |  FROM pn CROSS JOIN q
         |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    "knn_cosine" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(dist, 6) AS dist FROM (
         |  SELECT e.vec_id,
         |    least(greatest(1.0 -
         |      list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])) /
         |      (sqrt(list_sum(list_transform(list_zip(e.v, e.v), x -> x[1]*x[2]))) *
         |       sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), x -> x[1]*x[2])))),
         |      0.0), 2.0) AS dist
         |  FROM e CROSS JOIN q
         |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    "knn_prefilter" -> l2Sql("WHERE e.label IN (1, 2, 3)"),
    // HNSW at correctness scale is provably EXACT, so the flat-kNN SQL
    // oracle applies: the query searches with ExhaustiveEf, whose share per
    // shard exceeds every shard's node count (sf0.1 has 2,000 vectors), so
    // the beam's early-stop (res.size >= ef) never fires, and each shard
    // graph is connected
    // (every insert links to its efConstruction-beam neighborhood, which
    // at these sizes is the whole shard) — the search visits EVERY node
    // and degenerates to exhaustive exact search, per shard, merged
    // globally. Approximate behavior at scale stays pinned by the recall
    // and property specs (VectorIndexSpec, FilteredIndexSpec).
    "hnsw_knn" -> l2Sql(""),
    // exact cosine distance in double; 5 dp (see the query's comment)
    "hnsw_cosine" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(dist, 5) AS dist FROM (
         |  SELECT e.vec_id,
         |    least(greatest(1.0 -
         |      list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])) /
         |      (sqrt(list_sum(list_transform(list_zip(e.v, e.v), x -> x[1]*x[2]))) *
         |       sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), x -> x[1]*x[2])))),
         |      0.0), 2.0) AS dist
         |  FROM e CROSS JOIN q
         |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    "hnsw_prefilter" -> l2Sql("WHERE e.label IN (1, 2, 3)"),
    // deleteFlush drops ids 1-5 and rewires survivors; exhaustive beam
    // over the repaired (still-connected) shards == flat minus the ids
    "hnsw_delete" -> l2Sql("WHERE e.vec_id NOT IN (1, 2, 3, 4, 5)"),
    // node 0's stored vector IS the qid-0 query vector
    "hnsw_nodes" -> l2Sql(""),
    // dump -> load restores the graphs verbatim, so the reloaded search
    // is the same exhaustive-exact scan
    "hnsw_persist" -> l2Sql(""),
    // full LSH pipeline in SQL: closed-form planes (multiples of 2^-10 —
    // exact in float and double, no cross-engine cast noise), double
    // sequential dots with the kernel's strict `> 0` sign rule
    // (CentroidUtil.signLsh), Hamming-1 multi-probe, cosine verify in the
    // knn_cosine oracle's exact expression shape
    "ann_lsh" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |planes AS (SELECT p, list_transform(range(0, (SELECT len(qv) FROM q)),
        |    j -> CAST(CAST(((((p + 42) * 7919 + j * 104729) * 2654435761) % 2048) / 1024.0 - 1.0 AS REAL) AS DOUBLE)) AS pv
        |  FROM (SELECT unnest(range(0, 8)) AS p)),
        |esig AS (SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig FROM (
        |    SELECT e.vec_id, planes.p,
        |      list_sum(list_transform(list_zip(e.v, planes.pv), x -> x[1]*x[2])) AS d
        |    FROM e CROSS JOIN planes) GROUP BY vec_id),
        |qsig AS (SELECT CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig FROM (
        |    SELECT planes.p,
        |      list_sum(list_transform(list_zip(q.qv, planes.pv), x -> x[1]*x[2])) AS d
        |    FROM q CROSS JOIN planes)),
        |probes AS (SELECT xor((SELECT sig FROM qsig), CAST(1 << b AS BIGINT)) AS bucket
        |    FROM (SELECT unnest(range(0, 8)) AS b)
        |  UNION SELECT sig FROM qsig),
        |cand AS (SELECT e.vec_id, e.v FROM e JOIN esig USING (vec_id)
        |  WHERE esig.sig IN (SELECT bucket FROM probes))
        |SELECT vec_id, round(dist, 6) AS dist FROM (
        |  SELECT cand.vec_id,
        |    least(greatest(1.0 -
        |      list_sum(list_transform(list_zip(cand.v, q.qv), x -> x[1]*x[2])) /
        |      (sqrt(list_sum(list_transform(list_zip(cand.v, cand.v), x -> x[1]*x[2]))) *
        |       sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), x -> x[1]*x[2])))),
        |      0.0), 2.0) AS dist
        |  FROM cand CROSS JOIN q
        |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
        |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    "bm25_search" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)"),
    // OOV terms have no postings row, so the df join drops them on both
    // engines — scores must equal a present-terms-only query
    "bm25_oov" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','zzzneverseen','query','qqq999']) AS term)"),
    // k=0 returns ALL matching docs; deterministic (rounded score desc,
    // id) total order over hundreds of near-ties
    "bm25_ties" ->
      s"""$bm25Cte,
         |q AS (SELECT 'the' AS term),
         |scored AS (
         |  SELECT tf.id, sum(
         |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
         |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
         |  FROM tf JOIN df USING(term) JOIN q USING(term) CROSS JOIN stats
         |  GROUP BY tf.id)
         |SELECT id AS doc_id, round(score, 4) AS score FROM scored
         |ORDER BY score DESC, doc_id""".stripMargin,
    // same scoring, but the corpus is the store's LIVE view: every doc
    // survives segment append except the tombstoned doc_id % 7 rows
    "store_live_search" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)")
      .replace("FROM documents)", "FROM documents WHERE doc_id % 7 <> 0)"),
    // the log-maintained corpus (seed half -> incremental add + replace +
    // delete) must equal a fresh build over the survivors
    "store_incremental" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)")
      .replace("FROM documents)", "FROM documents WHERE doc_id % 7 <> 0)"),
    // the streaming pipeline must leave no trace of the duplicate
    // redelivery or micro-batch boundaries: live view == batch view
    "store_stream_e2e" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)")
      .replace("FROM documents)", "FROM documents WHERE doc_id % 7 <> 0)"),
    // incremental add must equal a fresh full build
    "bm25_incremental" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)"),
    // incremental delete must equal a build over the survivors
    "bm25_delete" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)")
      .replace("FROM documents)", "FROM documents WHERE doc_id % 7 <> 0)"),
    // upsert equals a fresh build over the corpus with the replaced text
    "bm25_upsert" -> bm25ScoreSql(
      "q AS (SELECT unnest(['refreshed','spark','query']) AS term)")
      .replace("FROM documents)",
        "FROM (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN " +
          "'refreshed content ' || text ELSE text END AS text " +
          "FROM documents))"),
    "bm25_morelike" -> bm25ScoreSql(
      "q AS (SELECT DISTINCT term FROM tf WHERE id = 0)"),
    // reload must reproduce the original index's scores exactly
    "bm25_persist" -> bm25ScoreSql(
      "q AS (SELECT unnest(['spark','query','join','table']) AS term)"),
    // search-equivalence certificate: all 10 (id, score) rows must agree
    // between the original and the reloaded PQ index
    "pq_persist" ->
      """SELECT CAST(10 AS BIGINT) AS n_orig, CAST(10 AS BIGINT) AS n_rt,
        | CAST(10 AS BIGINT) AS n_match""".stripMargin,
    // partitioned metadata round trip then the f_dnf filter
    "meta_persist" ->
      """SELECT p_partkey, p_brand, p_type, p_size, p_retailprice FROM part
        |WHERE (p_brand = 'Brand#1' AND p_size < 10)
        |   OR (p_type = 'PROMO' AND p_retailprice > 995.0)
        |ORDER BY p_partkey""".stripMargin,
    // full hybrid over the live store view: docs with doc_id % 9 = 5 are
    // tombstoned, so they vanish from the BM25 corpus stats, the metadata
    // candidates, AND the vector modality
    "store_hybrid" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    // the facade must reproduce the hand-composed store_hybrid pipeline
    // identical final live corpus and query as store_facade; the
    // incremental path must match the same oracle exactly
    // COSINE twin of store_facade_incr: the mutation tail re-appends the
    // deleted slice (tombstone → resurrect), so the live corpus is the
    // FULL documents/embeddings set and the plain cosine oracle applies
    // with no deletion modeling
    "store_facade_incr_cos" -> hybridCosineSql,
    // incremental-HNSW-leg facade: same mutations as store_facade_incr
    // (delete WITHOUT resurrect), so the same deletion-modeled oracle
    "store_facade_hnsw" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    "store_facade_incr" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    // identical mutation history and (at probe-all, with scoring on the
    // un-rotated stored vectors) identical scores to store_facade_incr —
    // the rotation only moves the coarse routing into OPQ space
    "store_facade_opq" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    // identical mutation history to store_facade_incr; the quantized leg
    // refines with a corpus-covering factor, so the exact raw-space
    // re-rank equals the flat scan regardless of ADC ordering and the
    // same hybrid oracle applies verbatim
    "store_facade_pq" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    // ROUTED twin of store_facade_pq (coarse quantizer + residual codes,
    // the IVFPQ composition): at nprobe = nlist every list is probed and
    // refineFactor covers the corpus, so the exact raw-space re-rank
    // equals the flat scan and the same hybrid oracle applies verbatim;
    // bounded-probe recall is gated by PqLogSpec
    "store_facade_ivfpq" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    "store_facade" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 9 <> 5)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 9 <> 5)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 9 <> 5)"),
    // mutate -> close -> reopen -> search: the delete precedes the odd
    // append, so only EVEN %9==5 docs (doc_id % 18 = 14) stay masked —
    // the odd half re-appended after the marker is live again
    "store_close" -> hybridFullSql
      .replace("FROM documents)",
        "FROM documents WHERE doc_id % 18 <> 14)")
      .replace("WHERE lang = 'en' AND n_chars > 100)",
        "WHERE lang = 'en' AND n_chars > 100 AND doc_id % 18 <> 14)")
      .replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 18 <> 14)"),
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS cnt, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(toks)) AS BIGINT) AS n_terms,
        | round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr
        |FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_tokcount" ->
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z0-9]+| ?[^a-z0-9''\s]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |bi AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END AS n_bigrams,
        |  CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        |    round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 4)
        |  END AS dup_bigram_ratio FROM tok),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM
        |  (SELECT doc_id, unnest(toks) AS tok FROM tok) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_token_ratio
        |  FROM tc GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
        |  b.dup_bigram_ratio, coalesce(tt.top_token_ratio, 0.0) AS top_token_ratio
        |FROM bi b LEFT JOIN tt USING(doc_id) ORDER BY doc_id""".stripMargin,
    "pipeline_e2e" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
        |      / len(toks) END AS mean_word_len,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |      / len(toks) END AS alpha_ratio,
        |  CAST(len(list_filter(toks,
        |    t -> t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT)
        |    AS n_stop_hits,
        |  CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        |    1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1)
        |  END AS dup_bigram_ratio FROM tok),
        |tc AS (SELECT doc_id, tok2, count(*) AS c FROM
        |  (SELECT doc_id, unnest(toks) AS tok2 FROM tok) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_token_ratio
        |  FROM tc GROUP BY doc_id),
        |keepdocs AS (SELECT m.doc_id FROM m
        |  LEFT JOIN tt USING(doc_id)
        |  WHERE m.n_words >= 25 AND m.n_words <= 100000
        |    AND m.mean_word_len >= 3.0 AND m.mean_word_len <= 10.0
        |    AND m.alpha_ratio >= 0.8 AND m.n_stop_hits >= 1
        |    AND m.dup_bigram_ratio <= 0.1
        |    AND coalesce(tt.top_token_ratio, 0.0) <= 0.2),
        |filt AS (SELECT d.doc_id, d.text FROM documents d JOIN keepdocs USING(doc_id)),
        |k AS (SELECT md5(text) AS h, min(doc_id) AS keeper FROM filt GROUP BY 1),
        |dd AS (SELECT f2.doc_id FROM filt f2 JOIN k ON f2.doc_id = k.keeper),
        |sp AS (SELECT dd.doc_id,
        |  CASE WHEN CAST(concat('0x', substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
        |       THEN 'train'
        |       WHEN CAST(concat('0x', substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
        |       THEN 'val' ELSE 'test' END AS split
        |  FROM dd)
        |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(tok.toks)) AS BIGINT) AS n_tokens
        |FROM sp JOIN tok USING(doc_id)
        |GROUP BY sp.split ORDER BY sp.split""".stripMargin,
    "quality_gopher" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
        |      / len(toks) END AS mean_word_len,
        |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |      / len(toks) END AS alpha_ratio,
        |  CAST(len(list_filter(toks,
        |    t -> t IN ('the','be','to','of','and','that','have','with'))) AS BIGINT)
        |    AS n_stop_hits,
        |  CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        |    1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1)
        |  END AS dup_bigram_ratio FROM tok),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM
        |  (SELECT doc_id, unnest(toks) AS tok FROM tok) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_token_ratio
        |  FROM tc GROUP BY doc_id),
        |j AS (SELECT m.*, coalesce(tt.top_token_ratio, 0.0) AS top_token_ratio
        |  FROM m LEFT JOIN tt USING(doc_id)),
        |f AS (SELECT *,
        |  n_words >= 25 AND n_words <= 100000 AS pass_words,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS pass_word_len,
        |  alpha_ratio >= 0.8 AS pass_alpha,
        |  n_stop_hits >= 1 AS pass_stop,
        |  dup_bigram_ratio <= 0.1 AND top_token_ratio <= 0.2 AS pass_rep
        |  FROM j)
        |SELECT doc_id, n_words, round(mean_word_len, 4) AS mean_word_len,
        |  round(alpha_ratio, 4) AS alpha_ratio, n_stop_hits,
        |  round(dup_bigram_ratio, 4) AS dup_bigram_ratio,
        |  round(top_token_ratio, 4) AS top_token_ratio,
        |  pass_words, pass_word_len,
        |  pass_alpha, pass_stop, pass_rep,
        |  pass_words AND pass_word_len AND pass_alpha AND pass_stop AND pass_rep AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "dedup_lines" ->
      """WITH d AS (SELECT doc_id,
        |  'banner line' || chr(10) || text || chr(10) || 'footer ' || (doc_id % 7) AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
        |px AS (SELECT doc_id, parts, unnest(range(len(parts))) AS pos FROM sp),
        |ln AS (SELECT doc_id, pos, trim(parts[pos + 1]) AS line FROM px
        |  WHERE len(trim(parts[pos + 1])) > 0),
        |kf AS (SELECT doc_id, pos, line,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk FROM ln)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN rk = 1 THEN line END, chr(10) ORDER BY pos), '') AS cleaned
        |FROM kf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pipeline_dedup_e2e" ->
      """WITH d AS (SELECT doc_id,
        |  'banner line' || chr(10) || text || chr(10) || 'footer ' || (doc_id % 7) AS t
        |  FROM documents),
        |sp AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
        |px AS (SELECT doc_id, parts, unnest(range(len(parts))) AS pos FROM sp),
        |ln AS (SELECT doc_id, pos, trim(parts[pos + 1]) AS line FROM px
        |  WHERE len(trim(parts[pos + 1])) > 0),
        |kf AS (SELECT doc_id, pos, line,
        |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk FROM ln),
        |cl AS (SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rk = 1 THEN line END, chr(10) ORDER BY pos), '') AS cleaned
        |  FROM kf GROUP BY doc_id),
        |k AS (SELECT md5(cleaned) AS h, min(doc_id) AS keeper FROM cl GROUP BY 1),
        |kept AS (SELECT cl.doc_id, cl.cleaned FROM cl JOIN k ON cl.doc_id = k.keeper),
        |spl AS (SELECT doc_id, cleaned,
        |  CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
        |       THEN 'train'
        |       WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
        |       THEN 'val' ELSE 'test' END AS split
        |  FROM kept)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(cleaned)) AS BIGINT) AS n_chars
        |FROM spl GROUP BY split ORDER BY split""".stripMargin,
    "quality_c4" ->
      """WITH p AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 5 = 0
        |    THEN 'only one short planted sentence lives here .'
        |    ELSE 'first planted sentence is long enough . second one also fine . third completes the required trio .'
        |   END)
        |  || chr(10) || 'too short.' || chr(10) || text ||
        |  (CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'hidden lorem ipsum marker .'
        |        ELSE chr(10) || 'another perfectly ordinary closing sentence .' END) ||
        |  (CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'config { block } found .'
        |        ELSE '' END) AS t
        |  FROM documents),
        |f AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |  list_filter(string_split(t, chr(10)), l ->
        |    regexp_matches(trim(l), '[.!?"]$') AND
        |    len(string_split_regex(trim(l), '\s+')) >= 5) AS kept
        |  FROM p),
        |g AS (SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(regexp_extract_all(array_to_string(kept, chr(10)), '[.!?]')) AS BIGINT) AS n_sentences,
        |  contains(lower(t), 'lorem ipsum') AS has_lorem,
        |  contains(t, '{') AS has_brace,
        |  array_to_string(kept, chr(10)) AS cleaned
        |  FROM f)
        |SELECT doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
        |  cleaned, n_sentences >= 3 AND NOT has_lorem AND NOT has_brace AS keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "quality_ccnet" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)),
        |rbg AS (SELECT w1, w2, count(*) AS cb FROM bg WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |run AS (SELECT w1, count(*) AS cu FROM
        |  (SELECT doc_id, unnest(toks) AS w1 FROM tok) WHERE doc_id % 5 = 0 GROUP BY 1),
        |v AS (SELECT count(*) + 1 AS vocab FROM run),
        |sc AS (SELECT bg.doc_id,
        |  CAST(round(ln((coalesce(rbg.cb, 0) + 0.1) /
        |    (coalesce(run.cu, 0) + 0.1 * v.vocab)), 8) AS DECIMAL(28,8)) AS lp
        |  FROM bg LEFT JOIN rbg USING(w1, w2) LEFT JOIN run USING(w1) CROSS JOIN v),
        |pd AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |  -CAST(pd.slp AS DOUBLE) / pd.n_bigrams AS cross_entropy
        |FROM documents d LEFT JOIN pd USING(doc_id) ORDER BY d.doc_id""".stripMargin,
    "quality_dsir" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |rt AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        |rb AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 4096 AS b FROM rt),
        |tb AS (SELECT b, count(*) AS ct FROM rb WHERE doc_id % 5 = 0 GROUP BY b),
        |rbc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
        |tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tb) AS nt,
        |               (SELECT coalesce(sum(cr), 0) FROM rbc) AS nr),
        |ratio AS (SELECT r.b,
        |  CAST(round(ln(((coalesce(t.ct, 0) + 0.5) / (tot.nt + 0.5 * 4096)) /
        |               ((r.cr + 0.5) / (tot.nr + 0.5 * 4096))), 8) AS DECIMAL(28,8)) AS lr
        |  FROM rbc r LEFT JOIN tb t USING(b) CROSS JOIN tot),
        |pd AS (SELECT rb.doc_id, count(*) AS n_tokens, sum(ratio.lr) AS lw
        |  FROM rb JOIN ratio USING(b) GROUP BY rb.doc_id)
        |SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
        |  coalesce(CAST(pd.lw AS DOUBLE), 0.0) AS log_weight
        |FROM documents d LEFT JOIN pd USING(doc_id) ORDER BY d.doc_id""".stripMargin,
    "quality_dsir_sample" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |rt AS (SELECT doc_id, unnest(toks) AS t FROM tok),
        |rb AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 4096 AS b FROM rt),
        |tb AS (SELECT b, count(*) AS ct FROM rb WHERE doc_id % 5 = 0 GROUP BY b),
        |rbc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
        |tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tb) AS nt,
        |               (SELECT coalesce(sum(cr), 0) FROM rbc) AS nr),
        |ratio AS (SELECT r.b,
        |  CAST(round(ln(((coalesce(t.ct, 0) + 0.5) / (tot.nt + 0.5 * 4096)) /
        |               ((r.cr + 0.5) / (tot.nr + 0.5 * 4096))), 8) AS DECIMAL(28,8)) AS lr
        |  FROM rbc r LEFT JOIN tb t USING(b) CROSS JOIN tot),
        |pd AS (SELECT rb.doc_id, sum(ratio.lr) AS lw
        |  FROM rb JOIN ratio USING(b) GROUP BY rb.doc_id),
        |w AS (SELECT d.doc_id, coalesce(CAST(pd.lw AS DOUBLE), 0.0) AS lwd
        |  FROM documents d LEFT JOIN pd USING(doc_id)),
        |g AS (SELECT doc_id, lwd,
        |  lwd - ln(-ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
        |    / 4294967296.0)) AS gk
        |  FROM w)
        |SELECT doc_id, round(lwd, 6) AS log_weight, round(gk, 6) AS gumbel_key
        |FROM g ORDER BY gk DESC, doc_id LIMIT 50""".stripMargin,
    "text_redact" ->
      """WITH p AS (SELECT doc_id, text || ' contact user' || doc_id ||
        |  '@example.com from 10.0.0.' || (doc_id % 256) || ' ref 123456789' AS text
        |  FROM documents),
        |r AS (SELECT doc_id, text,
        |  regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
        |  FROM p),
        |r2 AS (SELECT doc_id, text, s1,
        |  regexp_replace(s1,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS s2
        |  FROM r)
        |SELECT doc_id,
        |  regexp_replace(s2, '\b[0-9]{8,}\b', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(s1,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(s2, '\b[0-9]{8,}\b')) AS BIGINT) AS n_nums
        |FROM r2 ORDER BY doc_id""".stripMargin,
    "mm_binary" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | CAST(strlen(text) % 640 AS BIGINT) AS fake_width,
        | CAST(strlen(text) % 480 AS BIGINT) AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // --- vector / fusion / hybrid ---
    "ivf_exact" -> l2Sql(""), // nprobe == nlist ⇒ identical to flat
    // nprobe=2 pruning with init-only centroids: centroid c = the vector at
    // row index min(c·(n/8), n−1) in id order (clustering.go:147-162);
    // rank centroids by L2² to the query, keep the 2 nearest, assign every
    // vector to its nearest centroid, scan only the probed lists
    "ivf_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |ord AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
        |par AS (SELECT count(*) AS n, greatest(count(*) // 8, 1) AS step FROM e),
        |cents AS (
        |  SELECT g.c AS cid, o.v AS cv
        |  FROM (SELECT unnest(range(8)) AS c) g
        |  CROSS JOIN par p
        |  JOIN ord o ON o.rn = least(g.c * p.step, p.n - 1)),
        |asg AS (
        |  SELECT e.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(e.v, c.cv),
        |        x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
        |  FROM e CROSS JOIN cents c),
        |cl AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
        |probe AS (
        |  SELECT cid FROM (
        |    SELECT c.cid,
        |      row_number() OVER (ORDER BY
        |        list_sum(list_transform(list_zip(c.cv, q.qv),
        |          x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
        |    FROM cents c CROSS JOIN q)
        |  WHERE rk <= 2)
        |SELECT vec_id, round(dist, 6) AS dist FROM (
        |  SELECT e.vec_id AS vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
        |    x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
        |  FROM e CROSS JOIN q
        |  JOIN cl ON cl.vec_id = e.vec_id
        |  WHERE cl.cid IN (SELECT cid FROM probe)
        |  ORDER BY dist ASC, e.vec_id ASC LIMIT 10)
        |ORDER BY dist ASC, vec_id ASC""".stripMargin,
    // PQ ADC with init-only codebooks: codebook (s, j) = the init row at
    // index min(j·(n/16), n−1) in id order, sliced to subspace s
    // (clustering.go:147-162); codes = per-subspace argmin (ties → lowest
    // j, pq_index.go:439-507); dist = sqrt(Σ_s table[s][code]) —
    // pq_index_search.go:218-324 reproduced in SQL
    "pq_adc" -> s"$pqAdcScoreCtes\n$adcTopSql",
    // refine: the pq_adc pipeline's score CTE cut to 40 candidates, then
    // exact-L2 re-ranked (Pq.searchRefined with k=10, refineFactor=4)
    "pq_refine" -> s"$pqAdcScoreCtes,\n${refineTailSql(40)}",
    // corpus-covering refine over the OPQ index == exact flat L2
    "pq_opq_refine" -> l2Sql(""),
    // all-clusters + corpus-covering refine over the OPQ-IVFPQ index ==
    // exact flat L2 (whole-space rotation is L2-preserving; the refine
    // re-ranks RAW vectors)
    "ivfpq_opq_refine" -> l2Sql(""),
    // IVFPQ, init-only everywhere: coarse centroid c = init row at
    // min(c·(n/8), n−1); float residuals (CAST … AS REAL reproduces the
    // reference's float32 subtraction, ivfpq_index.go:467-542); residual
    // codebooks from init rows of the residual frame; query probes its 4
    // nearest coarse lists, builds one residual table per probed cluster,
    // ADC-scans those clusters only (ivfpq_index_search.go:231-341)
    "ivfpq_adc" -> s"$ivfpqAdcScoreCtes\n$adcTopSql",
    // refine over the doubly-quantized candidates, same 40-row budget
    "ivfpq_refine" -> s"$ivfpqAdcScoreCtes,\n${refineTailSql(40)}",
    // trained-codebook ADC certificates: every invariant recomputed through
    // an independent driver-side path must hold for all 10 result rows (9
    // consecutive pairs for monotonicity) — the oracle pins the counts
    "pq_adc_trained" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(10 AS BIGINT) AS n_code_argmin,
        | CAST(10 AS BIGINT) AS n_adc_decode,
        | CAST(9 AS BIGINT) AS n_monotone""".stripMargin,
    "ivfpq_adc_trained" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(10 AS BIGINT) AS n_cluster_nearest,
        | CAST(10 AS BIGINT) AS n_probed,
        | CAST(10 AS BIGINT) AS n_code_argmin,
        | CAST(10 AS BIGINT) AS n_adc_decode,
        | CAST(9 AS BIGINT) AS n_monotone""".stripMargin,
    // HNSW-routed hybrid: exhaustive beam at corpus scale ⇒ exact vector
    // leg ⇒ identical to the flat-path hybrid
    "hybrid_hnsw" -> hybridFullSql,
    "knn_batch_agg" ->
      s"""$knnSqlPrefix,
         |qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |d AS (SELECT qs.qid, e.vec_id AS id,
         |        sqrt(list_sum(list_transform(list_zip(e.v, qs.qv),
         |          x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |      FROM e CROSS JOIN qs),
         |topk AS (SELECT qid, id, dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
         |  FROM d) WHERE rn <= 10),
         |agged AS (SELECT id, sum(dist) AS rs, max(dist) AS rm, avg(dist) AS ra
         |          FROM topk GROUP BY id)
         |SELECT id, round(rs, 6) AS s_sum, round(rm, 6) AS s_max,
         |  round(ra, 6) AS s_mean
         |FROM agged ORDER BY rs ASC, id""".stripMargin,
    // combined query+node: union of qids {0 direct, 7 node-resolved},
    // sum-aggregated dedup (hnsw_index_search_test.go:510-546)
    "knn_query_node" ->
      s"""$knnSqlPrefix,
         |qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id IN (0, 7)),
         |d AS (SELECT qs.qid, e.vec_id AS id,
         |        sqrt(list_sum(list_transform(list_zip(e.v, qs.qv),
         |          x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |      FROM e CROSS JOIN qs),
         |topk AS (SELECT qid, id, dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rn
         |  FROM d) WHERE rn <= 10)
         |SELECT id AS vec_id, round(sum(dist), 6) AS dist
         |FROM topk GROUP BY id ORDER BY dist, vec_id""".stripMargin,
    "dist_fns" ->
      s"""$knnSqlPrefix
         |SELECT e.vec_id AS vec_id,
         | round(sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
         |   x -> (x[1]-x[2])*(x[1]-x[2])))), 6) AS l2,
         | round(list_sum(list_transform(list_zip(e.v, q.qv),
         |   x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS l2sq,
         | round(least(greatest(1.0 -
         |   list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])) /
         |   (sqrt(list_sum(list_transform(list_zip(e.v, e.v), x -> x[1]*x[2]))) *
         |    sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), x -> x[1]*x[2])))),
         |   0.0), 2.0), 6) AS cosd,
         | round(list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])), 6) AS dotp
         |FROM e CROSS JOIN q WHERE e.vec_id BETWEEN 1 AND 20
         |ORDER BY vec_id""".stripMargin,
    "quant_int8" ->
      """WITH am AS (SELECT max(list_max(list_transform(
        |    CAST(embedding AS DOUBLE[]), x -> abs(x)))) AS a FROM embeddings)
        |SELECT vec_id, round(list_max(list_transform(
        |  CAST(embedding AS DOUBLE[]),
        |  x -> abs(round(x / am.a * 127.0, 0) / 127.0 * am.a - x))), 6) AS max_err
        |FROM embeddings CROSS JOIN am ORDER BY vec_id""".stripMargin,
    // IEEE binary16 round-trip in pure arithmetic (DuckDB has no f16 and
    // no float-bit casts, but the conversion IS arithmetic): quantum =
    // 2^(e-10) in the normal range / fixed 2^-24 for subnormals, code =
    // round-half-even(|x| / quantum) — all steps exact in double (divide
    // and multiply by powers of two never round; floor/compare are exact).
    // The exponent from log2 is clamped by direct power-of-two comparisons
    // so a 1-ulp log error cannot shift the quantum. Nested single-element
    // list_transforms are let-bindings (ax, e, y) — keeps it one statement
    // (the driver executes each oracle as a single query, no macros).
    // Matches the Scala kernel (Quantizers.toHalfBits/fromHalfBits),
    // which is pinned bit-identical to IEEE f16 in DistancesSpec.
    "quant_f16" ->
      """SELECT vec_id, round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x ->
        |  abs(list_transform([abs(x)], ax ->
        |    CASE WHEN ax < pow(2.0, -25) THEN 0.0
        |         WHEN ax < pow(2.0, -14) THEN
        |           list_transform([ax / pow(2.0, -24)], y1 ->
        |             (CASE WHEN y1 - floor(y1) > 0.5 THEN floor(y1) + 1
        |                   WHEN y1 - floor(y1) < 0.5 THEN floor(y1)
        |                   ELSE floor(y1) + CAST(CAST(floor(y1) AS BIGINT) % 2 AS DOUBLE) END))[1]
        |             * pow(2.0, -24)
        |         ELSE
        |           list_transform([CASE WHEN pow(2.0, CAST(floor(log2(ax)) AS BIGINT)) > ax THEN CAST(floor(log2(ax)) AS BIGINT) - 1
        |                                WHEN pow(2.0, CAST(floor(log2(ax)) AS BIGINT) + 1) <= ax THEN CAST(floor(log2(ax)) AS BIGINT) + 1
        |                                ELSE CAST(floor(log2(ax)) AS BIGINT) END], e ->
        |             list_transform([ax / pow(2.0, e - 10)], y2 ->
        |               (CASE WHEN y2 - floor(y2) > 0.5 THEN floor(y2) + 1
        |                     WHEN y2 - floor(y2) < 0.5 THEN floor(y2)
        |                     ELSE floor(y2) + CAST(CAST(floor(y2) AS BIGINT) % 2 AS DOUBLE) END))[1]
        |               * pow(2.0, e - 10))[1]
        |    END)[1] * (CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END) - x))), 6) AS max_err
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "fuse_weighted" ->
      s"""${fusionCtes},
         |fused AS (
         |  SELECT coalesce(v.id, t.id) AS id,
         |    coalesce(v.vscore, 0.0) * 1.0 + coalesce(t.tscore, 0.0) * 0.5 AS score
         |  FROM vec v FULL OUTER JOIN txt t ON v.id = t.id)
         |SELECT id, round(score, 6) AS score FROM fused
         |ORDER BY score DESC, id""".stripMargin,
    "fuse_rrf" ->
      s"""${fusionCtes},
         |vr AS (SELECT id, row_number() OVER (ORDER BY vscore, id) - 1 AS vrank FROM vec),
         |tr AS (SELECT id, row_number() OVER (ORDER BY tscore DESC, id) - 1 AS trank FROM txt),
         |fused AS (
         |  SELECT coalesce(vr.id, tr.id) AS id,
         |    coalesce(1.0/(60.0 + vrank), 0.0) + coalesce(1.0/(60.0 + trank), 0.0) AS score
         |  FROM vr FULL OUTER JOIN tr ON vr.id = tr.id)
         |SELECT id, round(score, 6) AS score FROM fused
         |ORDER BY score DESC, id""".stripMargin,
    "fuse_max" ->
      s"""${fusionCtes},
         |fused AS (
         |  SELECT coalesce(v.id, t.id) AS id,
         |    greatest(coalesce(v.vscore, t.tscore), coalesce(t.tscore, v.vscore)) AS score
         |  FROM vec v FULL OUTER JOIN txt t ON v.id = t.id)
         |SELECT id, round(score, 6) AS score FROM fused
         |ORDER BY score DESC, id""".stripMargin,
    "fuse_min" ->
      s"""${fusionCtes},
         |fused AS (
         |  SELECT v.id AS id, least(v.vscore, t.tscore) AS score
         |  FROM vec v JOIN txt t ON v.id = t.id)
         |SELECT id, round(score, 6) AS score FROM fused
         |ORDER BY score DESC, id""".stripMargin,
    "hybrid_full" -> hybridFullSql,
    "hybrid_multi_vec" -> hybridMultiVecSql,
    // facade node-resolution: node 1's stored vector IS embedding row 1
    // (full corpus, no deletes), so the direct+node store search equals
    // the two-direct-query hybrid exactly
    "store_morelike" -> hybridMultiVecSql,
    // cosine-HNSW leg at exhaustive beam ranks like exact cosine; RRF is
    // rank-based, so the double-cosine oracle fuses identically
    "hybrid_cosine" -> hybridCosineSql,
    // IVF-routed hybrid probing all lists == the flat-path hybrid exactly
    "hybrid_ivf" -> hybridFullSql,
    // single-artifact reload + probe-all vector leg == the live hybrid
    "hybrid_persist" -> hybridFullSql,
    // kind-general blob with the HNSW leg: ef=400 is exhaustive at this
    // scale (the hybrid_hnsw precedent), so the same exact-hybrid oracle
    "hybrid_persist_any" -> hybridFullSql,
    "ivf_prefilter" -> l2Sql("WHERE e.label IN (1, 2, 3)"),
    "ivf_threshold" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(dist, 6) AS dist FROM (
         |  SELECT * FROM (
         |    SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
         |      x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |    FROM e CROSS JOIN q)
         |  WHERE dist <= 1.3
         |  ORDER BY dist ASC, vec_id ASC LIMIT 20)
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,

    "store_merge" ->
      s"""$bm25Cte,
         |q1 AS (SELECT unnest(['spark','query','join','table']) AS term),
         |q2 AS (SELECT unnest(['merge','batch','stream','filter']) AS term),
         |s1 AS (SELECT tf.id, sum(
         |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
         |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
         |  FROM tf JOIN df USING(term) JOIN q1 USING(term) CROSS JOIN stats
         |  GROUP BY tf.id),
         |t1 AS (SELECT * FROM s1 ORDER BY score DESC, id LIMIT 20),
         |s2 AS (SELECT tf.id, sum(
         |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
         |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
         |  FROM tf JOIN df USING(term) JOIN q2 USING(term) CROSS JOIN stats
         |  GROUP BY tf.id),
         |t2 AS (SELECT * FROM s2 ORDER BY score DESC, id LIMIT 20),
         |m AS (SELECT id, max(score) AS score FROM (
         |  SELECT * FROM t1 UNION ALL SELECT * FROM t2) GROUP BY id)
         |SELECT id AS doc_id, round(score, 4) AS score FROM (
         |  SELECT * FROM m ORDER BY score DESC, id LIMIT 10)
         |ORDER BY score DESC, doc_id""".stripMargin,
    "bm25_batch_agg" ->
      s"""$bm25Cte,
         |q1 AS (SELECT unnest(['spark','query','join','table']) AS term),
         |q2 AS (SELECT unnest(['merge','batch','stream','filter']) AS term),
         |s1 AS (SELECT tf.id, sum(
         |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
         |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
         |  FROM tf JOIN df USING(term) JOIN q1 USING(term) CROSS JOIN stats
         |  GROUP BY tf.id),
         |t1 AS (SELECT * FROM s1 ORDER BY score DESC, id LIMIT 20),
         |s2 AS (SELECT tf.id, sum(
         |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
         |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
         |  FROM tf JOIN df USING(term) JOIN q2 USING(term) CROSS JOIN stats
         |  GROUP BY tf.id),
         |t2 AS (SELECT * FROM s2 ORDER BY score DESC, id LIMIT 20),
         |agged AS (SELECT id, round(sum(score), 4) AS s_sum,
         |    round(max(score), 4) AS s_max, round(avg(score), 4) AS s_avg
         |  FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2) GROUP BY id)
         |SELECT id AS doc_id, s_sum, s_max, s_avg FROM (
         |  SELECT * FROM agged ORDER BY s_sum DESC, id LIMIT 10)
         |ORDER BY s_sum DESC, doc_id""".stripMargin,
    "hybrid_meta_only" ->
      """SELECT doc_id AS id, 1.0 AS score FROM documents
        |WHERE lang = 'en' AND n_chars > 100
        |ORDER BY score DESC, id LIMIT 10""".stripMargin,
    "hybrid_vec_only" ->
      s"""$knnSqlPrefix
         |SELECT vec_id AS id, round(dist, 6) AS score FROM (
         |  SELECT e.vec_id, sqrt(list_sum(list_transform(list_zip(e.v, q.qv),
         |    x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
         |  FROM e CROSS JOIN q
         |  ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |ORDER BY score DESC, id""".stripMargin,
    "knn_dot" ->
      s"""$knnSqlPrefix
         |SELECT vec_id, round(score, 6) AS score FROM (
         |  SELECT e.vec_id, list_sum(list_transform(list_zip(e.v, q.qv),
         |    x -> x[1]*x[2])) AS score
         |  FROM e CROSS JOIN q
         |  ORDER BY score DESC, vec_id ASC LIMIT 10)
         |ORDER BY score DESC, vec_id""".stripMargin,
    "ivf_persist" -> l2Sql(""), // probe-all after round-trip == exact flat
    "ivf_add" -> l2Sql(""), // probe-all after incremental add == exact flat
    "ivf_nodes" -> l2Sql(""), // node 0's vector IS the standard query vector
    "store_vacuum_cycle" ->
      """SELECT 'final' AS phase, count(*) AS n,
        | round(avg(o_totalprice), 2) AS avg_price
        |FROM orders
        |WHERE ((o_orderkey % 3 < 2 AND o_orderkey % 7 <> 0)
        |       OR o_orderkey % 3 = 2)
        |  AND o_orderkey % 11 <> 0
        |UNION ALL
        |SELECT 'held', count(*), round(avg(o_totalprice), 2)
        |FROM orders
        |WHERE o_orderkey % 3 < 2 AND o_orderkey % 7 <> 0
        |ORDER BY phase""".stripMargin,
    "store_compact" ->
      """SELECT count(*) AS n_live,
        | count(*) FILTER (WHERE p = 1.0) AS n_upd,
        | round(avg(p), 2) AS avg_price
        |FROM (SELECT CASE WHEN o_orderkey % 5 = 0 THEN 1.0
        |             ELSE o_totalprice END AS p
        |      FROM orders WHERE o_orderkey % 11 <> 0)""".stripMargin,
    "mm_frames" ->
      s"""WITH f AS (SELECT doc_id, unnest([0, 1, 2]) AS frame_idx, text
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id AS id, frame_idx, 640 AS width, 480 AS height,
         | $mmFrameColsSql
         |FROM f ORDER BY id, frame_idx""".stripMargin,
    "mm_audio" ->
      """WITH f AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS win_idx, text
        |  FROM documents WHERE doc_id < 50),
        |s AS (SELECT doc_id, win_idx, win_idx * 8 AS start_sample,
        |  list_transform(range(0, 16), j -> CASE WHEN win_idx*8 + j < length(text)
        |    THEN (unicode(substr(text, CAST(win_idx*8 + j + 1 AS INTEGER), 1)) % 256)/127.5 - 1.0 END) AS ss
        |  FROM f),
        |v AS (SELECT doc_id, win_idx, start_sample,
        |  list_filter(ss, x -> x IS NOT NULL) AS vs FROM s)
        |SELECT doc_id AS id, win_idx, CAST(start_sample AS INTEGER) AS start_sample,
        | CAST(len(vs) AS INTEGER) AS n_samples,
        | round(CASE WHEN len(vs) = 0 THEN 0.0
        |   ELSE list_sum(list_transform(vs, x -> x*x)) / len(vs) END, 6) AS energy,
        | round(coalesce(list_max(list_transform(vs, x -> abs(x))), 0.0), 6) AS peak
        |FROM v ORDER BY id, win_idx""".stripMargin,
    "mm_patches" -> {
      def cu(j: Int) =
        s"CASE WHEN patch_idx*4 + $j < length(text) THEN " +
          s"(unicode(substr(text, patch_idx*4 + ${j + 1}, 1)) % 256) / 255.0 " +
          "ELSE 0.0 END"
      s"""WITH f AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS patch_idx, text
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id AS id, patch_idx,
         | (patch_idx % 2) * 320 AS x, (patch_idx // 2) * 240 AS y,
         | 320 AS pw, 240 AS ph,
         | round((${cu(0)} + ${cu(1)} + ${cu(2)} + ${cu(3)}) / 4.0, 6) AS p_mean
         |FROM f ORDER BY id, patch_idx""".stripMargin
    },
    "dedup_minhash_pairs" -> minhashPairsSql,
    // SemDeDup: init-only k-means assignment (argmin + lowest-cid
    // tie-break, the ivf_probe pattern), intra-cluster cosine >= 0.9,
    // recursive min-label components
    "dedup_semantic" ->
      """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |  UNION ALL SELECT vec_id + 10000, list_transform(v, x -> x * 2.0)
        |  FROM base WHERE vec_id % 25 = 0),
        |ord AS (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
        |par AS (SELECT count(*) AS n, greatest(count(*) // 8, 1) AS step FROM e),
        |cents AS (SELECT g.c AS cid, o.v AS cv
        |  FROM (SELECT unnest(range(8)) AS c) g
        |  CROSS JOIN par p JOIN ord o ON o.rn = least(g.c * p.step, p.n - 1)),
        |asg AS (SELECT e.vec_id, c.cid,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |    list_sum(list_transform(list_zip(e.v, c.cv),
        |      x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
        |  FROM e CROSS JOIN cents c),
        |cl AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1]*x[2])) /
        |    (sqrt(list_sum(list_transform(ea.v, x -> x*x))) *
        |     sqrt(list_sum(list_transform(eb.v, x -> x*x)))) >= 0.9),
        |ed AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT vec_id AS id, vec_id AS lab FROM e
        |  UNION
        |  SELECT ed.dst AS id, r.lab FROM reach r JOIN ed ON ed.src = r.id),
        |keeper AS (SELECT id, min(lab) AS keeper FROM reach GROUP BY id)
        |SELECT cl.vec_id AS id, CAST(cl.cid AS BIGINT) AS cluster,
        |  k.keeper, k.keeper = cl.vec_id AS keep
        |FROM cl JOIN keeper k ON k.id = cl.vec_id ORDER BY id""".stripMargin,
    // connected components over the same pair set, via recursive closure
    "dedup_clusters" ->
      s"""WITH RECURSIVE mp AS (
         |$minhashPairsSql
         |), e AS (SELECT id_a AS src, id_b AS dst FROM mp
         |  UNION SELECT id_b, id_a FROM mp),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS lab FROM n
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
         |SELECT id, min(lab) AS cluster FROM reach GROUP BY id
         |ORDER BY id""".stripMargin,
    "dedup_prune" ->
      s"""WITH RECURSIVE mp AS (
         |$minhashPairsSql
         |), e AS (SELECT id_a AS src, id_b AS dst FROM mp
         |  UNION SELECT id_b, id_a FROM mp),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS lab FROM n
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id),
         |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         |removed AS (SELECT id FROM cl WHERE id <> cluster)
         |SELECT (SELECT count(*) FROM documents) AS n_before,
         |  (SELECT count(*) FROM removed) AS n_removed,
         |  (SELECT count(*) FROM documents
         |   WHERE doc_id NOT IN (SELECT id FROM removed)) AS n_after""".stripMargin,

    // --- pipeline ops ---
    "dedup_minhash" ->
      s"""$shingleCte,
         |h AS (SELECT doc_id, list_transform(shingles,
         |  s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hs FROM sh)
         |SELECT doc_id,
         | CASE WHEN len(hs) = 0 THEN 2147483647 ELSE list_min(list_transform(hs, x -> (x * 1 + 7919)  % 2147483647)) END AS mh0,
         | CASE WHEN len(hs) = 0 THEN 2147483647 ELSE list_min(list_transform(hs, x -> (x * 3 + 15838) % 2147483647)) END AS mh1,
         | CASE WHEN len(hs) = 0 THEN 2147483647 ELSE list_min(list_transform(hs, x -> (x * 5 + 23757) % 2147483647)) END AS mh2,
         | CASE WHEN len(hs) = 0 THEN 2147483647 ELSE list_min(list_transform(hs, x -> (x * 7 + 31676) % 2147483647)) END AS mh3
         |FROM h ORDER BY doc_id""".stripMargin,
    "dedup_jaccard" ->
      s"""$shingleCte
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
         |  SELECT * FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
         |    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
         |  WHERE j > 0 -- the postings-join engine never materializes
         |              -- zero-overlap pairs; keep the oracle aligned
         |  ORDER BY j DESC, id_a, id_b LIMIT 20)
         |ORDER BY jaccard DESC, id_a, id_b""".stripMargin,
    "dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(toks,
        |  t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS hs FROM tok)
        |SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j ->
        |  CASE WHEN list_sum(list_transform(hs, x -> ((x >> j) % 2) * 2 - 1)) > 0
        |       THEN 1 << j ELSE 0 END)) AS BIGINT) AS simhash
        |FROM h ORDER BY doc_id""".stripMargin,
    "dedup_embcos_lsh" -> {
      // mirrors the banded signature family: 4 bands × 12 hyperplane bits,
      // per-band odd multiplier mt = 2t+3 (same formula as cosineLshPairs).
      // Strict > 0 matches the codegen'd signLsh kernel (v·(e_i − e_j) > 0,
      // Centroids.scala signLsh); v[i] - v[j] in DOUBLE is exactly the
      // kernel's dot product with the ±1 plane
      def sigExpr(t: Int): String = (0 until 12).map { r =>
        val mt = 2 * t + 3
        val i = ((2 * r + 1) * mt) % 64 + 1
        val j = ((5 * r + 3) * mt + 2 * t + 1) % 64 + 1
        s"(CASE WHEN v[$i] - v[$j] > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")
      val bandRows = (0 until 4).map { t =>
        s"SELECT vec_id, $t AS band, ${sigExpr(t)} AS sig FROM e"
      }.mkString("\n UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |banded AS ($bandRows),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM (
         |  SELECT p.id_a, p.id_b,
         |    list_sum(list_transform(list_zip(x.v, y.v), z -> z[1]*z[2])) /
         |    (sqrt(list_sum(list_transform(list_zip(x.v, x.v), z -> z[1]*z[2]))) *
         |     sqrt(list_sum(list_transform(list_zip(y.v, y.v), z -> z[1]*z[2])))) AS cs
         |  FROM pairs p JOIN e x ON p.id_a = x.vec_id JOIN e y ON p.id_b = y.vec_id)
         |WHERE cs >= -1.0
         |ORDER BY cos_sim DESC, id_a, id_b""".stripMargin
    },
    "dedup_embcos" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])) /
        |    (sqrt(list_sum(list_transform(list_zip(a.v, a.v), x -> x[1]*x[2]))) *
        |     sqrt(list_sum(list_transform(list_zip(b.v, b.v), x -> x[1]*x[2])))) AS cs
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  ORDER BY cs DESC, id_a, id_b LIMIT 20)
        |ORDER BY cos_sim DESC, id_a, id_b""".stripMargin,
    "dedup_spans" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [] ELSE
        |  list_distinct(list_transform(range(1, len(toks) - 6),
        |    i -> array_to_string(toks[i:i+7], ' '))) END AS shingles FROM tok),
        |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |gdf AS (SELECT s, count(*) AS df FROM post GROUP BY 1)
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(CAST(sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 4) AS dup_frac
        |FROM post p JOIN gdf ON p.s = gdf.s
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    "mix_temperature" ->
      """WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS wt,
        |  CAST(n_tokens AS DOUBLE) / sum(CAST(n_tokens AS DOUBLE)) OVER () AS share
        |  FROM t)
        |SELECT source, n_docs, n_tokens, round(wt, 6) AS weight,
        |  round(wt / share, 6) AS boost
        |FROM w ORDER BY source""".stripMargin,
    "sample_mix" ->
      """WITH h AS (SELECT source,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents)
        |SELECT source, count(*) AS n_kept FROM h
        |WHERE b < (CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |           THEN 0.25 ELSE 0.9 END) * 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "vocab_topk" ->
      """WITH tok AS (SELECT doc_id AS id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term FROM documents),
        |tfd AS (SELECT term, id, CAST(count(*) AS BIGINT) AS tf_doc FROM tok GROUP BY 1, 2),
        |v AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf_doc) AS BIGINT) AS tf FROM tfd GROUP BY 1)
        |SELECT term, df, tf FROM v ORDER BY df DESC, term LIMIT 20""".stripMargin,
    "corpus_budget" ->
      """WITH t AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS ord,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT id, ord, n_tok,
        |  sum(n_tok) OVER (ORDER BY ord DESC, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_excl FROM t)
        |SELECT id, ord, n_tok FROM c WHERE cum_excl < 50000
        |ORDER BY ord DESC, id""".stripMargin,
    "corpus_budget_sharded" ->
      """WITH t AS (SELECT source AS shard, doc_id AS id,
        |  CAST(n_chars AS DOUBLE) AS ord,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT shard, id, ord, n_tok,
        |  sum(n_tok) OVER (PARTITION BY shard ORDER BY ord DESC, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_excl FROM t)
        |SELECT shard, id, ord, n_tok FROM c WHERE cum_excl < 20000
        |ORDER BY shard, ord DESC, id""".stripMargin,
    "curriculum_buckets" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','with','for','on'))) AS DOUBLE) / len(toks) AS swr,
        |  CAST(len(toks) AS DOUBLE) AS nt FROM tok),
        |q AS (SELECT doc_id AS id,
        |  round(least(nt / 100.0, 1.0) * 0.5 + least(swr * 5.0, 1.0) * 0.5, 4) AS score
        |  FROM m)
        |SELECT id, score,
        |  CAST(ntile(10) OVER (ORDER BY score DESC, id) AS BIGINT) AS bucket
        |FROM q ORDER BY bucket, id""".stripMargin,
    "curriculum_sharded" ->
      """WITH tok AS (SELECT doc_id, source, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |m AS (SELECT doc_id, source,
        |  CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','with','for','on'))) AS DOUBLE) / len(toks) AS swr,
        |  CAST(len(toks) AS DOUBLE) AS nt FROM tok),
        |q AS (SELECT doc_id AS id, source AS shard,
        |  round(least(nt / 100.0, 1.0) * 0.5 + least(swr * 5.0, 1.0) * 0.5, 4) AS score
        |  FROM m)
        |SELECT shard, id, score,
        |  CAST(ntile(4) OVER (PARTITION BY shard ORDER BY score DESC, id) AS BIGINT) AS bucket
        |FROM q ORDER BY shard, bucket, id""".stripMargin,
    "split_hash" ->
      """WITH h AS (SELECT
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split, count(*) AS n
        |FROM h GROUP BY 1 ORDER BY split""".stripMargin,
    "decontaminate" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [] ELSE
        |  list_distinct(list_transform(range(1, len(toks) - 6),
        |    i -> array_to_string(toks[i:i+7], ' '))) END AS shingles FROM tok),
        |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |ev AS (SELECT doc_id AS eval_id, s FROM post WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id AS train_id, s FROM post WHERE doc_id % 50 <> 0)
        |SELECT train_id, eval_id, count(*) AS shared
        |FROM tr JOIN ev USING(s)
        |GROUP BY train_id, eval_id
        |ORDER BY train_id, eval_id""".stripMargin,
    "text_clean" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |k AS (SELECT doc_id, toks, list_filter(toks,
        |  t -> len(t) > 1 AND NOT t IN ('the','a','an','and','of','to','in','is','that','with','for','on')) AS kept
        |  FROM tok)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(kept) AS BIGINT) AS n_kept,
        | round(CAST(len(kept) AS DOUBLE) / greatest(len(toks), 1), 4) AS kept_ratio,
        | md5(array_to_string(kept, ' ')) AS clean_fp
        |FROM k ORDER BY doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS cum_excl
        |  FROM t)
        |SELECT CAST(floor(cum_excl / 512) AS BIGINT) AS seq_id,
        | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | min(doc_id) AS first_doc
        |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,
    "pack_sequences_sharded" ->
      """WITH t AS (SELECT source AS shard, doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tok AS cum_excl
        |  FROM t)
        |SELECT shard, CAST(floor(cum_excl / 512) AS BIGINT) AS seq_id,
        | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | min(doc_id) AS first_doc
        |FROM c GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,
    "text_quality" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mwl,
        |  CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','with','for','on'))) AS DOUBLE) / len(toks) AS swr,
        |  CAST(len(toks) AS DOUBLE) AS nt
        |  FROM tok)
        |SELECT doc_id, round(mwl, 4) AS mean_word_len,
        | round(swr, 4) AS stopword_ratio,
        | round(least(nt / 100.0, 1.0) * 0.5 + least(swr * 5.0, 1.0) * 0.5, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH tok AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |sc AS (SELECT doc_id,
         |  ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
         |  ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr
         |  FROM tok)
         |SELECT doc_id,
         | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |  WHEN s_es >= s_fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred,
         | CAST(greatest(s_de, s_en, s_es, s_fr) AS BIGINT) AS lang_hits
         |FROM sc ORDER BY doc_id""".stripMargin,
    "text_langid_zh" ->
      s"""WITH tok AS (SELECT doc_id, text, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
         |sc AS (SELECT doc_id,
         |  ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
         |  ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
         |  len(regexp_extract_all(text, '[${TextAnalysis.ZhStopChars}]')) AS s_zh
         |  FROM tok)
         |SELECT doc_id,
         | CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |  WHEN s_fr >= s_zh THEN 'fr'
         |  ELSE 'zh' END AS lang_pred,
         | CAST(greatest(s_de, s_en, s_es, s_fr, s_zh) AS BIGINT) AS lang_hits
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_events_stats" ->
      """SELECT event_type, count(*) AS n,
        | count(DISTINCT user_id) AS n_users,
        | round(quantile_cont(value, 0.5), 6) AS med,
        | round(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_sessions_stateful" ->
      """WITH g AS (
        |  SELECT user_id, ts, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events)),
        |sess AS (SELECT user_id, sid, min(epoch_us(ts)) AS start_us,
        |    max(epoch_us(ts)) AS end_us, CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2),
        |closed AS (SELECT * FROM sess
        |  QUALIFY sid < max(sid) OVER (PARTITION BY user_id))
        |SELECT user_id, start_us, end_us, n_events FROM closed
        |ORDER BY user_id, start_us""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, CAST(ts AS VARCHAR) AS ts_s, CAST(session_id AS BIGINT) AS session_id FROM (
        |  SELECT user_id, ts, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |ORDER BY user_id, ts_s""".stripMargin,
    "q_session_stats" ->
      """WITH sess AS (
        |  SELECT user_id, ts, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |    FROM events)),
        |per AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  round(avg(dur_us) / 1000000.0, 2) AS avg_dur_s
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
  )

  /** Tokens-in-stopword-list count for one language (matches
    * TextAnalysis.languageId scoring). */
  private def langScoreSql(lang: String): String = {
    val sw = TextAnalysis.StopwordProfiles(lang)
      .map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, t -> t IN ($sw)))"
  }

  /** Stub frame-decode features (mirrors Multimodal.fakeDecode: strided
    * code units mapped to [0,1], 6-dp; exact because c/255·10⁶ is never a
    * .5 boundary, so round-half-up and rint agree). */
  private val mmFrameColsSql: String = (0 until 4).map { j =>
    s"CASE WHEN frame_idx*8 + $j < length(text) THEN " +
      s"round((unicode(substr(text, frame_idx*8 + ${j + 1}, 1)) % 256) / 255.0, 6) " +
      s"ELSE 0.0 END AS f$j"
  }.mkString(",\n ")

  /** MinHash+LSH banding oracle (mirrors Dedup.minhashPairs: 16 md5-derived
    * permutation minima, 4 bands × 4 rows, bucket self-join). */
  private lazy val minhashPairsSql: String = {
    val perms = (0 until 16).map { i =>
      val a = 1 + 2 * i
      val b = 7919 * (i + 1)
      s"list_min(list_transform(hs, x -> (x * $a + $b) % 2147483647)) AS mh$i"
    }.mkString(",\n ")
    val bandRows = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bucket FROM sig"
    }.mkString("\n UNION ALL ")
    s"""$shingleCte,
       |h AS (SELECT doc_id, list_transform(shingles,
       |  s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS hs
       |  FROM sh WHERE len(shingles) > 0),
       |sig AS (SELECT doc_id, $perms FROM h),
       |banded AS ($bandRows)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Word-3-gram shingle CTE shared by the dedup oracles (mirrors
    * Dedup.shingles). */
  private val shingleCte =
    """WITH tok AS (SELECT doc_id, source, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
      |sh AS (SELECT doc_id, source,
      |  CASE WHEN len(toks) < 3 THEN [] ELSE
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+2], ' '))) END AS shingles
      |  FROM tok)""".stripMargin

  /** Full hybrid oracle (metadata filter → flat vector + BM25 top-10 → RRF
    * → top-10) — shared by `hybrid_full` (flat path) and `hybrid_ivf`
    * (IVF path probing all lists, which is exactly the flat search). */
  /** Shared full-hybrid oracle skeleton; `vecDist` is the vector leg's
    * distance expression over (ev.v, qv.qv). RRF fuses by RANK, so any
    * monotone-equivalent distance yields the same fused frame. */
  private def hybridSqlWith(vecDist: String): String =
    s"""$bm25Cte,
       |cand AS (SELECT doc_id AS id FROM documents WHERE lang = 'en' AND n_chars > 100),
       |q AS (SELECT unnest(['spark','query','join','table']) AS term),
       |scored AS (
       |  SELECT tf.id, sum(
       |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
       |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
       |  FROM tf JOIN df USING(term) JOIN q USING(term) CROSS JOIN stats
       |  GROUP BY tf.id),
       |txt AS (SELECT id, score AS tscore FROM (
       |  SELECT s.* FROM scored s JOIN cand USING(id)
       |  ORDER BY score DESC, id LIMIT 10)),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |vec AS (SELECT id, dist AS vscore FROM (
       |  SELECT ev.vec_id AS id,
       |    $vecDist AS dist
       |  FROM ev JOIN cand ON ev.vec_id = cand.id CROSS JOIN qv
       |  ORDER BY dist, id LIMIT 10)),
       |vr AS (SELECT id, row_number() OVER (ORDER BY vscore, id) - 1 AS vrank FROM vec),
       |tr AS (SELECT id, row_number() OVER (ORDER BY tscore DESC, id) - 1 AS trank FROM txt),
       |fused AS (
       |  SELECT coalesce(vr.id, tr.id) AS id,
       |    coalesce(1.0/(60.0 + vrank), 0.0) + coalesce(1.0/(60.0 + trank), 0.0) AS score
       |  FROM vr FULL OUTER JOIN tr ON vr.id = tr.id)
       |SELECT id, round(score, 6) AS score FROM (
       |  SELECT * FROM fused ORDER BY score DESC, id LIMIT 10)
       |ORDER BY score DESC, id""".stripMargin

  private lazy val hybridFullSql: String = hybridSqlWith(
    """sqrt(list_sum(list_transform(list_zip(ev.v, qv.qv),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))))""".stripMargin)

  /** Exact double cosine distance for the cosine-HNSW-leg hybrid. */
  private lazy val hybridCosineSql: String = hybridSqlWith(
    """least(greatest(1.0 -
      |      list_sum(list_transform(list_zip(ev.v, qv.qv), x -> x[1]*x[2])) /
      |      (sqrt(list_sum(list_transform(list_zip(ev.v, ev.v), x -> x[1]*x[2]))) *
      |       sqrt(list_sum(list_transform(list_zip(qv.qv, qv.qv), x -> x[1]*x[2])))),
      |      0.0), 2.0)""".stripMargin)

  /** Multi-vector-query hybrid oracle: per-query flat top-10 within the
    * candidate set (row_number window per qid), duplicate ids
    * Sum-combined, re-ranked top-10, then the same RRF tail as
    * [[hybridSqlWith]]. */
  private lazy val hybridMultiVecSql: String = {
    val dist = """sqrt(list_sum(list_transform(list_zip(ev.v, qv.qv),
      |      x -> (x[1]-x[2])*(x[1]-x[2]))))""".stripMargin
    s"""$bm25Cte,
       |cand AS (SELECT doc_id AS id FROM documents WHERE lang = 'en' AND n_chars > 100),
       |q AS (SELECT unnest(['spark','query','join','table']) AS term),
       |scored AS (
       |  SELECT tf.id, sum(
       |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
       |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
       |  FROM tf JOIN df USING(term) JOIN q USING(term) CROSS JOIN stats
       |  GROUP BY tf.id),
       |txt AS (SELECT id, score AS tscore FROM (
       |  SELECT s.* FROM scored s JOIN cand USING(id)
       |  ORDER BY score DESC, id LIMIT 10)),
       |qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id IN (0, 1)),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |perq AS (SELECT qid, id, dist FROM (
       |  SELECT qv.qid, ev.vec_id AS id, $dist AS dist,
       |    row_number() OVER (PARTITION BY qv.qid ORDER BY $dist, ev.vec_id) AS rn
       |  FROM ev JOIN cand ON ev.vec_id = cand.id CROSS JOIN qv)
       |  WHERE rn <= 10),
       |vec AS (SELECT id, vscore FROM (
       |  SELECT id, sum(dist) AS vscore FROM perq GROUP BY id
       |  ORDER BY vscore, id LIMIT 10)),
       |vr AS (SELECT id, row_number() OVER (ORDER BY vscore, id) - 1 AS vrank FROM vec),
       |tr AS (SELECT id, row_number() OVER (ORDER BY tscore DESC, id) - 1 AS trank FROM txt),
       |fused AS (
       |  SELECT coalesce(vr.id, tr.id) AS id,
       |    coalesce(1.0/(60.0 + vrank), 0.0) + coalesce(1.0/(60.0 + trank), 0.0) AS score
       |  FROM vr FULL OUTER JOIN tr ON vr.id = tr.id)
       |SELECT id, round(score, 6) AS score FROM (
       |  SELECT * FROM fused ORDER BY score DESC, id LIMIT 10)
       |ORDER BY score DESC, id""".stripMargin
  }

  /** Deterministic fusion inputs: flat-L2 top-20 + BM25 top-20 (mirrors
    * fusionInputs). */
  private val fusionCtes =
    s"""$bm25Cte,
       |q AS (SELECT unnest(['spark','query','join','table']) AS term),
       |scored AS (
       |  SELECT tf.id, sum(
       |    ln((stats.n_docs - df.df + 0.5)/(df.df + 0.5) + 1.0) *
       |    tf.tf*(1.2+1.0)/(tf.tf + 1.2*(1.0-0.75+0.75*tf.dl/stats.avgdl))) AS score
       |  FROM tf JOIN df USING(term) JOIN q USING(term) CROSS JOIN stats
       |  GROUP BY tf.id),
       |txt AS (SELECT id, score AS tscore FROM (
       |  SELECT * FROM scored ORDER BY score DESC, id LIMIT 20)),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |vec AS (SELECT id, dist AS vscore FROM (
       |  SELECT ev.vec_id AS id,
       |    sqrt(list_sum(list_transform(list_zip(ev.v, qv.qv),
       |      x -> (x[1]-x[2])*(x[1]-x[2])))) AS dist
       |  FROM ev CROSS JOIN qv ORDER BY dist, id LIMIT 20))""".stripMargin
}
