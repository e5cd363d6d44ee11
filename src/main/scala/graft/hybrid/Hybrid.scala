package graft.hybrid

import graft.filter.{FilterGroup, Filters}
import graft.fusion.Fusion
import graft.text.{BM25, BM25Corpus}
import graft.vector.{FlatKnn, Hnsw, IdSet, Ivf, IvfPq, Kmeans, Metric, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid search pipeline — the reference's main entry point
  * (`/root/reference/hybrid_search_index.go:477-615`):
  *
  *  1. metadata filter → candidate ids (empty ⇒ empty result, :503-506)
  *  2. vector search restricted to candidates (k-limited)
  *  3. text search restricted to candidates (k-limited)
  *  4. fusion if both modalities present, passthrough otherwise;
  *     metadata-only ⇒ score 1.0 (:588-593)
  *  5. sort score DESCENDING, limit k (:595-612)
  *
  * Caveat reproduced on purpose (SURVEY.md §2.9): with WeightedSum (the
  * reference default) vector distances are lower-better but step 5 sorts
  * descending, so vector-only hybrid results rank farthest-first. RRF is
  * the semantically safe choice; we replicate the reference behavior.
  *
  * In Spark this whole lifecycle is ONE lazily-composed DataFrame: Catalyst
  * pushes the metadata predicate into the parquet scan, the candidate
  * semi-joins broadcast when the filter is selective, and the per-modality
  * top-k are window/TakeOrdered plans. Nothing materializes until the
  * caller acts.
  */
object Hybrid {

  sealed trait FusionKind
  case object WeightedSum extends FusionKind
  case object Rrf extends FusionKind
  case object MaxF extends FusionKind
  case object MinF extends FusionKind

  final case class Config(
      k: Int = 10,
      fusion: FusionKind = WeightedSum, // reference default,
                                        // hybrid_search_index.go:237
      vectorWeight: Double = 1.0,
      textWeight: Double = 1.0,
      rrfK: Double = Fusion.DefaultRrfK,
      metric: Metric = Metric.L2,
      nprobe: Int = 0, // IVF-routed vector search; <=0 = probe all lists
      // multi-query combine per modality BEFORE fusion — the reference
      // passes WithScoreAggregation into every sub-search (storage.go:509,
      // :570; default SumAggregation, storage.go:315). Single-query
      // searches are value-identical under any Kind.
      scoreAgg: graft.agg.ScoreAgg.Kind = graft.agg.ScoreAgg.Sum)

  /** The hybrid's vector modality as a STRATEGY — the reference's hybrid
    * accepts ANY `VectorIndex` (hybrid_search_index.go:76 holds the
    * interface, index.go:32-100), so a user can run HNSW- or PQ-backed
    * hybrid search; every leg here already supports the candidate
    * pre-filter, which is what the hybrid pushes down. Flat and IVF honor
    * `Config.metric`; HNSW/PQ/IVFPQ score in their index-native L2/ADC
    * space (same as the reference, where the metric is fixed at index
    * construction, index.go:32-100). */
  sealed trait VectorLeg
  /** Exact scan over (id, vector). */
  final case class FlatLeg(vectors: DataFrame) extends VectorLeg
  /** IVF partition pruning; `nprobe <= 0` probes all lists (exact). */
  final case class IvfLeg(index: Ivf.Index, nprobe: Int = 0) extends VectorLeg
  /** Per-shard beam search; approximate. A filter leaving a shard fewer
    * live candidates than the beam width is scored exactly there (doc on
    * [[Hnsw.searchIndex]]). */
  final case class HnswLeg(index: Hnsw.Index, efSearch: Int = 200)
      extends VectorLeg
  /** ADC scan over PQ codes; approximate (quantization error). */
  final case class PqLeg(encoded: DataFrame, model: Pq.Model) extends VectorLeg
  /** Two-stage PQ: ADC candidate scan over the codes, exact re-rank of
    * the `k·refineFactor` survivors against `raw` (the vectors the codes
    * were built from — for the store facade, the live segment parquet).
    * Scores are EXACT distances in the model's metric space, so with a
    * corpus-covering refineFactor the leg equals a flat scan
    * ([[Pq.searchRefined]]). */
  final case class PqRefinedLeg(encoded: DataFrame, model: Pq.Model,
                                raw: DataFrame, refineFactor: Int = 4)
      extends VectorLeg
  /** Residual-PQ ADC over probed clusters; approximate. */
  final case class IvfPqLeg(index: IvfPq.Index, nprobe: Int) extends VectorLeg
  /** Two-stage IVFPQ: probed-cluster residual ADC keeps `k·refineFactor`
    * candidates, exact re-rank against `raw` returns the true top-k
    * among them ([[IvfPq.searchRefined]]). The per-query scan touches
    * only `nprobe/nlist` of the codes — the routed store leg's serving
    * shape. Scores are EXACT distances in the index's metric space. */
  final case class IvfPqRefinedLeg(index: IvfPq.Index, raw: DataFrame,
                                   refineFactor: Int = 4, nprobe: Int = 8)
      extends VectorLeg

  /** @param meta     (id, …metadata columns…)
    * @param filters  DNF filter groups over `meta` (empty = no filter)
    * @param vectors  (id, vector), or None for no vector modality
    * @param queryVec broadcastable single-row (qid, qvec) frame
    * @param corpus   BM25 corpus, or None for no text modality
    * @param queryText raw text query
    * @param ivf      optional IVF index over the SAME vectors: when set,
    *                 vector search routes through nprobe partition pruning
    *                 INCLUDING the filtered case (comet passes the document
    *                 filter down to every index, ivf_index_search.go:287-290
    *                 — a filtered query keeps IVF speed instead of falling
    *                 back to a flat scan)
    * @return (id, score) sorted descending, limited to k
    */
  def search(meta: DataFrame, filters: Seq[FilterGroup],
             vectors: Option[DataFrame], queryVec: Option[DataFrame],
             corpus: Option[BM25Corpus], queryText: Option[String],
             cfg: Config = Config(),
             ivf: Option[Ivf.Index] = None): DataFrame =
    searchWith(meta, filters,
      ivf.map(i => IvfLeg(i, cfg.nprobe)).orElse(vectors.map(FlatLeg.apply)),
      queryVec, corpus, queryText, cfg)

  /** [[search]] generalized over the vector-index strategy: any
    * [[VectorLeg]] (flat / IVF / HNSW / PQ / IVFPQ) serves the vector
    * modality, with the metadata candidate set pushed into the leg's own
    * document pre-filter — the reference's any-index hybrid
    * (hybrid_search_index.go:76, modality matrix
    * hybrid_search_index_test.go:10-1101). */
  /** The cosine-family compatibility contract between an IVF leg's
    * build metric and the search config's — ONE rule shared by the
    * distributed ([[searchWith]]) and embedded
    * ([[graft.store.HybridStore.serve]]) dispatch paths, so they cannot
    * drift (ADVICE r16 #4; the first duplicated copy had already
    * dropped a disjunct). A cosine-BUILT index stores unit vectors:
    * scoring them with raw L2/dot measures a different space than the
    * caller built (Cosine and CosinePreNorm are both exact over unit
    * rows — scale-invariant / the prenorm contract). Conversely a
    * cosine-family config over raw-space centroids routes nprobe
    * through the wrong geometry — silently degraded recall, no error;
    * the reference fails fast on modality metric mismatch
    * (hybrid_search_index.go), so both directions reject here. */
  def requireIvfMetricCompatible(idxMetric: Metric, cfgMetric: Metric): Unit = {
    require(idxMetric != Metric.Cosine ||
        cfgMetric == Metric.Cosine || cfgMetric == Metric.CosinePreNorm,
      s"IVF leg was built with $idxMetric, config says $cfgMetric")
    require((cfgMetric != Metric.Cosine &&
        cfgMetric != Metric.CosinePreNorm) ||
        idxMetric == Metric.Cosine || idxMetric == Metric.CosinePreNorm,
      s"IVF leg was built with $idxMetric (raw-space centroids), " +
        s"config says $cfgMetric — rebuild the index under a " +
        "cosine metric")
  }

  def searchWith(meta: DataFrame, filters: Seq[FilterGroup],
                 leg: Option[VectorLeg], queryVec: Option[DataFrame],
                 corpus: Option[BM25Corpus], queryText: Option[String],
                 cfg: Config = Config(),
                 vecThreshold: Option[Double] = None,
                 txtOverride: Option[DataFrame] = None,
                 modalityCutoff: Int = -1,
                 queryTexts: Seq[String] = Seq.empty): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._

    val candidates =
      if (filters.isEmpty) None
      else Some(meta.filter(Filters.compileGroups(filters)).select(col("id")))

    // every leg feeds ScoreAgg.aggregate (a groupBy) and then a rank/top-k
    // re-sort, so the legs' own global output sort is pure waste — one
    // range-partitioning Exchange + Sort per search that Catalyst cannot
    // eliminate past the ranking Window (r19 plan audit); sorted = false
    // drops it at construction with bit-identical results
    val vecScores: Option[DataFrame] = (for {
      l <- leg; qv <- queryVec
    } yield (l match {
      case FlatLeg(vs) =>
        FlatKnn.search(vs, qv, cfg.k, cfg.metric, vecThreshold,
          candidates = candidates, sorted = false)
      case IvfLeg(idx, np0) =>
        requireIvfMetricCompatible(idx.metric, cfg.metric)
        val np = if (np0 <= 0) idx.model.k else np0
        Ivf.search(idx, qv, cfg.k, np, cfg.metric, vecThreshold,
          candidates = candidates, sorted = false)
      // the indexed legs score in the metric FIXED AT INDEX CONSTRUCTION
      // (index.go:32-100); a config metric that disagrees would silently
      // fuse two different score spaces, so fail fast instead. (Cosine PQ
      // scores sqrt(2·(1−cos)) — the reference's own PQ score space,
      // pq_index_search.go:295 — not flat-cosine's 1−cos.)
      case HnswLeg(idx, ef) =>
        require(idx.metric == cfg.metric,
          s"HNSW leg was built with ${idx.metric}, config says ${cfg.metric}")
        Hnsw.searchIndex(idx, qv, cfg.k, ef, vecThreshold,
          candidates = candidates, sorted = false)
      case PqLeg(enc, model) =>
        require(model.metric == cfg.metric,
          s"PQ leg was built with ${model.metric}, config says ${cfg.metric}")
        Pq.search(enc, model, qv, cfg.k, vecThreshold,
          candidates = candidates, sorted = false)
      case PqRefinedLeg(enc, model, raw, rf) =>
        require(model.metric == cfg.metric,
          s"PQ leg was built with ${model.metric}, config says ${cfg.metric}")
        // the threshold applies to the EXACT refined distances — the
        // leg's reported score space — not the coarse ADC estimates
        Pq.searchRefined(enc, model, raw, qv, cfg.k, rf,
          candidates = candidates, threshold = vecThreshold, sorted = false)
      case IvfPqLeg(idx, np) =>
        require(idx.metric == cfg.metric,
          s"IVFPQ leg was built with ${idx.metric}, config says ${cfg.metric}")
        IvfPq.search(idx, qv, cfg.k, np, vecThreshold,
          candidates = candidates, sorted = false)
      case IvfPqRefinedLeg(idx, raw, rf, np) =>
        require(idx.metric == cfg.metric,
          s"IVFPQ leg was built with ${idx.metric}, config says ${cfg.metric}")
        // threshold applies to the EXACT refined distances — the leg's
        // reported score space (same contract as PqRefinedLeg)
        IvfPq.searchRefined(idx, raw, qv, cfg.k, np, rf,
          candidates = candidates, threshold = vecThreshold, sorted = false)
    }).select(col("id"), col("score")))
      // MULTI-QUERY combine: the leg emits per-query top-k rows; ids hit
      // by several queries combine per cfg.scoreAgg BEFORE fusion (the
      // reference's WithScoreAggregation on every sub-search,
      // storage.go:509; aggregation.go:107-255), then re-rank and cap at
      // k. Single-query inputs pass through value-identical.
      .map(raw => graft.agg.ScoreAgg.limit(graft.agg.ScoreAgg
        .aggregate(raw, cfg.scoreAgg, ascending = cfg.metric.ascending),
        cfg.k)) // ScoreAgg.limit: k <= 0 keeps everything (limiter.go:12-17)

    // per-modality autocut BEFORE fusion — the reference passes WithCutoff
    // into each sub-search (hybrid_search_index.go:520, :558) and never
    // autocuts the fused list; it runs AFTER multi-query aggregation
    // (limiter after aggregation, index_search.go)
    def cutModality(df: DataFrame): DataFrame =
      if (modalityCutoff == -1) df
      else graft.agg.ScoreAgg.autocut(df, modalityCutoff)
    val vecCut = vecScores.map(cutModality)

    val allTexts = queryText.toSeq ++ queryTexts
    val txtScores: Option[DataFrame] = txtOverride.orElse {
      if (allTexts.isEmpty) None
      else corpus.map { c =>
        // the corpus's own tokenizer — query terms must match its
        // postings; the candidate restriction pushes below the scoring
        // aggregation (bm25_index_search.go:317-319 skips filtered docs
        // during scoring). ONE text query keeps the established
        // single-scoring shape; several score independently (each its
        // own BM25 sub-search, storage.go:566-575) and combine per
        // cfg.scoreAgg like the vector side.
        def one(q: String): DataFrame =
          // driver-known tokens as a literal IN predicate (r20:
          // BM25Corpus.scoreTerms — prunes postings/df lineage at the scan)
          graft.agg.ScoreAgg.limit(
            c.scoreTerms(c.tokenizer.tokens(q).distinct, candidates)
              .orderBy(col("score").desc, col("id")), cfg.k)
        cutModality(
          if (allTexts.size == 1) one(allTexts.head)
          else graft.agg.ScoreAgg.limit(graft.agg.ScoreAgg
            .aggregate(allTexts.map(one).reduce(_ unionByName _),
              cfg.scoreAgg, ascending = false), cfg.k))
      }
    }

    val fused = (vecCut, txtScores) match {
      case (Some(v), Some(t)) => cfg.fusion match {
        case WeightedSum => Fusion.weightedSum(v, t, cfg.vectorWeight, cfg.textWeight)
        case Rrf         => Fusion.rrf(v, t, cfg.rrfK)
        case MaxF        => Fusion.maxFusion(v, t)
        case MinF        => Fusion.minFusion(v, t)
      }
      case (Some(v), None) => v
      case (None, Some(t)) => t
      case (None, None) =>
        // metadata-only: every candidate scores 1.0
        // (hybrid_search_index.go:588-593). All scores tie, so the final
        // (score desc, id asc) order reduces to id asc — pre-limit to the
        // k smallest ids (TakeOrderedAndProject) so a filter-only query
        // never scores the whole table. With NO filters either, the
        // reference returns EMPTY (Execute's score-1.0 backfill runs only
        // when candidateIDs is non-empty, hybrid_search_index.go:594-600)
        // — not the first k ids of the corpus.
        candidates match {
          case Some(c) =>
            c.orderBy(col("id").asc).limit(cfg.k)
              .select(col("id"), lit(1.0).as("score"))
          case None =>
            meta.select(col("id"), lit(1.0).as("score")).limit(0)
        }
    }

    graft.agg.ScoreAgg.limit(
      fused.orderBy(col("score").desc, col("id").asc), cfg.k)
  }

  // ------------------------------------------------------ embedded serving

  /** Embedded fusion: the local twins of [[graft.fusion.Fusion]] — same
    * formulas, same tie-breaks (fusion.go:131-306) — over primitive copies
    * of the two legs' (id, score) lists, whose ids are distinct within a
    * leg. The final top k comes out of one [[FlatKnn.BoundedTopK]] on
    * (-score, id), so the order is score descending, id ascending
    * (hybrid_search_index.go:595-612). */
  private[graft] object LocalFusion {

    /** The top `k` of one fused or single-leg list. */
    def top(xs: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] = {
      val heap = new FlatKnn.BoundedTopK(math.max(k, 0))
      xs.foreach { case (id, s) => heap.offer(-s, id) }
      best(heap)
    }

    /** The top `cfg.k` of the two legs fused by `cfg.fusion`. An id
      * missing from a leg scores 0 there (weighted, RRF), takes the other
      * leg's score (max) or drops out (min). */
    def fuse(v: Seq[(Long, Double)], t: Seq[(Long, Double)],
             cfg: Config): Seq[(Long, Double)] = {
      val (vi, vs) = unzip(v)
      val (ti, ts) = unzip(t)
      // inT(i) = index in t of v's i-th id, or -1; matched marks t entries
      val byId = Array.range(0, ti.length).sortBy(ti(_))
      val sortedT = byId.map(ti)
      val matched = new Array[Boolean](ti.length)
      val inT = Array.tabulate(vi.length) { i =>
        val p = java.util.Arrays.binarySearch(sortedT, vi(i))
        if (p >= 0) { matched(byId(p)) = true; byId(p) } else -1
      }
      // score(i, j): the fused score of v's i-th and t's j-th entry, either
      // index -1 when the id is missing from that leg
      val score: (Int, Int) => Double = cfg.fusion match {
        case WeightedSum =>
          val (vw, tw) = (cfg.vectorWeight, cfg.textWeight)
          (i, j) => (if (i >= 0) vs(i) else 0.0) * vw +
            (if (j >= 0) ts(j) else 0.0) * tw
        case Rrf =>
          // 0-based ranks: vector ascends (distances), text descends
          // (relevance), ties by id
          val k = cfg.rrfK
          val vr = ranks(vi, vs)
          val tr = ranks(ti, ts.map(-_))
          (i, j) => (if (i >= 0) 1.0 / (k + vr(i)) else 0.0) +
            (if (j >= 0) 1.0 / (k + tr(j)) else 0.0)
        case MaxF =>
          (i, j) => if (i < 0) ts(j) else if (j < 0) vs(i) else math.max(vs(i), ts(j))
        case MinF =>
          (i, j) => math.min(vs(i), ts(j))
      }
      val both = cfg.fusion == MinF // min fuses only ids found by both legs
      val heap = new FlatKnn.BoundedTopK(math.max(cfg.k, 0))
      var i = 0
      while (i < vi.length) {
        val j = inT(i)
        if (j >= 0 || !both) heap.offer(-score(i, j), vi(i))
        i += 1
      }
      var j = 0
      while (j < ti.length) {
        if (!matched(j) && !both) heap.offer(-score(-1, j), ti(j))
        j += 1
      }
      best(heap)
    }

    private def best(heap: FlatKnn.BoundedTopK): Seq[(Long, Double)] =
      heap.sortedEntries.map { case (negS, id) => (id, -negS) }

    private def unzip(xs: Seq[(Long, Double)]): (Array[Long], Array[Double]) = {
      val ids = new Array[Long](xs.length)
      val scores = new Array[Double](xs.length)
      var i = 0
      xs.foreach { case (id, s) => ids(i) = id; scores(i) = s; i += 1 }
      (ids, scores)
    }

    /** rank(i) = the 0-based position of entry i when the entries sort by
      * (score, id) ascending. */
    private def ranks(ids: Array[Long], scores: Array[Double]): Array[Int] = {
      val byScore: Ordering[Int] = (a, b) => {
        val c = java.lang.Double.compare(scores(a), scores(b))
        if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
      }
      val r = new Array[Int](ids.length)
      Array.range(0, ids.length).sorted(byScore).zipWithIndex
        .foreach { case (i, p) => r(i) = p }
      r
    }
  }

  /** Entries of [[LocalHybrid]]'s filter memo, least recently used first
    * out. */
  private val MemoEntries = 64

  /** One meta row as the `field => value` view the local filter evaluator
    * reads; `row` moves it along the rows. Each field name resolves to its
    * column once (a few names per filter), not once per row. Packed-meta
    * handles (`rows == null`: id-only metadata held as one primitive
    * column) synthesize the id field on demand — boxing only on this rare
    * id-filter path. */
  private final class RowView(ids: Array[Long], rows: Array[Array[Any]],
                              fieldIdx: Map[String, Int]) extends (String => Any) {
    var row = 0
    private var names = new Array[String](4)
    private var cols = new Array[Int](4)
    private var n = 0

    private def column(f: String): Int = {
      var i = 0
      while (i < n) { if (names(i) == f) return cols(i); i += 1 }
      if (n == names.length) {
        names = java.util.Arrays.copyOf(names, n * 2)
        cols = java.util.Arrays.copyOf(cols, n * 2)
      }
      names(n) = f
      cols(n) = fieldIdx.getOrElse(f, -1)
      n += 1
      cols(n - 1)
    }

    def apply(f: String): Any =
      if (rows == null) { if (f == "id") java.lang.Long.valueOf(ids(row)) else null }
      else {
        val c = column(f)
        if (c < 0) null else rows(row)(c)
      }
  }

  /** Embedded serving for the FULL hybrid lifecycle — the reference's own
    * deployment shape (§3.1: one in-process engine runs metadata filter →
    * vector + text → fusion → top-k, hybrid_search_index.go:477-615) with
    * zero Spark jobs per query. Sub-indexes are the embedded serving
    * structures ([[FlatKnn.LocalFlat]], [[BM25.LocalBM25]]); the metadata
    * filter runs the [[Filters.matchesLocal]] evaluator (spec-pinned equal
    * to the compiled Column) over collected rows once per distinct filter
    * (a least-recently-used memo of 64 filters keeps the result), and
    * the candidate set is pushed into BOTH modalities as a scan predicate,
    * the per-index document-filter composition. Results match [[search]]
    * up to floating-point ulps in BM25 sums. */
  final class LocalHybrid private[hybrid] (
      metaIds: Array[Long], metaRows: Array[Array[Any]],
      fieldIdx: Map[String, Int],
      vecSearch: Option[(Array[Float], Int, Long => Boolean) => Seq[(Long, Double)]],
      bm25: Option[BM25.LocalBM25], val cfg: Config,
      vecWork: () => Long = null) {

    def size: Int = metaIds.length

    /** Cumulative distance evaluations of the vector leg, when the leg
      * counts them (the HNSW serving path does; None otherwise) — the
      * structural per-query work observable: a graph-regime search
      * evaluates O(ef·M·layers) distances per query, a degenerate scan
      * evaluates the corpus, and the DELTA between two reads is
      * host-noise-free where a wall-clock ms/query band is not. */
    def vecDistEvals: Option[Long] = Option(vecWork).map(_())

    /** True when the handle holds metadata as ONE primitive long column
      * (the id-only packed path, 8 B per doc) instead of a boxed row per
      * doc — checked structurally, because JVM heap-delta measurements
      * are GC-noise-bound at corpus scale. */
    def packedMeta: Boolean = metaRows == null

    // Per-filter candidate memo: the reference's metadata index answers a
    // filter from precomputed roaring bitmaps (metadata_index.go:579-698),
    // not by rescanning every document per query — the embedded analog
    // evaluates a DISTINCT filter once over the meta rows and memoizes the
    // matching ids as an [[IdSet]] (one sorted primitive array,
    // binary-search membership, no per-id boxing). Repeated filters — the
    // serving-path norm — then cost one lookup instead of a full scan of
    // the rows per search.
    //
    // The memo keeps the MemoEntries most recently used filters (an
    // access-ordered LinkedHashMap), so a repeating filter survives any run
    // of one-off filters shorter than the memo, and an unbounded stream of
    // distinct filters cannot grow driver memory.
    private val memoLock = new Object
    private val memo =
      new java.util.LinkedHashMap[Seq[FilterGroup], Candidates](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[FilterGroup], Candidates]): Boolean =
          this.size > MemoEntries
      }

    /** A memoized filter's candidates, evaluated on first read outside the
      * memo lock; threads reading the same entry meanwhile wait for that
      * one evaluation instead of repeating it. */
    private final class Candidates(filters: Seq[FilterGroup]) {
      lazy val ids: IdSet = {
        val get = new RowView(metaIds, metaRows, fieldIdx)
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        var i = 0
        while (i < metaIds.length) {
          get.row = i
          if (Filters.matchesGroups(filters, get)) b += metaIds(i)
          i += 1
        }
        IdSet(b.result())
      }
    }

    private def candidatesFor(filters: Seq[FilterGroup]): IdSet = {
      val entry = memoLock.synchronized {
        var e = memo.get(filters)
        if (e == null) {
          e = new Candidates(filters)
          memo.put(filters, e)
        }
        e
      }
      entry.ids
    }

    def search(filters: Seq[FilterGroup], qvec: Option[Array[Float]],
               qtext: Option[String]): Seq[(Long, Double)] = {
      val candidates: Option[IdSet] =
        if (filters.isEmpty) None else Some(candidatesFor(filters))
      // empty candidate set short-circuits (hybrid_search_index.go:503-506)
      if (candidates.exists(_.isEmpty)) return Seq.empty
      // the set itself is the predicate: the HNSW leg reads its ids to
      // score small sets exactly, every other leg just calls it
      val pred: Long => Boolean = candidates.orNull

      // a query for an absent modality contributes nothing — the
      // distributed path's semantics (searchWith scores a modality only
      // when BOTH the query and the leg/corpus exist)
      val vecScores = qvec.flatMap(q => vecSearch.map(f => f(q, cfg.k, pred)))
      val txtScores = qtext.flatMap(q => bm25.map(_.search(q, cfg.k, pred)))

      // final order: score DESC, id asc, limit k (:595-612)
      (vecScores, txtScores) match {
        case (Some(v), Some(t)) => LocalFusion.fuse(v, t, cfg)
        case (Some(v), None)    => LocalFusion.top(v, cfg.k)
        case (None, Some(t))    => LocalFusion.top(t, cfg.k)
        case (None, None) =>
          // metadata-only: candidates score 1.0, ties reduce to id asc
          // (hybrid_search_index.go:588-593); with no filters either, the
          // reference returns EMPTY (:594-600) — mirror the distributed path
          candidates.map(_.ids.take(cfg.k).toSeq.map(id => (id, 1.0))) // pre-sorted
            .getOrElse(Seq.empty)
      }
    }
  }

  /** Collect the hybrid's three sub-structures for embedded serving (meta
    * rows + vectors + postings must fit the local JVM — the reference's
    * standing constraint). Vector leg: exact L2 ([[FlatKnn.serve]]), cosine
    * via normalize-at-insert ([[FlatKnn.serveCosine]] — comet's own cosine
    * strategy, distance.go:70-81), or raw prenorm
    * ([[FlatKnn.servePreNorm]] — matches the distributed
    * [[Metric.CosinePreNorm]] column exactly, no re-normalization, zero
    * rows kept). */
  def serve(meta: DataFrame, vectors: DataFrame, corpus: BM25Corpus,
            cfg: Config = Config()): LocalHybrid = {
    val flat = cfg.metric match {
      case Metric.L2            => FlatKnn.serve(vectors)
      case Metric.Cosine        => FlatKnn.serveCosine(vectors)
      case Metric.CosinePreNorm => FlatKnn.servePreNorm(vectors)
      case other => throw new IllegalArgumentException(
        s"embedded hybrid serving supports L2 and cosine metrics, not $other")
    }
    serveWith(meta, (q, k, pred) => flat.search(q, k, pred), corpus, cfg)
  }

  /** Embedded hybrid over an HNSW-served vector leg — the reference's
    * any-index in-process hybrid (hybrid_search_index.go:76 composes any
    * VectorIndex). Filtered queries hand the leg the filter's [[IdSet]]:
    * each shard holding fewer live candidates than `max(efSearch, k)`
    * scores them exactly, so selective filters get the exact filtered
    * top-k; larger sets are checked inside the beam, which is approximate
    * per the index (doc on [[Hnsw.searchIndex]]). `efSearch` is the total
    * beam across the index's shards. The metric is the INDEX's (fail-fast
    * mismatch, same rule as the distributed legs). */
  def serveHnsw(meta: DataFrame, index: Hnsw.Index, corpus: BM25Corpus,
                cfg: Config = Config(),
                efSearch: Int = Hnsw.DefaultEfSearch): LocalHybrid = {
    require(cfg.metric == index.metric,
      s"hybrid metric ${cfg.metric} != HNSW index metric ${index.metric} " +
        "(the reference fails fast on modality metric mismatch)")
    val serving = Hnsw.serve(index)
    serveModal(meta, Some((q, k, pred) => serving.search(q, k, efSearch, pred)),
      Some(corpus), cfg, () => serving.distEvals)
  }

  /** [[serve]] generalized over the vector-search strategy: any
    * `(query, k, pred) => (id, score)` leg — flat, HNSW, PQ ADC, or a
    * caller-supplied kernel — with scores in the SAME metric space the
    * fusion expects (ascending distance for L2/cosine legs). */
  def serveWith(meta: DataFrame,
                vecSearch: (Array[Float], Int, Long => Boolean) => Seq[(Long, Double)],
                corpus: BM25Corpus,
                cfg: Config = Config()): LocalHybrid =
    serveModal(meta, Some(vecSearch), Some(corpus), cfg)

  /** [[serveWith]] generalized over MODALITY PRESENCE, mirroring the
    * distributed search surface: the reference's store serves with
    * whichever sub-indexes are configured (nil legs are legal,
    * hybrid_search_index_test.go:868-946), so a vector-only or text-only
    * store must serve embedded too. A query for an absent modality
    * contributes nothing, exactly like the distributed path. */
  def serveModal(meta: DataFrame,
                 vecSearch: Option[(Array[Float], Int, Long => Boolean) => Seq[(Long, Double)]],
                 corpus: Option[BM25Corpus],
                 cfg: Config = Config(),
                 vecWork: () => Long = null): LocalHybrid = {
    val schema = meta.schema
    if (schema.fieldNames.toSeq == Seq("id")) {
      // PACKED-META fast path: an id-only metadata frame (the vector-only
      // ANN-serving deployment) collects as ONE primitive long column —
      // ~80 MB at 10M docs — instead of 10M boxed Row objects (~1 GB of
      // driver heap the handle would pin for ids the filters evaluator
      // can synthesize on demand)
      val ids = graft.vector.Packed.longs(meta.select(col("id")))
      new LocalHybrid(ids, null, Map("id" -> 0),
        vecSearch, corpus.map(BM25.serve), cfg, vecWork)
    } else {
      val rows = meta.collect()
      val idIdx = schema.fieldIndex("id")
      val metaIds = rows.map(_.get(idIdx) match {
        case n: java.lang.Number => n.longValue()
        case other => throw new IllegalArgumentException(s"non-numeric id $other")
      })
      new LocalHybrid(metaIds, rows.map(_.toSeq.toArray),
        schema.fieldNames.zipWithIndex.toMap,
        vecSearch, corpus.map(BM25.serve), cfg, vecWork)
    }
  }

  // ------------------------------------------------ single-artifact persist

  /** A reloaded hybrid index: the persisted sub-indexes plus the fusion
    * config, ready to search with no re-wiring (the reference's
    * deserialized "HYBR" blob, hybrid_search_index.go:745-817). Legs are
    * OPTIONAL — the reference constructs hybrids with nil sub-indexes and
    * round-trips them (hybrid_search_index_test.go:868-946); a query
    * against a leg that was never persisted fails fast. */
  final case class Persisted(metaOpt: Option[DataFrame],
                             ivfOpt: Option[Ivf.Index],
                             corpusOpt: Option[BM25Corpus], cfg: Config,
                             legOpt: Option[VectorLeg] = None) {
    /** Full-blob accessors — error with the missing leg's name, matching
      * the pre-partial contract for three-legged artifacts. */
    def meta: DataFrame = metaOpt.getOrElse(
      throw new IllegalStateException("metadata leg was not persisted"))
    def ivf: Ivf.Index = ivfOpt.getOrElse(
      throw new IllegalStateException("vector leg was not persisted"))
    def corpus: BM25Corpus = corpusOpt.getOrElse(
      throw new IllegalStateException("text leg was not persisted"))
    /** The vector leg under whichever kind was persisted ([[writeAny]]
      * artifacts carry it directly; [[write]]/[[writePartial]] artifacts
      * resolve to an [[IvfLeg]] at the config's nprobe). */
    def vectorLeg: Option[VectorLeg] =
      legOpt.orElse(ivfOpt.map(i => IvfLeg(i, cfg.nprobe)))

    def search(filters: Seq[FilterGroup], queryVec: Option[DataFrame],
               queryText: Option[String]): DataFrame = {
      require(filters.isEmpty || metaOpt.nonEmpty,
        "filters configured but the metadata leg was not persisted")
      require(queryVec.isEmpty || vectorLeg.nonEmpty,
        "vector query configured but the vector leg was not persisted")
      require(queryText.isEmpty || corpusOpt.nonEmpty,
        "text query configured but the text leg was not persisted")
      // an absent meta leg only ever reaches the zero-row fallback of the
      // no-modality branch; searchWith touches it for nothing else when
      // no filters are configured
      val m = metaOpt.getOrElse {
        val spark = ivfOpt.map(_.assigned.sparkSession)
          .orElse(corpusOpt.map(_.postings.sparkSession))
          .getOrElse(org.apache.spark.sql.SparkSession.active)
        import spark.implicits._
        Seq.empty[Long].toDF("id")
      }
      Hybrid.searchWith(m, filters, vectorLeg, queryVec, corpusOpt,
        queryText, cfg)
    }
  }

  private def fusionName(f: FusionKind): String = f match {
    case WeightedSum => "weighted_sum"
    case Rrf         => "rrf"
    case MaxF        => "max"
    case MinF        => "min"
  }
  private def fusionOf(n: String): FusionKind = n match {
    case "weighted_sum" => WeightedSum
    case "rrf"          => Rrf
    case "max"          => MaxF
    case "min"          => MinF
    // corrupt/foreign artifacts fail with a NAMED error, not a bare
    // MatchError — the reference's ReadFrom rejects a bad blob with
    // "invalid magic number"/"unsupported version"
    // (hybrid_search_index_test.go:948-1013); our parquet-directory
    // analog is an unrecognized enum in the config record
    case bad => throw new IllegalStateException(
      s"hybrid blob config records unknown fusion kind '$bad' — " +
        "artifact corrupt or written by an incompatible version")
  }
  private def metricName(m: Metric): String = m match {
    case Metric.L2            => "l2"
    case Metric.L2Sq          => "l2sq"
    case Metric.Cosine        => "cosine"
    case Metric.CosinePreNorm => "cosine_prenorm"
    case Metric.DotSim        => "dot"
  }
  private def metricOf(n: String): Metric = n match {
    case "l2"             => Metric.L2
    case "l2sq"           => Metric.L2Sq
    case "cosine"         => Metric.Cosine
    case "cosine_prenorm" => Metric.CosinePreNorm
    case "dot"            => Metric.DotSim
    case bad => throw new IllegalStateException(
      s"hybrid blob config records unknown metric '$bad' — artifact " +
        "corrupt or written by an incompatible version")
  }

  /** Serialize the WHOLE configured hybrid index as ONE directory artifact —
    * all sub-indexes (metadata columns, cluster-partitioned vectors +
    * centroids, BM25 postings/df/stats/tokenizer) plus the fusion
    * kind/weights/metric/nprobe — the reference's single "HYBR" blob
    * (hybrid_search_index.go:655-743). A separate-files persistence would
    * force the user to re-wire weights and tokenizer by hand after reload;
    * this round-trips the full configuration. */
  def write(path: String, meta: DataFrame, ivf: Ivf.Index,
            corpus: BM25Corpus, cfg: Config): Unit =
    writePartial(path, Option(meta), Option(ivf), Option(corpus), cfg)

  /** [[write]] with OPTIONAL legs — the reference's nil-sub-index hybrids
    * serialize only what exists (hybrid_search_index_test.go:868-946).
    * Absent legs write no directory; [[read]] detects presence by
    * directory existence, so a partial artifact reloads as a [[Persisted]]
    * whose missing legs fail fast on use. */
  def writePartial(path: String, meta: Option[DataFrame],
                   ivf: Option[Ivf.Index], corpus: Option[BM25Corpus],
                   cfg: Config): Unit = {
    require(meta.nonEmpty || ivf.nonEmpty || corpus.nonEmpty,
      "nothing to persist: every hybrid leg is absent")
    val spark = meta.map(_.sparkSession)
      .orElse(ivf.map(_.assigned.sparkSession))
      .orElse(corpus.map(_.postings.sparkSession)).get
    import spark.implicits._
    // a stale `leg` record from a previous [[writeAny]] at this path
    // would redirect read() to a leftover other-kind artifact dir — the
    // same stale-delete discipline as Pq.write's _rotation handling: an
    // artifact layout that doesn't carry a record must CLEAR one
    val legP = new org.apache.hadoop.fs.Path(s"$path/leg")
    legP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(legP, true)
    // The sub-artifacts land in INDEPENDENT directories — submit their
    // write jobs from separate threads so they schedule concurrently
    // instead of serializing five job barriers. On a cluster the small
    // writes (centroids, config, BM25 stats) ride along while the big
    // vector/postings writes keep every executor busy; locally this
    // halves the artifact's wall time.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val jobs =
      meta.map(m => Future(
        m.write.mode("overwrite").parquet(s"$path/meta"))).toSeq ++
      // self-contained IVF artifact: rows + centroids + metric in one dir
      ivf.map(i => Future(Ivf.writePartitioned(i, s"$path/vectors"))) ++
      corpus.map(c => Future(BM25.write(c, s"$path/text"))) ++
      Seq(Future {
        Seq((cfg.k, fusionName(cfg.fusion), cfg.vectorWeight, cfg.textWeight,
            cfg.rrfK, metricName(cfg.metric), cfg.nprobe))
          .toDF("k", "fusion", "vector_weight", "text_weight", "rrf_k",
            "metric", "nprobe")
          .repartition(1).write.mode("overwrite").parquet(s"$path/config")
      })
    jobs.foreach(Await.result(_, Duration.Inf))
  }

  /** The HYBR blob generalized over the vector-leg KIND: the reference's
    * blob serializes whichever sub-index the hybrid was built with via
    * the index's own WriteTo (hybrid_search_index.go:655-743) — so ours
    * persists ANY [[VectorLeg]], each kind through its index family's own
    * self-describing artifact writer, with the kind + leg parameters
    * recorded in `$path/leg`. Refined legs persist their raw re-rank
    * vectors beside the codes. [[write]]/[[writePartial]] stay the
    * IVF-shaped fast path; their artifacts (no `leg` dir) reload
    * unchanged, and an [[IvfLeg]] passed here writes the identical
    * layout. [[read]] reloads every shape. */
  def writeAny(path: String, meta: Option[DataFrame],
               leg: Option[VectorLeg], corpus: Option[BM25Corpus],
               cfg: Config): Unit = {
    leg match {
      case None | Some(IvfLeg(_, _)) =>
        // the existing blob layout IS this case (nprobe rides in config
        // when the leg's own value is the 0 = use-config default)
        writePartial(path, meta,
          leg.collect { case IvfLeg(i, _) => i }, corpus, cfg)
        // this layout owns the IVF dirs; any leftover kind dirs from a
        // previous writeAny of a different kind are stale. A LEG-LESS
        // rewrite owns NOTHING: it must also clear a prior IVF artifact,
        // or read() would resurrect the stale vectors/centroids as a
        // live vector leg on a blob that was rewritten to drop it —
        // the same stale-kind hygiene the kind-switch path applies
        // (ADVICE r15)
        dropStaleKindDirs(path,
          keep = if (leg.isEmpty) Set.empty else Set("vectors", "centroids"))
        leg.collect { case IvfLeg(_, np) if np > 0 =>
          writeLegParams(path, "ivf", "nprobe" -> np.toDouble) }
        ()
      case Some(other) =>
        writePartial0(path, meta, corpus, cfg)
        // a previous write's vector artifact under a DIFFERENT layout
        // must not survive a kind switch: read() searches through the
        // recorded kind, but a stale vectors/_centroids would still
        // surface through the Persisted.ivf accessor (and stale kind
        // dirs through a later record corruption) — clear everything
        // this write doesn't own
        val keepDirs = other match {
          case FlatLeg(_)                => Set("vectors_flat")
          case HnswLeg(_, _)             => Set("vectors_hnsw")
          case PqLeg(_, _)               => Set("vectors_pq")
          case PqRefinedLeg(_, _, _, _)  => Set("vectors_pq", "vectors_raw")
          case IvfPqLeg(_, _)            => Set("vectors_ivfpq")
          case IvfPqRefinedLeg(_, _, _, _) =>
            Set("vectors_ivfpq", "vectors_raw")
          case IvfLeg(_, _)              => Set("vectors")
        }
        dropStaleKindDirs(path, keepDirs)
        other match {
          case FlatLeg(vs) =>
            FlatKnn.write(vs, cfg.metric, s"$path/vectors_flat")
            writeLegParams(path, "flat")
          case HnswLeg(idx, ef) =>
            Hnsw.write(idx, s"$path/vectors_hnsw")
            writeLegParams(path, "hnsw", "ef" -> ef.toDouble)
          case PqLeg(enc, model) =>
            Pq.write(model, enc, s"$path/vectors_pq")
            writeLegParams(path, "pq")
          case PqRefinedLeg(enc, model, raw, rf) =>
            Pq.write(model, enc, s"$path/vectors_pq")
            raw.write.mode("overwrite").parquet(s"$path/vectors_raw")
            writeLegParams(path, "pq_refined", "refine" -> rf.toDouble)
          case IvfPqLeg(idx, np) =>
            IvfPq.write(idx, s"$path/vectors_ivfpq")
            writeLegParams(path, "ivfpq", "nprobe" -> np.toDouble)
          case IvfPqRefinedLeg(idx, raw, rf, np) =>
            IvfPq.write(idx, s"$path/vectors_ivfpq")
            raw.write.mode("overwrite").parquet(s"$path/vectors_raw")
            writeLegParams(path, "ivfpq_refined",
              "refine" -> rf.toDouble, "nprobe" -> np.toDouble)
          case IvfLeg(_, _) => () // handled above
        }
    }
  }

  /** meta + corpus + config only — the shared non-vector half of the
    * blob (same concurrent-submit shape as [[writePartial]]). */
  private def writePartial0(path: String, meta: Option[DataFrame],
                            corpus: Option[BM25Corpus],
                            cfg: Config): Unit = {
    val spark = meta.map(_.sparkSession)
      .orElse(corpus.map(_.postings.sparkSession))
      .getOrElse(SparkSession.active)
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val jobs =
      meta.map(m => Future(
        m.write.mode("overwrite").parquet(s"$path/meta"))).toSeq ++
      corpus.map(c => Future(BM25.write(c, s"$path/text"))) ++
      Seq(Future {
        Seq((cfg.k, fusionName(cfg.fusion), cfg.vectorWeight, cfg.textWeight,
            cfg.rrfK, metricName(cfg.metric), cfg.nprobe))
          .toDF("k", "fusion", "vector_weight", "text_weight", "rrf_k",
            "metric", "nprobe")
          .repartition(1).write.mode("overwrite").parquet(s"$path/config")
      })
    jobs.foreach(Await.result(_, Duration.Inf))
  }

  /** Delete every vector-artifact directory this write does not own
    * (`keep` = the dirs the current kind writes; the IVF-shaped layout
    * owns `vectors`/legacy `centroids`, which non-IVF kinds clear). */
  private def dropStaleKindDirs(path: String, keep: Set[String]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = Set("vectors", "centroids", "vectors_flat", "vectors_hnsw",
      "vectors_pq", "vectors_ivfpq", "vectors_raw")
    (all -- keep).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true); ()
    }
  }

  private def writeLegParams(path: String, kind: String,
                             params: (String, Double)*): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val (ks, vs) = (params.map(_._1), params.map(_._2))
    Seq((kind, ks, vs)).toDF("kind", "param_names", "param_values")
      .repartition(1).write.mode("overwrite").parquet(s"$path/leg")
  }

  /** Reload the artifact written by [[write]] (hybrid_search_index.go:745-817;
    * round-trip test shape hybrid_search_index_test.go:737) or
    * [[writeAny]] (any leg kind — the `leg` record dispatches). */
  def read(spark: SparkSession, path: String): Persisted = {
    // Format note: the vector leg is the self-contained IVF artifact
    // ($path/vectors/_centroids + _graft_meta.json). One earlier layout
    // kept centroids in a sibling $path/centroids directory — fall back to
    // it so those artifacts still load instead of dying on a bare
    // path-not-found from the _centroids read. Every leg directory is
    // OPTIONAL (partial artifacts, writePartial) — presence on disk is
    // the presence flag, no separate manifest to drift out of sync.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirExists(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    // The sub-index loads are independent driver-side jobs (config head(),
    // centroid collect, leg record head(), tokenizer head()) — run them
    // concurrently so a reload pays the slowest load, not the sum (guide
    // §2.6 overlap-independent-jobs; the writer side already does this).
    // A DEDICATED bounded pool, not ExecutionContext.global (r20, ADVICE
    // r19): the global pool is shared process-wide, so an unbounded
    // Await inside a query path is a hang risk under pool starvation;
    // and worker threads do not inherit the caller's Spark local
    // properties (job group / description / scheduler pool), so a
    // caller's cancelJobGroup would not reach the reload's jobs — the
    // caller's properties are re-applied inside each task. The await is
    // bounded: an artifact read that takes minutes is a hung filesystem,
    // not a load, and should fail loudly rather than block forever.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val localProps = {
      val keys = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel", "spark.scheduler.pool")
      keys.flatMap(k =>
        Option(spark.sparkContext.getLocalProperty(k)).map(k -> _))
    }
    // 5 slots = the maximum number of concurrent tasks below (config,
    // ivf, meta, text, leg) — leg awaits ivf which awaits config, so a
    // smaller pool could queue config behind its own dependents. Daemon
    // threads, named for thread dumps: a read hung in the filesystem
    // must not pin the JVM open after the await gives up on it.
    val threadNo = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5,
      (r: Runnable) => {
        val t = new Thread(r, s"$ReadThreadPrefix${threadNo.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def task[T](body: => T): Future[T] = Future {
      localProps.foreach { case (k, v) =>
        spark.sparkContext.setLocalProperty(k, v) }
      body
    }
    val readTimeout = 10.minutes
    var loaded = false
    try {
    val cfgF = task {
      val c = spark.read.parquet(s"$path/config").head()
      Config(
        k = c.getAs[Int]("k"),
        fusion = fusionOf(c.getAs[String]("fusion")),
        vectorWeight = c.getAs[Double]("vector_weight"),
        textWeight = c.getAs[Double]("text_weight"),
        rrfK = c.getAs[Double]("rrf_k"),
        metric = metricOf(c.getAs[String]("metric")),
        nprobe = c.getAs[Int]("nprobe"))
    }
    def cfg: Config = Await.result(cfgF, readTimeout)
    val ivfF: Future[Option[Ivf.Index]] = task {
      if (dirExists("vectors/_centroids"))
        Some(Ivf.readPartitioned(spark, s"$path/vectors"))
      else if (dirExists("vectors")) {
        val centroids = spark.read.parquet(s"$path/centroids")
          .orderBy("cid").collect()
          .map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
        Some(Ivf.Index(
          spark.read.parquet(s"$path/vectors").select("id", "vector", "cluster"),
          Kmeans.Model(centroids), cfg.metric))
      } else None
    }
    val metaF = task {
      if (dirExists("meta")) Some(spark.read.parquet(s"$path/meta")) else None
    }
    val textF = task {
      if (dirExists("text")) Some(BM25.read(spark, s"$path/text")) else None
    }
    def ivf: Option[Ivf.Index] = Await.result(ivfF, readTimeout)
    // [[writeAny]] artifacts carry a `leg` record naming the kind; each
    // kind reloads through its family's own reader, refined kinds pick
    // their raw re-rank vectors back up from vectors_raw
    // the leg reload (its own head() plus a family reader — Hnsw.read is
    // the expensive one) overlaps the meta/text loads too; it awaits
    // `ivf`/`cfg` only on the branches that need them
    val legF: Future[Option[VectorLeg]] = task {
      if (!dirExists("leg")) None
      else {
        val r = spark.read.parquet(s"$path/leg").head()
        val params = r.getSeq[String](r.fieldIndex("param_names"))
          .zip(r.getSeq[Double](r.fieldIndex("param_values"))).toMap
        def raw = spark.read.parquet(s"$path/vectors_raw")
          .select(col("id"), col("vector"))
        r.getString(r.fieldIndex("kind")) match {
          case "ivf" =>
            // layout is the shared IVF one; only the leg's own nprobe rode
            // in the record — rewrap the already-loaded index with it
            ivf.map(i => IvfLeg(i, params.getOrElse("nprobe", 0.0).toInt))
          case "flat" =>
            val (vs, met) = FlatKnn.read(spark, s"$path/vectors_flat")
            require(met == cfg.metric,
              s"flat leg persisted under $met but config says ${cfg.metric}")
            Some(FlatLeg(vs))
          case "hnsw" =>
            Some(HnswLeg(Hnsw.read(spark, s"$path/vectors_hnsw"),
              params.getOrElse("ef", 200.0).toInt))
          case "pq" =>
            val (model, enc) = Pq.read(spark, s"$path/vectors_pq")
            Some(PqLeg(enc, model))
          case "pq_refined" =>
            val (model, enc) = Pq.read(spark, s"$path/vectors_pq")
            Some(PqRefinedLeg(enc, model, raw,
              params.getOrElse("refine", 4.0).toInt))
          case "ivfpq" =>
            Some(IvfPqLeg(IvfPq.read(spark, s"$path/vectors_ivfpq"),
              params.getOrElse("nprobe", 8.0).toInt))
          case "ivfpq_refined" =>
            Some(IvfPqRefinedLeg(IvfPq.read(spark, s"$path/vectors_ivfpq"),
              raw, params.getOrElse("refine", 4.0).toInt,
              params.getOrElse("nprobe", 8.0).toInt))
          case bad => throw new IllegalStateException(
            s"hybrid blob at $path records unknown vector-leg kind " +
              s"'$bad' — artifact written by an incompatible version")
        }
      }
    }
    val out = Persisted(
      Await.result(metaF, readTimeout),
      ivf,
      Await.result(textF, readTimeout),
      cfg, Await.result(legF, readTimeout))
    loaded = true
    out
    } finally {
      // on failure the sibling loads are abandoned: interrupt them
      if (loaded) pool.shutdown() else pool.shutdownNow()
    }
  }

  /** Name prefix of the threads [[read]] loads an artifact on. */
  private[graft] val ReadThreadPrefix = "graft-hybrid-read-"
}
