package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 full-text scoring as relational algebra.
  *
  * Reference: comet's inverted index of roaring bitmaps + tf maps
  * (`/root/reference/bm25_index.go:98-122`) and its scorer
  * (`bm25_index_search.go:299-327`):
  *
  *   idf(t)      = ln((N - df + 0.5)/(df + 0.5) + 1)
  *   score(d)    = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
  *   k1 = 1.2, b = 0.75                        (bm25_index.go:75-80)
  *
  * Spark-first design: the inverted index IS a DataFrame of postings
  * `(term, id, tf, dl)` plus per-term `df` — scoring is a broadcast join of
  * the (tiny) query-term set against postings, then a `groupBy(id).sum`.
  * At 100 TB the postings table is partitioned by term (shuffle once at
  * build, never at query), query terms broadcast, and the final top-k is
  * `TakeOrderedAndProject` — no full sort. Corpus stats (N, avgdl) are one
  * tiny aggregate, carried as a broadcast single-row frame, mirroring
  * comet's O(1) incremental stats (bm25_index.go:327-334).
  */
final case class BM25Corpus(
    postings: DataFrame, // id, term, tf, dl
    termDf: DataFrame,   // term, df
    stats: DataFrame,    // n_docs, avgdl
    tokenizer: Tokenize.Tokenizer = Tokenize.Simple,
    // every indexed doc with its length, INCLUDING token-less docs that
    // produced no postings (they still count in n_docs/avgdl, so delete
    // must see them); null for corpora built before this field existed
    docLens: DataFrame = null) {

  import BM25._

  /** Score every document matching any query term. Returns (id, score),
    * descending-better (comet text scores, index_search.go:13-18).
    *
    * @param candidates optional (id) frame restricting scored docs —
    *                   comet's document filter on the text path
    *                   (bm25_index_search.go:317-319). Applied to the
    *                   POSTINGS before aggregation, so filtered-out docs
    *                   never enter the scoring sum (result-identical to
    *                   filtering after, since each doc's score is
    *                   independent — but the agg shuffles only surviving
    *                   rows). */
  /** @param termsDistinct caller guarantees `queryTerms` is already
    *                      duplicate-free (the tokenizer paths dedupe on the
    *                      driver) — skips a redundant `distinct()` whose
    *                      hash Exchange costs one shuffle stage per search
    *                      for zero semantic effect (r19 plan audit). */
  def score(queryTerms: DataFrame,
            candidates: Option[DataFrame] = None,
            termsDistinct: Boolean = false): DataFrame = {
    val terms0 = queryTerms.select(col("term"))
    val terms = if (termsDistinct) terms0 else terms0.distinct()
    // join df onto the QUERY TERMS first and broadcast the tiny joined
    // frame — broadcasting `termDf` directly ships the WHOLE vocabulary's
    // per-term table to every executor (at 100 TB that table is
    // corpus-vocabulary-sized, a broadcast-build scale hazard; even here
    // it is one more exchange + broadcast job per search). Inner-join
    // semantics are unchanged: a posting's term always has a df row, and
    // query terms missing from the vocabulary match no postings either way.
    scoreOn(postings, termDf.join(broadcast(terms), "term"), candidates)
  }

  /** [[score]] for DRIVER-KNOWN query terms (r20): the term set is stated
    * as a LITERAL `term IN (...)` predicate on both the postings and the
    * per-term df frame instead of a runtime broadcast-join restriction.
    * Catalyst pushes the literal through aggregates (term is the grouping
    * key), unions and joins all the way into the scans — so an
    * incrementally maintained corpus (delete/upsert/log chains) evaluates
    * its whole df/postings lineage over ONLY the query's terms instead of
    * the full vocabulary, and a parquet/cached postings scan prunes on
    * term statistics. A broadcast join cannot do either (runtime values
    * are invisible to the optimizer). Results are identical: the inner
    * join on term and the IN filter keep exactly the same posting rows. */
  def scoreTerms(terms: Seq[String],
                 candidates: Option[DataFrame] = None): DataFrame = {
    val ts = terms.distinct
    if (ts.size > MaxLiteralTerms) {
      // a document-sized query would inline thousands of literals into
      // the plan; past the bound the broadcast-join path scales instead
      val s = postings.sparkSession
      import s.implicits._
      score(ts.toDF("term"), candidates, termsDistinct = true)
    } else {
      // empty query => no matching postings => empty result, same as the
      // empty-terms join (bm25_index_search.go:279-281)
      val in = if (ts.isEmpty) lit(false) else col("term").isin(ts: _*)
      scoreOn(postings.filter(in), termDf.filter(in), candidates)
    }
  }

  private def scoreOn(base0: DataFrame, tinfo: DataFrame,
                      candidates: Option[DataFrame]): DataFrame = {
    val base = candidates match {
      case Some(c) => base0.join(c.select(col("id")), Seq("id"), "left_semi")
      case None    => base0
    }
    base
      .join(broadcast(tinfo), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("id"))
      .agg(sum(bm25Term(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("avgdl"))).as("score"))
  }

  /** Top-k search for a raw query string, tokenized with the SAME
    * tokenizer the corpus was built with. Empty query => empty result
    * (bm25_index_search.go:279-281). */
  def search(query: String, k: Int): DataFrame =
    topK(scoreTerms(tokenizer.tokens(query).distinct), k)

  /** "More like this": use the stored tokens of existing docs as the query
    * (bm25_index_search.go:233-261). */
  def searchByDocs(docIds: Seq[Long], k: Int): DataFrame = {
    val terms = postings
      .filter(col("id").isin(docIds: _*))
      .select(col("term"))
    topK(score(terms), k)
  }

  /** `k <= 0` returns ALL scored docs — the reference's sanitizeK
    * (limiter.go:12-17) applies to text search like every other index. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val sorted = scored.orderBy(col("score").desc, col("id"))
    if (k <= 0) sorted else sorted.limit(k)
  }
}

object BM25 {
  val K1 = 1.2
  val B = 0.75

  /** Most distinct query terms [[BM25Corpus.scoreTerms]] states as a
    * literal `IN` list; longer queries take the broadcast-join path. */
  val MaxLiteralTerms = 256

  /** Per-(term, doc) BM25 contribution; all inputs double. */
  def bm25Term(tf: Column, df: Column, dl: Column,
               nDocs: Column, avgdl: Column): Column = {
    val idf = log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    val tfD = tf.cast("double")
    val norm = tfD * (lit(K1) + 1.0) /
      (tfD + lit(K1) * (lit(1.0) - lit(B) + lit(B) * dl.cast("double") / avgdl))
    idf * norm
  }

  /** Build the corpus from `(id, text)`.
    *
    * @param tokenizer document AND query tokenizer, stored in the corpus so
    *                  searches always match the postings (default
    *                  [[Tokenize.Simple]]; [[Tokenize.Uax29]] for full
    *                  Unicode parity with the reference).
    */
  def build(docs: DataFrame, idCol: String = "id", textCol: String = "text",
            tokenizer: Tokenize.Tokenizer = Tokenize.Simple): BM25Corpus = {
    // scale-adaptive fan-out BEFORE the tokenize (r20): a byte-small doc
    // frame (a store segment, a stream micro-batch, a persisted piece)
    // reads as one scan partition, collapsing the tokenize+explode — the
    // build's CPU-heavy stage — onto one core. Frames.fanOut repartitions
    // to session parallelism ONLY when the input's estimated bytes would
    // split into fewer scan partitions than cores (provably a no-op at
    // 100 TB). Tokenizing after the exchange keeps the heavy work above
    // it; every downstream value is an exact integer count or an exact
    // integer-valued sum, so row order cannot change any result.
    val raw = graft.core.Frames.fanOut(
      docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("_text")), Seq(col("id")))
    val toks = raw.select(col("id"),
      tokenizer.column(col("_text")).as("tokens"))
    val withLen = toks.withColumn("dl", size(col("tokens")).cast("double"))

    // map-side combine: explode then partial-aggregate tf before shuffle
    val postings = withLen
      .select(col("id"), col("dl"), explode(col("tokens")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

    val termDf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // one posting per (term, doc) => count = df

    val stats = withLen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

    BM25Corpus(postings, termDf, stats, tokenizer,
      withLen.select(col("id"), col("dl")))
  }

  /** Persist an inverted index: postings, per-term df, corpus stats, and
    * doc lengths as four parquet tables — the columnar re-expression of
    * the reference's binary BM25 serialization (bm25_index.go:467-623
    * writes postings bitmaps + tf maps + docLengths + stats; here each is
    * already a frame). Postings are written partitioned-by-nothing but
    * bucketable by term at real scale (build-once shuffle, query never
    * shuffles). The tokenizer is recorded so a loaded corpus tokenizes
    * queries identically. */
  def write(corpus: BM25Corpus, path: String): Unit = {
    val spark = corpus.postings.sparkSession
    import spark.implicits._
    corpus.postings.write.mode("overwrite").parquet(s"$path/postings")
    corpus.termDf.write.mode("overwrite").parquet(s"$path/term_df")
    corpus.stats.write.mode("overwrite").parquet(s"$path/stats")
    val lens =
      if (corpus.docLens != null) corpus.docLens
      else corpus.postings.select(col("id"), col("dl")).distinct()
    lens.write.mode("overwrite").parquet(s"$path/doc_lens")
    val tokName = corpus.tokenizer match {
      case Tokenize.Uax29 => "uax29"
      case _              => "simple"
    }
    Seq(tokName).toDF("tokenizer").repartition(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted inverted index; scores on the loaded corpus are
    * bit-identical to the original (same frames, same doubles). */
  def read(spark: org.apache.spark.sql.SparkSession,
           path: String): BM25Corpus = {
    // corrupt artifacts fail loudly, never fall back silently — the
    // reference rejects a bad magic/version up front instead of scoring
    // under wrong state (bm25_index_test.go:907-961
    // TestBM25IndexReadFromInvalidData); an unknown tokenizer name here
    // is the same class of corruption (queries would tokenize
    // differently than the stored postings)
    val tokenizer = spark.read.parquet(s"$path/meta")
      .head().getString(0) match {
      case "uax29"  => Tokenize.Uax29
      case "simple" => Tokenize.Simple
      case other    => throw new IllegalStateException(
        s"corrupt BM25 artifact at $path: unknown tokenizer '$other' " +
          "(bm25_index_test.go:907-961 invalid-data contract)")
    }
    BM25Corpus(
      spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/term_df"),
      spark.read.parquet(s"$path/stats"),
      tokenizer,
      spark.read.parquet(s"$path/doc_lens"))
  }

  /** Embedded serving for BM25: postings grouped per term into primitive
    * arrays in the local JVM — the reference's in-process text search (an
    * inverted map of bitmaps + tf maps walked per query term,
    * bm25_index_search.go:175-226) without Spark job scheduling.
    *
    * Docs are indexed in ascending id order, so `ids` is sorted and is
    * also the id → index map (binary search). Each term holds its
    * postings' doc indexes and their IMPACTS `idf · norm`, computed once
    * by [[serve]] with the formula/constants of [[bm25Term]]. A query adds
    * impacts term by term, in query-term order, into a per-thread scratch
    * (a dense `Double` accumulator, a touched-doc list and a candidate
    * bitmap) and reads the top k through [[graft.vector.FlatKnn.BoundedTopK]]
    * on (−score, id). Each doc's sum folds in the same order as a
    * per-query `idf · norm` fold, so scores are bit-identical to it;
    * against the DataFrame aggregate they can differ only in
    * floating-point ulps (summation order).
    *
    * Footprint: the scratch costs 8 B plus 1 bit per doc of the largest
    * handle a serving thread has queried, per serving thread, plus a
    * touched list as long as the largest match set that thread has
    * scored; handles share it, and a query clears only the slots it
    * touched, so it allocates nothing in proportion to the corpus. */
  final class LocalBM25 private[BM25] (
      tokenizer: Tokenize.Tokenizer,
      postDocs: java.util.HashMap[String, Array[Int]], // term -> doc indexes
      postImpacts: java.util.HashMap[String, Array[Double]], // term -> idf·norm
      ids: Array[Long]) { // ascending
    def size: Int = ids.length

    /** Resident bytes of the postings (doc indexes + impacts per term), the
      * id array, and vocab strings — no reference memory figure exists for
      * BM25; this makes ours measurable. The per-thread query scratch is
      * not counted. */
    def byteSize: Long = {
      var b = ids.length.toLong * 8
      val it = postDocs.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey.length.toLong * 2 + e.getValue.length * (4L + 8L)
      }
      b
    }

    /** Top-k (id, score), score desc then id asc — the [[BM25Corpus.search]]
      * ordering; `k <= 0` returns every match (limiter.go:12-17). Empty
      * query / no matching terms ⇒ empty. `filter` is the embedded
      * document pre-filter: filtered docs are skipped DURING scoring, the
      * reference's semantics (bm25_index_search.go:317-319). An
      * [[graft.vector.IdSet]] is marked into the scratch bitmap once per
      * query; any other predicate is called once per posting. */
    def search(query: String, k: Int,
               filter: Long => Boolean = null): Seq[(Long, Double)] = {
      val terms = tokenizer.tokens(query).distinct
      val sc = scratchFor(ids.length)
      try {
        val marked = filter match {
          case s: graft.vector.IdSet => sc.mark(s.ids, ids); true
          case _                     => false
        }
        val acc = sc.acc
        val bits = sc.bits
        terms.foreach { t =>
          val docs = postDocs.get(t)
          if (docs != null) {
            val imp = postImpacts.get(t)
            var i = 0
            while (i < docs.length) {
              val d = docs(i)
              val allowed =
                if (marked) (bits(d >>> 6) & (1L << d)) != 0
                else filter == null || filter(ids(d))
              if (allowed) {
                // impacts are > 0 (df <= n_docs, tf >= 1), so 0.0 marks an
                // untouched slot; the first impact is stored, not added
                val a = acc(d)
                if (a == 0.0) { sc.touch(d); acc(d) = imp(i) }
                else acc(d) = a + imp(i)
              }
              i += 1
            }
          }
        }
        val n = sc.nTouched
        if (n == 0) return Seq.empty
        val heap = new graft.vector.FlatKnn.BoundedTopK(if (k <= 0) n else math.min(k, n))
        val touched = sc.touched
        var j = 0
        while (j < n) { val d = touched(j); heap.offer(-acc(d), ids(d)); j += 1 }
        heap.sortedEntries.map { case (s, id) => (id, -s) }
      } finally sc.reset()
    }
  }

  /** One scratch per serving thread, shared by every [[LocalBM25]] handle
    * (a re-served store drops its old handle, so a scratch per handle
    * would leave one dead accumulator per thread per re-serve). Grown to
    * the largest handle the thread has queried; [[Scratch.reset]] leaves
    * it all zero, so any handle can reuse it. */
  private val scratch = new ThreadLocal[Scratch]

  private def scratchFor(nDocs: Int): Scratch = {
    val sc = scratch.get()
    if (sc != null && sc.acc.length >= nDocs) sc
    else { val fresh = new Scratch(nDocs); scratch.set(fresh); fresh }
  }

  /** One serving thread's query scratch for [[LocalBM25]]. */
  private final class Scratch(nDocs: Int) {
    val acc = new Array[Double](nDocs)
    val bits = new Array[Long]((nDocs + 63) >>> 6)
    var touched = new Array[Int](64)
    var nTouched = 0
    private var markLo = 0  // word range of the bitmap the last mark set
    private var markHi = -1

    def touch(d: Int): Unit = {
      if (nTouched == touched.length)
        touched = java.util.Arrays.copyOf(touched, nTouched * 2)
      touched(nTouched) = d
      nTouched += 1
    }

    /** Set the bit of every doc index whose id is in `cand` (both sorted). */
    def mark(cand: Array[Long], ids: Array[Long]): Unit = {
      var from = 0
      var i = 0
      while (i < cand.length && from < ids.length) {
        val p = java.util.Arrays.binarySearch(ids, from, ids.length, cand(i))
        if (p >= 0) {
          if (markHi < markLo) markLo = p >>> 6
          markHi = p >>> 6
          bits(p >>> 6) |= 1L << p
          from = p + 1
        } else from = -p - 1
        i += 1
      }
    }

    /** Zero the touched accumulator slots and the marked bitmap words. */
    def reset(): Unit = {
      var j = 0
      while (j < nTouched) { acc(touched(j)) = 0.0; j += 1 }
      nTouched = 0
      if (markHi >= markLo) java.util.Arrays.fill(bits, markLo, markHi + 1, 0L)
      markLo = 0; markHi = -1
    }
  }

  /** Collect a corpus for embedded serving (one-time cost ∝ postings
    * bytes; must fit driver memory — the reference's standing constraint).
    * Postings are grouped per term ON the cluster (one collected row per
    * term, arrays inside) so the driver never materializes row-per-posting
    * objects. Each posting's impact `idf · norm` is computed here, once,
    * with the arithmetic of [[bm25Term]]. */
  def serve(corpus: BM25Corpus): LocalBM25 = {
    val lens =
      (if (corpus.docLens != null) corpus.docLens
       else corpus.postings.select(col("id"), col("dl")).distinct())
        .select(col("id").cast("long"), col("dl").cast("double")).collect()
        .sortBy(_.getLong(0))
    val ids = lens.map(_.getLong(0))
    val dls = lens.map(_.getDouble(1))
    val dfMap = new java.util.HashMap[String, java.lang.Double]()
    corpus.termDf.select(col("term"), col("df").cast("double")).collect()
      .foreach(r => dfMap.put(r.getString(0), r.getDouble(1)))
    val st = corpus.stats.select(col("n_docs"), col("avgdl")).head()
    val nDocs = st.getDouble(0)
    val avgdl = st.getDouble(1)
    val postDocs = new java.util.HashMap[String, Array[Int]]()
    val postImpacts = new java.util.HashMap[String, Array[Double]]()
    corpus.postings
      .groupBy(col("term"))
      .agg(collect_list(col("id").cast("long")).as("ids"),
        collect_list(col("tf").cast("double")).as("tfs"))
      .collect()
      .foreach { r =>
        val t = r.getString(0)
        val docIds = r.getSeq[Long](1)
        val tfs = r.getSeq[Double](2)
        val dfT: Double = dfMap.get(t)
        val idf = math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1.0)
        val dArr = new Array[Int](docIds.length)
        val impacts = new Array[Double](docIds.length)
        var i = 0
        while (i < dArr.length) {
          val d = java.util.Arrays.binarySearch(ids, docIds(i))
          require(d >= 0, s"BM25 posting for doc ${docIds(i)} has no doc length")
          val tf = tfs(i)
          val norm = tf * (K1 + 1.0) /
            (tf + K1 * (1.0 - B + B * dls(d) / avgdl))
          dArr(i) = d
          impacts(i) = idf * norm
          i += 1
        }
        postDocs.put(t, dArr)
        postImpacts.put(t, impacts)
      }
    new LocalBM25(corpus.tokenizer, postDocs, postImpacts, ids)
  }

  /** Incremental ADD: index a new document batch into an existing corpus
    * without rebuilding (comet maintains numDocs/totalTokens/postings
    * incrementally on Add, bm25_index.go:204-334). Postings union, df
    * re-aggregated from the union, stats combined arithmetically —
    * score-identical (to rounding ulps) to a fresh build over the union. */
  def add(corpus: BM25Corpus, docs: DataFrame, idCol: String = "id",
          textCol: String = "text"): BM25Corpus = {
    // PRECONDITION: the batch's ids are NEW (the memtable contract — a doc
    // update is delete(oldId) then add). Re-adding a live id would
    // double-count its postings/df/n_docs; delete first for replace.
    val fresh = build(docs, idCol, textCol, corpus.tokenizer)
    val postings = corpus.postings.unionByName(fresh.postings)
    val termDf = corpus.termDf.unionByName(fresh.termDf)
      .groupBy(col("term")).agg(sum(col("df")).cast("double").as("df"))
    val stats = corpus.stats.select(col("n_docs").as("n1"), col("avgdl").as("a1"))
      .crossJoin(fresh.stats.select(col("n_docs").as("n2"), col("avgdl").as("a2")))
      .select((col("n1") + col("n2")).as("n_docs"),
        ((col("n1") * col("a1") + col("n2") * col("a2")) /
          (col("n1") + col("n2"))).as("avgdl"))
    val docLens =
      if (corpus.docLens == null) fresh.docLens
      else corpus.docLens.unionByName(fresh.docLens)
    BM25Corpus(postings, termDf, stats, corpus.tokenizer, docLens)
  }

  /** Incremental DELETE with flush semantics: drop the docs' postings and
    * correct df/n_docs/avgdl immediately (comet soft-deletes at search
    * time and hard-purges on Flush, bm25_index.go:253-400 — we go straight
    * to the flushed state; deletes-as-data would anti-join at query time
    * instead). */
  def delete(corpus: BM25Corpus, ids: DataFrame): BM25Corpus = {
    val del = ids.select(col("id").cast("long").as("id"))
    val postings = corpus.postings.join(del, Seq("id"), "left_anti")
    // df by DELTA, the reference's incremental bookkeeping
    // (bm25_index.go:353-368 decrements df per term of the removed doc):
    // aggregate only the DELETED docs' postings (delete-batch-sized) and
    // subtract from the existing per-term table — never re-aggregate the
    // full postings frame, which at 100 TB would make every delete batch
    // cost a corpus-wide shuffle. Exactness is unchanged: both forms
    // count distinct surviving docs per term.
    val removedDf = corpus.postings.join(del, Seq("id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("ddf"))
    val termDf = corpus.termDf
      .join(removedDf, Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("ddf"), lit(0.0))).as("df"))
      .filter(col("df") > 0)
    // count removed docs from docLens (covers token-less docs that never
    // produced postings but DO count in n_docs); fall back to postings
    // for pre-docLens corpora
    val lens =
      if (corpus.docLens != null) corpus.docLens
      else corpus.postings.select(col("id"), col("dl")).distinct()
    val removed = lens.join(del, Seq("id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("nd"),
        coalesce(sum(col("dl")), lit(0.0)).as("sd"))
    val stats = corpus.stats.crossJoin(removed)
      .select((col("n_docs") - col("nd")).as("n_docs"),
        // empty corpus after delete => avgdl 0.0, not a division by zero
        when(col("n_docs") - col("nd") === 0.0, lit(0.0))
          .otherwise((col("n_docs") * col("avgdl") - col("sd")) /
            (col("n_docs") - col("nd"))).as("avgdl"))
    val docLens =
      if (corpus.docLens == null) null
      else corpus.docLens.join(del, Seq("id"), "left_anti")
    BM25Corpus(postings, termDf, stats, corpus.tokenizer, docLens)
  }

  /** UPSERT: the reference's `Add` on an already-indexed id replaces the
    * document — numDocs stays flat and the old tokens vanish
    * (bm25_index.go:204-240, bm25_index_test.go:131-156). Our `add`
    * demands fresh ids (memtable contract), so replace = delete the
    * overlap, then add the batch. The delete leg sees only ids already in
    * the corpus (semi-join against docLens), so upserting a brand-new id
    * degenerates to a plain add. */
  def upsert(corpus: BM25Corpus, docs: DataFrame, idCol: String = "id",
             textCol: String = "text"): BM25Corpus = {
    val ids = docs.select(col(idCol).cast("long").as("id"))
    val lens =
      if (corpus.docLens != null) corpus.docLens
      else corpus.postings.select(col("id")).distinct()
    val existing = ids.join(lens.select(col("id")), Seq("id"), "left_semi")
    add(delete(corpus, existing), docs, idCol, textCol)
  }
}
