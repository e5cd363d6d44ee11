package graft.text

import graft.core.Frames.free
import graft.core.PieceLog
import graft.core.PieceLog.matz
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-structured, incrementally maintained BM25 corpus — the Spark twin
  * of comet's O(1) in-place index bookkeeping (`/root/reference/
  * bm25_index.go:204-334`: Add/Remove mutate postings maps and keep
  * numDocs/totalTokens/df current incrementally; stats are never
  * recomputed from the corpus).
  *
  * A monolithic [[BM25.build]] per mutation costs a full-corpus tokenize +
  * two corpus-wide shuffles — at 100 TB that makes every 1-row append pay
  * for the whole store. This log instead keeps one tokenized
  * postings/doc-lens PIECE per appended segment under the shared
  * [[graft.core.PieceLog]] protocol (newest-wins markers, collapse,
  * durable pieces under `persistDir/seg=N/{postings,lens}`), plus:
  *
  *   - per-term df maintained by DELTA: each mutation appends a signed
  *     batch-vocabulary-sized delta frame, folded into the base table
  *     lazily at the next [[corpus]] access (the relational re-expression
  *     of the reference's per-term counter decrements,
  *     bm25_index.go:353-368);
  *   - n_docs / Σdl as driver scalars, updated arithmetically (dl values
  *     are integer-valued doubles, so the running sum is EXACT in any
  *     order and `avgdl = Σdl / n` is bit-identical to any other
  *     evaluation order);
  *   - a `_tok` commit record per piece naming the tokenizer that cut it
  *     (see [[BM25Log.reopen]]).
  *
  * Per-mutation cost: tokenize + materialize the BATCH, one overlap probe
  * against the live doc-lens view (only when the batch's ids might
  * replace live docs does the postings view get probed), and
  * O(batch vocabulary) delta frames. Nothing corpus-sized is rewritten;
  * [[corpus]] serves lazy views over the materialized pieces. The store
  * itself is the source of truth, this log is a cache ([[BM25Log.fromLive]]
  * rebuilds it).
  *
  * NOT thread-safe; guard with the owning store's generation lock (as
  * [[graft.store.HybridStore]] does).
  */
final class BM25Log(spark: SparkSession,
                    val tokenizer: Tokenize.Tokenizer = Tokenize.Simple,
                    persistDir: Option[String] = None)
    extends PieceLog(spark, persistDir) {

  def name: String = "text"

  // the text leg's removal probe is also its stats delta, so a shared
  // verdict would not save it a job
  override def wantsVerdict: Boolean = false

  protected def column: String = "text"
  protected def tables: IndexedSeq[String] = IndexedSeq("postings", "lens")

  // the piece's commit record names the tokenizer that cut it
  override protected def commitFile: Option[(String, String)] =
    Some(("_tok", BM25Log.tokName(tokenizer)))

  protected def encode(rows: DataFrame): IndexedSeq[DataFrame] = {
    val fresh = BM25.build(rows, "id", "text", tokenizer)
    IndexedSeq(fresh.postings, fresh.docLens)
  }

  protected def empty(i: Int): DataFrame = {
    import spark.implicits._
    if (i == 0)
      Seq.empty[(String, Long, Double, Long)].toDF("term", "id", "dl", "tf")
    else Seq.empty[(Long, Double)].toDF("id", "dl")
  }

  // folded per-term df (term, df double) — materialized
  private var dfBase: DataFrame = emptyDf
  // signed, batch-vocab-sized df deltas awaiting the next fold
  private var dfDeltas: Vector[DataFrame] = Vector.empty
  private var nDocs: Long = 0L
  private var sumDl: Double = 0.0

  private def emptyDf: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Double)].toDF("term", "df")
  }

  private def lensStats(lens: DataFrame) =
    lens.agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0.0)).as("s"))
      .head()

  /** Live postings across all pieces (lazy; scans materialized blocks). */
  def livePostings: DataFrame = live(0)

  /** Live (id, dl) across all pieces (lazy). */
  def liveDocLens: DataFrame = live(1)

  /** Fold the removed docs' df/stats contribution OUT by delta. The
    * overlap probe runs on the doc-lens view first (rows ∝ n_docs, far
    * smaller than postings); the postings view is only probed when
    * something was actually live — so an append-only workload never
    * scans postings at all. Unlike the vector legs' boolean probes, this
    * ONE job is also the stats delta, so it runs on a true/unknown
    * verdict alike. */
  override protected def removed(del: DataFrame,
                                 liveHit: Option[Boolean]): Boolean = {
    val hit = lensStats(liveDocLens.join(del, Seq("id"), "left_semi"))
    val n = hit.getLong(0)
    if (n > 0) {
      nDocs -= n
      sumDl -= hit.getDouble(1)
      // df by delta, the reference's per-term decrement
      // (bm25_index.go:353-368): aggregate ONLY the removed docs'
      // postings — batch-sized output, never a corpus re-aggregation
      dfDeltas :+= matz(livePostings.join(del, Seq("id"), "left_semi")
        .groupBy(col("term"))
        .agg((count(lit(1)) * lit(-1.0)).as("df")))
    }
    n > 0
  }

  override protected def admit(p: PieceLog.Piece): Boolean = {
    val st = lensStats(p.frames(1))
    val n = st.getLong(0)
    if (n > 0) {
      // df delta from the MATERIALIZED piece (not the lazy build plan,
      // which would re-tokenize the batch a second time)
      dfDeltas :+= matz(p.frames(0).groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df")))
      nDocs += n
      sumDl += st.getDouble(1)
    }
    n > 0
  }

  /** Post-compaction collapse: df/stats are already live-exact and carry
    * over untouched. */
  override def collapse(seg: Long): Unit = {
    foldDf()
    super.collapse(seg)
  }

  /** Drop cached piece, marker, and df frames. */
  override def release(vacuumStale: Boolean = false): Unit = {
    super.release(vacuumStale)
    dfDeltas.foreach(free)
    dfDeltas = Vector.empty
    free(dfBase)
    dfBase = emptyDf
  }

  private def foldDf(): Unit = if (dfDeltas.nonEmpty) {
    val old = dfBase +: dfDeltas
    dfBase = matz(graft.core.Frames.balancedUnion(old)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0))
    dfDeltas = Vector.empty
    // folded into the new base (eagerly materialized) — free the inputs
    old.foreach(free)
  }

  /** History-free folded state from the live views (one keyed shuffle
    * over cached postings + one lens aggregation — NO tokenize). */
  private def refold(): Unit = {
    dfBase = matz(livePostings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df")))
    dfDeltas = Vector.empty
    val st = lensStats(liveDocLens)
    nDocs = st.getLong(0)
    sumDl = st.getDouble(1)
  }

  /** The current corpus as lazy views — score-equivalent to
    * `BM25.build` over the live documents (df and n_docs are exact
    * integers; Σdl is an exact integer-valued sum, so avgdl is
    * bit-identical to any rebuild). Folds pending df deltas (one
    * vocab-sized shuffle per mutation GENERATION, amortized across an
    * append burst). */
  def corpus: BM25Corpus = {
    foldDf()
    import spark.implicits._
    val stats = Seq((nDocs.toDouble,
      if (nDocs == 0L) 0.0 else sumDl / nDocs)).toDF("n_docs", "avgdl")
    BM25Corpus(livePostings, dfBase, stats, tokenizer, liveDocLens)
  }

  /** Documents currently indexed (driver scalar, O(1)). */
  def docCount: Long = nDocs
}

object BM25Log {
  /** Seed a log from an already-resolved live view (e.g. on reopening an
    * existing store): tokenizes once, materializes one piece. */
  def fromLive(live: DataFrame, seg: Long,
               tokenizer: Tokenize.Tokenizer = Tokenize.Simple): BM25Log = {
    val log = new BM25Log(live.sparkSession, tokenizer)
    log.append(live.select(col("id"), col("text")), seg)
    log
  }

  private def tokName(t: Tokenize.Tokenizer): String = t match {
    case Tokenize.Uax29 => "uax29"
    case _              => "simple"
  }

  /** Reopen a log over a store's live segments, loading DURABLE pieces
    * written by a previous process where they exist and tokenizing only
    * the segments that lack one (new store, foreign writer, or a
    * half-written piece) — the Spark twin of the reference loading each
    * segment's serialized text index at search time (storage.go:556-561,
    * 680-760).
    *
    * TOKENIZER GUARD: every piece carries a `_tok` commit marker naming
    * the tokenizer that cut it, written LAST (the same recorded-tokenizer
    * contract as [[BM25.write]], made crash-safe per piece); reopening
    * with a DIFFERENT tokenizer silently mismatching corpus postings
    * against query tokens is the wrong-results-with-no-error failure
    * class, so a piece whose marker is absent or names another tokenizer
    * is DISCARDED and its segment re-tokenizes under the configured
    * tokenizer (then re-persists, committing the new marker). There is
    * deliberately NO dir-level grandfathering: a dir-level stamp written
    * before a rewrite could leave old-tokenizer pieces under a matching
    * stamp after a crash, so marker-less pieces always rebuild. The
    * dir-level `_tokenizer` stamp survives as observability, written only
    * AFTER every segment is load-or-rewritten.
    *
    * @param segText  per-segment frame with `id` (+ `text` if present)
    * @param markers  the newest-wins/tombstone mask REDERIVED from the
    *                 store's own metadata (an instance in piece `seg` is
    *                 live iff `seg > upto(id)`); None when one segment and
    *                 no tombstones make masking vacuous
    *
    * Recovery cost: zero tokenization for persisted segments; one
    * vocab-sized df aggregation + one doc-lens stats pass over the live
    * views (no text scan) to rebuild the folded state — history-free,
    * so it is exact regardless of the mutation sequence that produced
    * the segments. */
  def reopen(spark: SparkSession, persistDir: String, segs: Seq[Long],
             segText: Long => DataFrame, markers: Option[DataFrame],
             tokenizer: Tokenize.Tokenizer = Tokenize.Simple): BM25Log = {
    val log = new BM25Log(spark, tokenizer, Some(persistDir))
    log.load(segs, segText, markers)
    PieceLog.writeSmallFile(spark,
      new org.apache.hadoop.fs.Path(s"$persistDir/_tokenizer"),
      tokName(tokenizer))
    log.refold()
    log
  }
}
