package graft.store

import graft.core.StoreLeg
import graft.filter.FilterGroup
import graft.hybrid.Hybrid
import graft.text.{BM25Corpus, BM25Log, Tokenize}
import graft.vector.{HnswLog, PqLog, VecLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's persistent hybrid store facade — ONE object owning the
  * LSM segment store plus the search state derived from it
  * (`/root/reference/storage.go:120-629`, docs/PERSISTENCE.md "API
  * Reference": Add / Remove / Flush / Compact / NewSearch / Close).
  *
  * Spark re-design: a document row carries `(id, vector?, text?, meta...)`
  * in one frame; [[append]] flushes a batch as an immutable segment
  * (micro-batch = memtable, so the reference's size-triggered rotation is
  * the streaming trigger's job); [[delete]] writes segment-scoped
  * tombstones; [[search]] serves the LIVE view (union minus tombstones,
  * newest-wins).
  *
  * Derived search state: the BM25 corpus is maintained INCREMENTALLY by a
  * [[graft.text.BM25Log]] — each append tokenizes only its batch into a
  * materialized per-segment postings piece, df/stats fold by delta — the
  * reference's O(1) incremental stats contract (bm25_index.go:327-334).
  * The log is seeded lazily at the first text search (one full-corpus
  * build, covering everything appended so far in one pass) and from then
  * on every mutation costs O(batch), not O(corpus). The vector leg
  * defaults to a lazy per-generation rebuild via `vectorIndexer` — the
  * reference's train-on-flush (PERSISTENCE.md VectorIndexTemplate) — or,
  * with `incrementalIvf`, to a [[graft.vector.VecLog]]: train ONCE,
  * assign-only per segment, markers for mutations (the reference's
  * Train-once contract, storage.go:321-347). The live/metadata frames
  * are lazy scans, rebuilt per generation at no materialized cost.
  *
  * At 100 TB: the live view is the audited SegmentStore.read shape
  * (map-side-combinable newest-wins, marker anti-join), appends never
  * re-shuffle the corpus, and every search reuses the materialized
  * postings pieces until a mutation invalidates the generation.
  *
  * @param autoCompactAt compact when the segment count reaches this
  *                      (the reference's CompactionThreshold, default 5,
  *                      storage.go:72-84); 0 disables
  * @param autoCompactBytes compact when [[SegmentStore.totalBytes]]
  *                      reaches this — the reference compacts on segment
  *                      count OR total size (storage.go:72-84); the check
  *                      is O(#files) (a directory listing, no data read).
  *                      0 disables
  * @param vectorIndexer how each generation's live vectors become the
  *                      hybrid's vector leg — the reference's
  *                      VectorIndexTemplate + Train (PERSISTENCE.md
  *                      StorageConfig): pass e.g.
  *                      `df => Hybrid.IvfLeg(Ivf.build(df, 4096))` to
  *                      serve from a trained index instead of the flat
  *                      scan default. Rebuilt lazily once per mutation
  *                      generation, like comet re-training on flush.
  * @param persistDerivedText when true (default), each segment's BM25
  *                      piece lands as parquet under `root/_text/seg=N`
  *                      the first time it is tokenized — the reference
  *                      flushes each segment as serialized index files
  *                      and loads them at search (storage.go:680-760);
  *                      reopening the store then seeds the text state
  *                      from the dirs with ZERO re-tokenization (only a
  *                      vocab-sized df fold). The dirs are a derived
  *                      cache: a missing or half-written piece falls
  *                      back to a rebuild from its segment's parquet.
  * @param incrementalIvf `Some((nlist, nprobe))` switches the vector leg
  *                      to INCREMENTAL maintenance ([[graft.vector
  *                      .VecLog]]): the k-means model trains ONCE (and
  *                      persists under `root/_vec/_model`, so a reopened
  *                      store never retrains — the reference's
  *                      Train-once contract, storage.go:321-347), each
  *                      segment becomes an assign-only piece at batch
  *                      cost, and mutations cost markers, not
  *                      re-training. `nprobe = 0` probes all lists
  *                      (exhaustive-exact). Overrides `vectorIndexer`,
  *                      whose retrain-per-generation behavior mirrors
  *                      the reference's train-on-flush and remains the
  *                      default.
  * @param incrementalHnsw switches the vector leg to an INCREMENTALLY
  *                      maintained HNSW graph ([[graft.vector.HnswLog]]):
  *                      seeded once per process from the live view, then
  *                      copy-on-write shard insertion per append,
  *                      soft-delete marks per delete, hard purge on
  *                      compaction — the reference's store template over
  *                      its lowest-latency index kind (storage.go:321-347
  *                      covers every VectorIndex). Mutually exclusive
  *                      with `incrementalIvf`; overrides `vectorIndexer`.
  * @param incrementalPq switches the vector leg to an INCREMENTALLY
  *                      maintained PQ-CODED state ([[graft.vector
  *                      .PqLog]]): codebooks (and, with `spec.opq`, the
  *                      learned rotation) train ONCE and persist under
  *                      `root/_pq/_model`, each segment becomes an
  *                      encode-only `(id, codes)` piece at batch cost —
  *                      M bytes per vector at rest, the reference's
  *                      flush-segments-as-serialized-indexes contract
  *                      (storage.go:680-760) over its quantized index
  *                      kind — and serving is ADC over the live codes
  *                      refined against the store's raw live vectors
  *                      ([[Pq.searchRefined]]; corpus-covering
  *                      `spec.refineFactor` ⇒ exhaustive-exact).
  *                      Mutually exclusive with the other incremental
  *                      legs; overrides `vectorIndexer`.
  */
final class HybridStore(spark: SparkSession, root: String,
                        cfg: Hybrid.Config = Hybrid.Config(),
                        tokenizer: Tokenize.Tokenizer = Tokenize.Simple,
                        autoCompactAt: Int = 0,
                        autoCompactBytes: Long = 0L,
                        lock: Boolean = false,
                        vectorIndexer: DataFrame => Hybrid.VectorLeg =
                          Hybrid.FlatLeg.apply,
                        persistDerivedText: Boolean = true,
                        incrementalIvf: Option[(Int, Int)] = None,
                        incrementalHnsw: Option[HybridStore.HnswSpec] = None,
                        ivfOpq: Boolean = false,
                        incrementalPq: Option[HybridStore.PqSpec] = None) {

  require(Seq(incrementalIvf, incrementalHnsw, incrementalPq)
      .count(_.nonEmpty) <= 1,
    "configure at most ONE incremental vector leg (IVF, HNSW, or PQ)")

  val store: SegmentStore =
    if (lock) SegmentStore.open(spark, root) else new SegmentStore(spark, root)

  // one generation of derived state: (live view, text corpus if any text,
  // vector leg if any vectors, metadata frame)
  @volatile private var state: Option[
    (DataFrame, Option[BM25Corpus], Option[Hybrid.VectorLeg], DataFrame)] = None

  // closed-state machine (storage_test.go:420-478: the second Close and
  // every Add/Search after Close must error, never silently no-op — a
  // closed store has released its writer lock, so writing through it
  // would race the next legitimate opener)
  @volatile private var closed = false

  /** True once [[close]] has run; every public operation throws after. */
  def isClosed: Boolean = closed

  private def ensureOpen(op: String): Unit =
    if (closed) throw new IllegalStateException(
      s"$op on a closed store at $root " +
        "(storage_test.go:445-478 use-after-close contract); " +
        "reopen with a new HybridStore")

  // Synchronization protocol (two locks, always lifecycle THEN mutex):
  //   - `lifecycle` read lock: held by EVERY operation (reads, searches,
  //     mutations) for its full duration, keeping the closed check atomic
  //     with the work — close() takes the WRITE lock, so it waits out
  //     in-flight operations and nothing can interleave with the writer
  //     LOCK release (the r16 close-race fix).
  //   - `mutex`: serializes mutations and derived-state (re)builds among
  //     THEMSELVES. Reads that find the state already built never touch
  //     it, so a search proceeds concurrently with a long append instead
  //     of blocking for the mutation's whole Spark job (the pre-r16 read
  //     concurrency, without reopening the close race — ADVICE r16 #2).
  //     A search overlapping a mutation serves the generation it found,
  //     per the documented generation-binding contract. SCOPE of that
  //     guarantee: appends/deletes never destroy data (segments are
  //     immutable, tombstones append-only; invalidate()'s unpersist only
  //     forces a recompute from parquet that still exists), so an
  //     overlapping read completes correctly. COMPACTION now RETIRES its
  //     source segment dirs behind SegmentStore's atomic manifest
  //     instead of deleting them (and durable leg pieces get the same
  //     one-cycle deferral), so a frame planned before a compaction
  //     still collects from the old generation — at 100 TB a compaction
  //     is always running somewhere, and reads must not fail under it.
  //     RETENTION is one compaction cycle: the NEXT compact (or close)
  //     vacuums the retired bytes, so a frame held across TWO
  //     compactions is out of retention and may fail on missing files —
  //     materialize such long-lived frames. Ephemeral (non-durable) leg
  //     state keeps the sharper pre-r18 contract: its collapse frees
  //     localCheckpoint blocks whose lineage is gone, so under
  //     ephemeral legs a frame must not be held across a compact at all.
  private val lifecycle =
    new java.util.concurrent.locks.ReentrantReadWriteLock()
  private val mutex = new Object

  private def sharedOp[T](op: String)(f: => T): T = {
    lifecycle.readLock().lock()
    try { ensureOpen(op); f } finally lifecycle.readLock().unlock()
  }

  // incrementally maintained derived state — the text log and at most
  // one incremental vector log, each attached at the first read that
  // sees its column, then updated per mutation at batch cost (never
  // rebuilt). Every mutation path fans out over this one list.
  @volatile private var legs: Vector[StoreLeg] = Vector.empty

  private def attached[L <: StoreLeg: scala.reflect.ClassTag]: Option[L] =
    legs.collectFirst { case l: L => l }

  /** The attached leg of type `L`, attaching `seed` on first use. */
  private def attach[L <: StoreLeg: scala.reflect.ClassTag](seed: => L): L =
    attached[L].getOrElse { val l = seed; legs :+= l; l }

  /** Fold a just-written segment into every attached leg — reading the
    * segment parquet back (cached, lineage-free) rather than
    * re-evaluating the caller's plan. Call under `mutex`. */
  private def fold(seg: Long): Unit = {
    val verdict = livenessVerdict(store.segment(seg).select(col("id")), seg)
    legs.foreach(_.append(store.segment(seg), seg, verdict))
    invalidate()
  }

  /** Fan a tombstone write out to every attached leg. Call under `mutex`. */
  private def foldDelete(ids: DataFrame): Unit = {
    val upto = store.segments().lastOption.getOrElse(-1L)
    val verdict = livenessVerdict(ids, excludeSeg = -1L)
    legs.foreach(_.delete(ids, upto, verdict))
    invalidate()
  }

  /** Segment `n`'s `id` (as long) plus column `c` when it has one — the
    * per-segment frame every leg's reopen reads. */
  private def segColumn(c: String)(n: Long): DataFrame = {
    val f = store.segment(n)
    if (f.columns.contains(c))
      f.select(col("id").cast("long").as("id"), col(c))
    else f.select(col("id").cast("long").as("id"))
  }

  private def invalidate(): Unit = mutex.synchronized {
    state.foreach { case (live, _, _, _) => live.unpersist() }
    state = None
  }

  /** ONE shared liveness probe per mutation (VERDICT r15): with several
    * incremental legs attached, each leg's marker maintenance used to
    * pay its own `limit(1)` probe job per append/delete. The facade now
    * answers the question once — "does any of these ids have an
    * instance in another store segment?" — and hands the verdict to
    * every df-marker leg.
    *
    *   - `Some(false)` is EXACT: raw segment ids are a superset of
    *     every leg's live view, so nothing can need masking; each leg
    *     skips with zero further jobs (the append-only fast path).
    *   - `Some(true)` is a SUPERSET verdict: the instance found may be
    *     masked (tombstoned/replaced) or lack this leg's modality, so a
    *     leg may write a marker that masks nothing — harmless (markers
    *     only act on matching piece rows from segments <= upto) and
    *     bounded by the mutation batch.
    *   - `None` when no leg would consume a shared verdict
    *     ([[StoreLeg.wantsVerdict]]: e.g. only the text log attached,
    *     whose one probe job is also its stats delta and runs
    *     regardless of a true verdict) — the legs then
    *     keep their own probes, so a single-leg store never pays an
    *     EXTRA job for the sharing machinery.
    *
    * Per-mutation cost is BOUNDED, not linear in segment count (VERDICT
    * r16 #3 — the old probe unioned one scan per segment per mutation):
    *   1. the mutation batch's id range meets each segment's cached
    *      (min,max) id range ([[SegmentStore.idRange]] — one tiny agg
    *      per segment EVER, segments are immutable); segments whose
    *      range cannot intersect the batch are pruned without a scan.
    *      An append-only history with non-overlapping ids (monotonic
    *      ids — the common ingest shape) probes ZERO segments forever.
    *   2. surviving candidates are probed with AT MOST TWO plans: the
    *      newest [[probeChunkSegs]] first (a replacement/delete of
    *      recent ids answers from this one small early-exiting scan),
    *      then — only on a miss — one union plan over every remaining
    *      candidate. A true-`false` over an unprunable history must
    *      read every candidate (irreducible work), but it costs one
    *      wide job, never a per-chunk job chain.
    *
    * All probe work (the range aggs included) runs under job group
    * `graft.liveness-probe`, so specs and operators can attribute it
    * via `sc.statusTracker.getJobIdsForGroup`. Call under `mutex`. */
  // probe invocations (NOT Spark jobs — AQE may split one probe into
  // several, and a range-pruned probe runs none); exactly one per
  // mutation once a df-marker vector leg is attached, regardless of how
  // many legs consume the verdict
  private[graft] var livenessProbeCount: Long = 0L
  // cumulative count of segments actually SCANNED by probes (the
  // flat-cost observable: stays 0 on range-disjoint append-only
  // histories, <= one chunk per early-exiting hit)
  private[graft] var livenessSegmentsProbed: Long = 0L
  // cumulative count of probe PLANS executed (the per-mutation bound:
  // at most 2 — newest chunk, then the one union over the remainder —
  // no matter how adversarial the id layout)
  private[graft] var livenessProbePlans: Long = 0L
  private[graft] val probeChunkSegs = 16

  private def livenessVerdict(ids: => DataFrame,
                              excludeSeg: Long): Option[Boolean] = {
    if (!legs.exists(_.wantsVerdict)) return None
    val segs = store.segments().filterNot(_ == excludeSeg)
    if (segs.isEmpty) return Some(false)
    livenessProbeCount += 1
    val sc = spark.sparkContext
    // save/RESTORE the caller's job group instead of clearing it: inside
    // sink()'s foreachBatch this thread carries the StreamExecution's
    // runId group (interruptOnCancel=true) — clearJobGroup() would erase
    // it for every job after the first fold, so query.stop() could no
    // longer interrupt the batch and UI attribution would be lost
    val prevId = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup("graft.liveness-probe",
      "shared store liveness probe (one per mutation)",
      interruptOnCancel = false)
    try {
      // the batch's id range: for an append the batch IS the excluded
      // segment (cached range, one agg ever); for a delete, one agg over
      // the (batch-sized) id frame
      val batchRange: Option[(Long, Long)] =
        if (excludeSeg >= 0L) store.idRange(excludeSeg)
        else {
          val r = ids.agg(min(col("id").cast("long")).as("lo"),
            max(col("id").cast("long")).as("hi")).head()
          if (r.isNullAt(0)) return Some(false) // empty mutation
          Some((r.getLong(0), r.getLong(1)))
        }
      val ranges = store.idRanges(segs)
      val candidates = batchRange match {
        case Some((lo, hi)) => segs.filter(n => ranges.get(n) match {
          case Some((slo, shi)) => slo <= hi && lo <= shi
          case None => true // unprunable segment stays a candidate
        })
        case None => segs
      }
      if (candidates.isEmpty) return Some(false) // range-pruned: exact
      val idsNorm = ids.select(col("id").cast("long").as("id")).distinct()
      val multi = candidates.size > probeChunkSegs
      if (multi) idsNorm.persist() // reused across both probe plans
      try {
        // Per-mutation probe plans are bounded at TWO (ADVICE r17 #2 /
        // r17 ask #5): the newest chunk first — recency answers the
        // common replacement/delete-of-recent-ids shape with one small
        // early-exiting plan — then, on a miss, ONE union plan over
        // every remaining candidate. The miss path (a delete of absent
        // ids whose range overlaps everything) must read every
        // candidate to answer an honest `false`; that linear WORK is
        // irreducible, but it runs as a single wide Spark job with a
        // `limit(1)` early exit instead of ceil(n/16) serial jobs.
        // the fallback plan unions EVERY remaining candidate — built
        // BALANCED so a thousands-of-segments history (auto-compaction
        // off) analyzes in O(n log n) and never overflows the driver
        // stack, while staying ONE plan (ADVICE r18 #4)
        def probe(ns: Seq[Long]): Boolean = {
          livenessProbePlans += 1
          livenessSegmentsProbed += ns.size
          graft.core.Frames.balancedUnion(ns.map(n => store.segment(n)
              .select(col("id").cast("long").as("id"))))
            .join(idsNorm, Seq("id"), "left_semi")
            .limit(1).count() > 0
        }
        val (newest, rest) = candidates.sortBy(-_).splitAt(probeChunkSegs)
        Some(probe(newest) || (rest.nonEmpty && probe(rest)))
      } finally { if (multi) { idsNorm.unpersist(); () } }
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prevId)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
  }

  /** Append one batch (unique ids within the batch; re-appending a live
    * id REPLACES it — newest segment wins, the memtable update contract).
    * Schema: `id` plus any of `vector` (array&lt;float&gt;), `text`
    * (string), and metadata columns. */
  def append(docs: DataFrame): Long =
      sharedOp("append") { mutex.synchronized {
    // the lifecycle read lock spans the whole mutation — the closed
    // check and the segment write must be atomic against close(), or a
    // concurrent close could release the writer lock mid-append and this
    // write would land in a store another process legitimately owns (the
    // exact race the closed-state contract exists to prevent). `mutex`
    // serializes mutations among themselves WITHOUT blocking concurrent
    // searches (see the protocol note above).
    val seg = store.append(docs)
    fold(seg)
    // both locks are reentrant, so the nested compact() re-enters cleanly
    maybeCompact()
    seg
  } }

  /** Remove by id: segment-scoped delete markers — a later re-append is
    * live again (storage_memtable_test.go:153-175 semantics). */
  def delete(ids: Seq[Long]): Unit =
      sharedOp("delete") { mutex.synchronized {
    store.delete(ids)
    import spark.implicits._
    foldDelete(ids.toDF("id"))
  } }

  def deleteFrom(ids: DataFrame): Unit =
      sharedOp("deleteFrom") { mutex.synchronized {
    // Normalize and MATERIALIZE the id set once (ADVICE r17 #1): the
    // caller's plan is arbitrary and may be nondeterministic, while this
    // mutation evaluates it several times — the tombstone write, the
    // probe's range agg, the probe semi-joins, and every leg's marker.
    // Divergent evaluations could let the range prune answer an exact
    // Some(false) for a range that excludes the ids another evaluation
    // actually masks. One persisted snapshot feeds them all; every leg
    // eagerly checkpoints its own marker state before this returns, so
    // the unpersist leaves no live reference.
    val idsN = ids.select(col("id").cast("long").as("id"))
      .distinct().persist()
    try {
      idsN.count() // pin the snapshot before anything consumes it
      store.deleteFrom(idsN)
      foldDelete(idsN)
    } finally { idsN.unpersist(); () }
  } }

  /** Real compaction: live view rewritten into one segment, tombstones
    * consumed.
    *
    * CONTRACT: compaction RETIRES the source segment directories (and
    * each durable leg's superseded piece dirs) without deleting them —
    * a DataFrame obtained from [[read]]/[[search]] BEFORE the compaction
    * still collects from the old generation. Retention is ONE compaction
    * cycle: the next [[compact]] (or [[close]]) vacuums retired bytes,
    * so a frame held across two compactions may fail on missing files —
    * materialize (collect/checkpoint) frames you keep that long. The
    * reference binds a Search handle to the store generation it was
    * opened on (storage.go:489-543); this is that contract with a
    * one-generation grace window. */
  def compact(): Long =
      sharedOp("compact") { mutex.synchronized {
    val t0 = System.nanoTime()
    val s = store.compact()
    // collapse the derived logs' pieces into one, tagged with the
    // compacted segment — O(live corpus), amortized into the compaction.
    // Per-leg wall time is recorded in [[lastCompactSecs]] so operators
    // can see where a slow compaction went.
    val split = scala.collection.mutable.LinkedHashMap(
      "store" -> (System.nanoTime() - t0) / 1e9)
    def timed(leg: String)(f: => Unit): Unit = {
      val t = System.nanoTime()
      f
      split += leg -> (System.nanoTime() - t) / 1e9
    }
    // (a persisted HNSW graph is also written in its collapse, riding
    // the O(live) rewrite the compaction already pays)
    legs.foreach(l => timed(l.name)(l.collapse(s)))
    lastCompactSecs = split.toMap
    invalidate()
    s
  } }

  /** Wall-time split of the most recent [[compact]]: the segment-store
    * rewrite plus one entry per attached derived-state leg
    * (observability for probes/operators; empty before any compact). */
  @volatile private[graft] var lastCompactSecs: Map[String, Double] =
    Map.empty

  /** True when a compaction trigger is met: segment count
    * (`autoCompactAt`) OR total live bytes (`autoCompactBytes`) — the
    * reference's dual threshold (storage.go:72-84). */
  def compactionDue(): Boolean =
    (autoCompactAt > 0 && store.segments().size >= autoCompactAt) ||
      (autoCompactBytes > 0L && store.totalBytes() >= autoCompactBytes)

  /** Compact iff a trigger is met. [[append]] calls this synchronously
    * (batch callers want the store bounded after every mutation); a
    * streaming ingest instead defers it OFF the per-batch path — see
    * [[sink]] — mirroring the reference's background compaction worker
    * (storage.go:821-847). Callers running their own scheduler can poll
    * this directly; the trigger check reads only directory metadata. */
  def maybeCompact(): Option[Long] =
    if (compactionDue()) Some(compact()) else None

  private def current():
      (DataFrame, Option[BM25Corpus], Option[Hybrid.VectorLeg], DataFrame) =
    sharedOp("read/search") {
      // fast path OUTSIDE the mutation mutex: a built generation serves
      // reads concurrently with an in-flight append/compact (`state` is
      // volatile; the overlapping search is bound to the generation it
      // found, per the documented contract). Only a missing generation
      // takes the mutex to (re)build the derived state.
      state.getOrElse { mutex.synchronized { state.getOrElse {
        // segment horizon listed BEFORE the live view (see the HnswLog
        // seeding note below)
        val segsAtRead = store.segments()
        val live = store.read().persist()
        val cols = live.columns.toSet
        // seed each incremental log once; afterwards
        // append/delete/compact maintain it at batch cost. With
        // persistence on, segments whose pieces were written by a
        // previous process load WITHOUT re-tokenization or re-encoding
        val corpus =
          if (cols("text")) Some(attach(seedLog(live)).corpus) else None
        val leg =
          if (cols("vector")) Some(vectorLeg(live, segsAtRead)) else None
        val metaCols = live.columns.filter(c => c != "vector" && c != "text")
        val s = (live, corpus, leg,
          live.select(metaCols.toIndexedSeq.map(col): _*))
        state = Some(s)
        s
      } } }
    }

  /** Seed the text log: with persistence, per-segment via
    * [[BM25Log.reopen]] (durable pieces load; missing ones tokenize and
    * persist); without, one build over the resolved live view. */
  private def seedLog(live: DataFrame): BM25Log =
    if (persistDerivedText) {
      val segs = store.segments()
      BM25Log.reopen(spark, s"$root/_text", segs, segColumn("text"),
        reopenMarkers(segs), tokenizer)
    } else BM25Log.fromLive(
      live.filter(col("text").isNotNull).select("id", "text"),
      store.segments().lastOption.getOrElse(0L), tokenizer)

  /** This generation's vector leg: the configured incremental log
    * (attached on first use), else `vectorIndexer` over the live vectors.
    * `segsAtRead` is the segment horizon listed BEFORE `live` resolved. */
  private def vectorLeg(live: DataFrame,
                        segsAtRead: Seq[Long]): Hybrid.VectorLeg = {
    def liveVec = live.filter(col("vector").isNotNull).select("id", "vector")
    (incrementalHnsw, incrementalIvf, incrementalPq) match {
      case (Some(spec), _, _) =>
        // load the persisted graph + replay post-close mutations when an
        // artifact exists (persist=true stores write one at compact and
        // close); otherwise seed ONCE per process from the live view,
        // routed shards. Afterwards every mutation folds copy-on-write.
        //
        // The folded horizon must be listed BEFORE the live view: a
        // concurrent append can land a segment between the two, and
        // stamping it folded while the graph was built without its
        // vectors would silently lose it (the late fold would no-op).
        // Listing FIRST errs the safe way — the graph may already
        // contain the newer segment's vectors, and its writer's fold
        // then re-adds them as in-place replacements.
        val log = attach {
          val segs = segsAtRead
          val nShards = spark.sparkContext.defaultParallelism
          val l =
            if (spec.persist)
              HnswLog.reopen(spark, s"$root/_hnsw", segs,
                segColumn("vector"), deadVectorIds(segs), liveVec, nShards,
                m = spec.m, efConstruction = spec.efConstruction,
                metric = cfg.metric)
            else HnswLog.seed(liveVec, segs, nShards, m = spec.m,
              efConstruction = spec.efConstruction, metric = cfg.metric)
          // persistence also bounds crash recovery for long-streaming
          // stores that never hit a compaction trigger: the graph dumps
          // every 16th fold, riding the checkpoint cadence
          if (spec.persist) l.enableAutoPersist(spark, s"$root/_hnsw")
          l
        }
        Hybrid.HnswLeg(log.index, spec.efSearch)
      case (_, Some((nlist, nprobe)), _) =>
        // train-once + assign-only maintenance; the model persists with
        // the pieces, so a reopened store never retrains. The leg trains
        // (and assigns every piece) in the store's configured metric
        // space — without this a cosine-configured store would silently
        // serve L2 centroids over unnormalized vectors
        val log = attach(VecLog.reopen(spark, s"$root/_vec",
          store.segments(), segColumn("vector"),
          reopenMarkers(store.segments()), liveVec, nlist,
          metric = cfg.metric, opq = ivfOpq))
        Hybrid.IvfLeg(log.index, nprobe)
      case (_, _, Some(spec)) =>
        // train-once codebooks + encode-only maintenance; model and
        // pieces persist under root/_pq (and the reopen guard matrix
        // throws on metric/OPQ/routing codebook-state mismatch)
        val log = attach(PqLog.reopen(spark, s"$root/_pq",
          store.segments(), segColumn("vector"),
          reopenMarkers(store.segments()), liveVec,
          m = spec.m, ksub = spec.ksub, maxIter = spec.maxIter,
          metric = cfg.metric, opq = spec.opq, nlist = spec.nlist))
        // refine reads raw vectors from the LIVE view — the vectors the
        // codes were built from stay in the segment parquet (compression
        // at rest; the refine join is broadcast-semi-join-pruned to
        // q·k·refineFactor rows)
        if (spec.nlist > 0)
          // routed: probed-list residual ADC + refine — the per-query
          // scan touches nprobe/nlist of the codes
          Hybrid.IvfPqRefinedLeg(log.ivfPqIndex, liveVec,
            spec.refineFactor, spec.nprobe)
        else
          Hybrid.PqRefinedLeg(log.liveCodes, log.model, liveVec,
            spec.refineFactor)
      case _ => vectorIndexer(liveVec)
    }
  }

  /** The newest-wins/tombstone mask REDERIVED from store metadata for a
    * reopened log: only ids with more than one instance or a tombstone
    * can mask anything — everything else stays out of the marker table
    * (and the common compacted single-segment store needs none at all). */
  private def reopenMarkers(segs: Seq[Long]): Option[DataFrame] = {
    val tomb = store.tombstones()
    if (segs.size <= 1 && tomb.isEmpty) return None
    val winners = graft.core.Frames.balancedUnion(segs.map(n => store.segment(n)
        .select(col("id").cast("long").as("id")).withColumn("_s", lit(n))))
      .groupBy(col("id"))
      .agg(max(col("_s")).as("win"), count(lit(1)).as("c"))
    val m = tomb match {
      case Some(t) => winners.join(t, Seq("id"), "left")
        .filter(col("c") > 1 || col("upto").isNotNull)
        .select(col("id"), greatest(col("win") - 1,
          coalesce(col("upto"), lit(-1L))).as("upto"))
      case None => winners.filter(col("c") > 1)
        .select(col("id"), (col("win") - 1).as("upto"))
    }
    if (m.isEmpty) None else Some(m)
  }

  /** Ids whose WINNING store instance is masked by a tombstone — the
    * graph nodes a reopened [[graft.vector.HnswLog]] must soft-delete.
    * Rederived from store metadata (winner = newest segment holding the
    * id; dead iff `upto >= winner`), so it is exact regardless of which
    * process performed the deletes; bounded by the tombstoned-id count
    * (compaction consumes it). */
  private def deadVectorIds(segs: Seq[Long]): Seq[Long] =
    store.tombstones() match {
      case None => Seq.empty
      case Some(t) =>
        if (segs.isEmpty) Seq.empty
        else graft.core.Frames.balancedUnion(segs.map(n => store.segment(n)
            .select(col("id").cast("long").as("id"))
            // only tombstoned ids can be dead — semi-join each segment's
            // id column BEFORE the union so the winner aggregation is
            // bounded by the tombstone count, never the corpus
            .join(t.select(col("id")), Seq("id"), "left_semi")
            .withColumn("_s", lit(n))))
          .groupBy(col("id")).agg(max(col("_s")).as("win"))
          .join(t, Seq("id"))
          .filter(col("upto") >= col("win"))
          .select(col("id")).collect().map(_.getLong(0)).toSeq
    }

  /** The live document view (for callers composing their own plans). */
  def read(): DataFrame = current()._1

  /** The incrementally maintained BM25 corpus over the live text (None
    * until a text search has seeded the log). For callers composing
    * custom text plans against the store's state. */
  def textCorpus: Option[BM25Corpus] =
    mutex.synchronized { attached[BM25Log].map(_.corpus) }

  /** Embedded single-box serving of the CURRENT generation: collects the
    * live metadata/vectors/corpus into an in-process
    * [[Hybrid.LocalHybrid]] — the reference's own deployment model (an
    * open store IS the serving index; it answers searches in-process,
    * storage.go:489-543). Modalities are OPTIONAL — vector-only,
    * text-only, and metadata-only stores all serve. The handle is bound
    * to the generation it was built from, like every frame from
    * [[read]]/[[search]] — re-call after a mutation. */
  def serve(): Hybrid.LocalHybrid = {
    val (live, corpus, leg, meta) = current()
    // no modality require: a METADATA-ONLY store serves embedded too —
    // the reference round-trips a legal 'metadata only' index
    // (hybrid_search_index_test.go:868-946) and the distributed path
    // already scores filters-only queries 1.0 (Hybrid.searchWith's
    // no-modality branch); the embedded handle mirrors it exactly
    // (ADVICE r16 #1)
    // the embedded vector leg follows the STORE's configured leg, like
    // the reference serving through whatever VectorIndexTemplate the
    // store holds (storage.go:489-543) — and like the distributed
    // [[search]] path, so both paths answer in the same score/recall
    // regime per configuration:
    //  - HNSW leg: the log's graph is ALREADY resident in this JVM —
    //    reuse it instead of collecting an O(corpus·dim) raw-vector
    //    copy next to it (at 10M × 64-dim that copy is 2.5 GB the
    //    graph serving never touches); beam-approximate, exact
    //    distances, the distributed HnswLeg's semantics.
    //  - IVF leg (VecLog): probed-list embedded scan over the leg's own
    //    index — row-for-row equal to the distributed Ivf.search
    //    (IvfServeSpec), at the leg's configured nprobe.
    //  - PQ legs and flat: serve EXACT from the raw vectors. This is
    //    deliberate for the quantized legs: their distributed search
    //    reports exact REFINED distances, and exact refine needs the
    //    raw vectors resident anyway — a flat scan over those same
    //    vectors is exact at equal memory, so quantized codes buy
    //    compression AT REST, not in the embedded heap.
    // modalities are OPTIONAL, like the distributed search surface: a
    // vector-only store serves without text, a text-only store without
    // vectors (the reference's store round-trips nil sub-indexes,
    // hybrid_search_index_test.go:868-946)
    // the HNSW leg exposes its distance-eval counter through the handle
    // (LocalHybrid.vecDistEvals), a per-query work count that host load
    // does not move
    var vecWork: () => Long = null
    val vecSearch:
        Option[(Array[Float], Int, Long => Boolean) => Seq[(Long, Double)]] =
      if (!live.columns.contains("vector")) None
      else leg match {
        case Some(Hybrid.HnswLeg(idx, ef)) =>
          require(cfg.metric == idx.metric,
            s"hybrid metric ${cfg.metric} != HNSW index metric ${idx.metric}")
          val serving = graft.vector.Hnsw.serve(idx)
          val efEff = if (ef > 0) ef else graft.vector.Hnsw.DefaultEfSearch
          vecWork = () => serving.distEvals
          Some((q, k, pred) => serving.search(q, k, efEff, pred))
        case Some(Hybrid.IvfLeg(idx, np))
            if idx.metric == graft.vector.Metric.L2 ||
               idx.metric == graft.vector.Metric.Cosine =>
          // the SAME compatibility rule object as the distributed IvfLeg
          // path — unreachable today (legs are built with cfg.metric and
          // VecLog verifies the artifact metric) but a future leg source
          // must fail fast HERE too, not silently fuse two score spaces
          // (ADVICE r16 #4); sharing the helper keeps the two dispatch
          // paths from drifting
          Hybrid.requireIvfMetricCompatible(idx.metric, cfg.metric)
          val local = graft.vector.IvfServe.serve(idx)
          val npEff = if (np <= 0) idx.model.k else np
          Some((q, k, pred) => local.search(q, k, npEff, pred))
        // an IVF leg under a metric the embedded scan does not pack
        // (CosinePreNorm) serves EXACT from the raw vectors instead of
        // throwing — a superset answer in the same score space (the
        // pre-dispatch serve() behavior for every leg)
        case _ =>
          val vectors = live.filter(col("vector").isNotNull)
            .select("id", "vector")
          val flat = cfg.metric match {
            case graft.vector.Metric.L2 =>
              graft.vector.FlatKnn.serve(vectors)
            case graft.vector.Metric.Cosine =>
              graft.vector.FlatKnn.serveCosine(vectors)
            case graft.vector.Metric.CosinePreNorm =>
              graft.vector.FlatKnn.servePreNorm(vectors)
            case other => throw new IllegalArgumentException(
              s"embedded hybrid serving supports L2 and cosine, not $other")
          }
          Some((q, k, pred) => flat.search(q, k, pred))
      }
    Hybrid.serveModal(meta, vecSearch, corpus, cfg, vecWork)
  }

  // observability for specs/probes: how many materialized postings pieces
  // the log currently carries (1 after seed/collapse, +1 per text append)
  private[graft] def textLogPieces: Int =
    mutex.synchronized { attached[BM25Log].map(_.pieceCount).getOrElse(0) }

  private[graft] def vecLogPieces: Int =
    mutex.synchronized { attached[VecLog].map(_.pieceCount).getOrElse(0) }

  // the incremental PQ log, once seeded (probes measure recall/serving
  // through the same index object the facade serves from)
  private[graft] def pqLogHandle: Option[PqLog] =
    mutex.synchronized { attached[PqLog] }

  // marker-table row counts across the df-marker legs (append-only
  // histories keep all three at zero — the shared-probe contract)
  private[graft] def legMarkerRows: Map[String, Long] = mutex.synchronized {
    Map("text" -> 0L, "vec" -> 0L, "pq" -> 0L) ++
      legs.collect { case l: graft.core.PieceLog => l.name -> l.markerRows }
  }

  private[graft] def hnswLogFolded: Int =
    mutex.synchronized { attached[HnswLog].map(_.foldedCount).getOrElse(0) }

  private[graft] def hnswLogLoaded: Boolean =
    mutex.synchronized { attached[HnswLog].exists(_.loadedFromArtifact) }

  /** True when this store's HNSW leg discarded a persisted artifact over
    * a metric mismatch and paid a full re-seed — a store-level signal
    * (beyond the slf4j warn) that repeats on every open of a
    * MISCONFIGURED store until a persist overwrites the artifact;
    * process-wide tally in [[graft.vector.HnswLog.metricReseeds]]. */
  def hnswMetricReseeded: Boolean =
    mutex.synchronized { attached[HnswLog].exists(_.reseededForMetric) }

  /** Hybrid Execute over the live view — filters against the metadata
    * columns, vector/text legs against the stored modalities, fused per
    * `cfg` (comet's PersistentHybridIndex search, storage.go:489-629).
    *
    * @param vecThreshold   distance cutoff on the vector modality (the
    *                       reference's WithThreshold, storage.go:449-453;
    *                       rejected for descending metrics)
    * @param modalityCutoff autocut applied PER MODALITY before fusion
    *                       (WithCutoff, storage.go:461-465 — the
    *                       reference passes it into each sub-search and
    *                       never autocuts the fused list); -1 disables
    * @param queryNodes     node-based vector legs ("more like this")
    *                       through the same search surface — the
    *                       reference's store delegates the full option
    *                       set including WithNode (storage.go:489-543).
    *                       Ids resolve to their STORED vectors in the
    *                       LIVE view (newest-wins, tombstones applied);
    *                       an absent, deleted, or vector-less id is an
    *                       ERROR, not a silent skip
    *                       (flat_index_search.go:182-191). Resolved
    *                       nodes ride the existing multi-query path
    *                       (per-query top-k, then `cfg.scoreAgg`
    *                       combine per modality BEFORE fusion). */
  def search(filters: Seq[FilterGroup] = Seq.empty,
             queryVec: Option[DataFrame] = None,
             queryText: Option[String] = None,
             vecThreshold: Option[Double] = None,
             modalityCutoff: Int = -1,
             queryTexts: Seq[String] = Seq.empty,
             queryNodes: Seq[Long] = Seq.empty): DataFrame = {
    val (live, corpus, leg, meta) = current()
    val nodeQ: Option[DataFrame] = if (queryNodes.isEmpty) None else {
      require(queryNodes.forall(_ >= 0),
        "node ids live in the uint32 id space (node.go:7) and are never " +
          "negative; negative synthetic query ids rely on this")
      require(live.columns.contains("vector"),
        "node-based search requires a 'vector' column in the store")
      // bounded by the node-id list (the reference's WithNode contract);
      // one collect covers resolution AND the missing-id check
      val rows = live
        .filter(col("id").isin(queryNodes: _*) && col("vector").isNotNull)
        .select(col("id").cast("long").as("qid"), col("vector").as("qvec"))
        .collect()
      val found = rows.map(_.getLong(0)).toSet
      val missing = queryNodes.filterNot(found)
      require(missing.isEmpty,
        s"node ids not found in store (or deleted, or vector-less): " +
          missing.mkString(", "))
      import spark.implicits._
      Some(rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        .toDF("qid", "qvec"))
    }
    val qv = (queryVec, nodeQ) match {
      case (Some(direct), Some(nq)) =>
        // direct qids remap to per-row NEGATIVE synthetics so they cannot
        // collide with the non-negative node-id space (the VectorSearch
        // convention); qid never surfaces in the fused output
        val d = direct
          .select((-monotonically_increasing_id() - 1).as("qid"),
            col("qvec"))
        Some(d.unionByName(nq))
      case (d, nq) => d.orElse(nq)
    }
    require(qv.isEmpty || leg.nonEmpty,
      "vector query configured but no 'vector' column has been appended")
    require((queryText.isEmpty && queryTexts.isEmpty) || corpus.nonEmpty,
      "text query configured but no 'text' column has been appended")
    Hybrid.searchWith(meta, filters, leg.filter(_ => qv.nonEmpty),
      qv, corpus, queryText, cfg, vecThreshold = vecThreshold,
      modalityCutoff = modalityCutoff, queryTexts = queryTexts)
  }

  /** Streaming ingest into this store: each micro-batch flushes as one
    * segment (memtable = micro-batch), and the derived search state
    * invalidates after every non-empty batch so the next [[search]]
    * serves the newly ingested documents — comet's Add-on-live-store
    * behavior (storage.go:367-450) under Structured Streaming's delivery
    * model. Dedup/watermark the stream upstream (e.g.
    * `Ingest.dedupStream`) before sinking; a segment assumes unique ids
    * within the batch.
    *
    * Compaction runs AFTER the stream drains, never inside the
    * micro-batch callback: a synchronous compaction there would make one
    * batch pay a full live-view rewrite before the stream advances — a
    * latency cliff on the ingest path. The reference runs compaction on
    * a background worker (storage.go:821-847); under
    * `Trigger.AvailableNow` the equivalent is drain-then-compact, so
    * `sink` blocks until the backlog is consumed, runs [[maybeCompact]]
    * once, and returns the (terminated) query. Per-batch work stays
    * bounded by the batch itself regardless of how many segments
    * accumulate mid-stream. */
  def sink(stream: DataFrame, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    ensureOpen("sink")
    val query = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try {
          // append WITHOUT the auto-compact check: segments land at batch
          // cost, compaction is deferred to post-drain below. The whole
          // batch write holds the lifecycle read lock with a closed
          // re-check, same atomicity rule as append(): sink() itself
          // blocks until the drain, but a concurrent close() from another
          // thread must never interleave with a batch around the lock
          // release (and concurrent searches stay unblocked — mutex)
          if (b.count() > 0) sharedOp("sink batch") { mutex.synchronized {
            // incremental folds (only once a search has seeded the
            // logs) — per-batch cost stays bounded by the batch
            fold(store.append(b))
          } }
        } finally { b.unpersist(); () }
      }
      .start()
    query.awaitTermination()
    maybeCompact()
    query
  }

  /** Release cached frames (and the writer lock if held). The BM25 log's
    * checkpointed blocks are dropped by the context cleaner once
    * unreferenced; the durable source of truth is the segment parquet.
    *
    * CONTRACT (storage_test.go:360-478): close is durable (no separate
    * flush step is required first), the SECOND close throws, and every
    * operation after close throws. Frames handed out by [[read]]/
    * [[search]] before the close are bound to the open store — close
    * frees the derived logs' checkpointed blocks, so collect results
    * BEFORE closing (the same generation-binding rule as [[compact]]). */
  def close(): Unit = {
    // the lifecycle WRITE lock: waits out every in-flight operation
    // (they all hold the read lock end to end), then excludes new ones —
    // nothing can interleave with the writer-LOCK release below
    lifecycle.writeLock().lock()
    try mutex.synchronized {
      // storage_test.go:420-443: the second Close is an error — the
      // first already released the writer lock, so a silent second close
      // would mask a lifecycle bug in the caller (e.g. two owners both
      // believing they hold the store)
      if (closed) throw new IllegalStateException(
        s"store at $root is already closed (CloseTwice contract, " +
          "storage_test.go:420-443)")
      closed = true
      // EVERY leg's release runs even when an earlier one throws: closed
      // is already latched, so no retry could reach a skipped leg's
      // checkpointed blocks (or its graph persist). The first failure
      // rethrows with the rest suppressed; the writer LOCK is freed
      // last regardless (a held lock would brick the store for every
      // future opener). A WRITER close also vacuums the legs'
      // collapse-superseded piece dirs, as SegmentStore.close vacuums
      // retired segments; readers never delete shared bytes.
      val vac = store.isWriter
      val steps = legs.map(l =>
        s"${l.name} release" -> (() => l.release(vac)))
      legs = Vector.empty
      // the writer LOCK must be freed for EVERY throwable, fatal ones
      // included (runAllSteps deliberately lets an InterruptedException
      // fly immediately — but closed is latched, so without this finally
      // a cancellation mid-release would hold the on-disk LOCK forever)
      try HybridStore.runAllSteps(steps)
      finally { try invalidate() finally store.close() }
    } finally lifecycle.writeLock().unlock()
  }
}

object HybridStore {
  /** Run EVERY step even when earlier ones throw, then rethrow the FIRST
    * failure with the rest attached as suppressed — the close() teardown
    * rule (a resource-release sequence must never let one failing leg
    * leak the others; see close()'s doc). Each failure carries a
    * suppressed marker naming its step, so a disk-full close says WHICH
    * teardown leg failed without changing the thrown type. Fatal errors
    * (OOM, interrupt) propagate immediately — close()'s own finally
    * still frees the writer LOCK in that case. */
  private[graft] def runAllSteps(steps: Seq[(String, () => Unit)]): Unit = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    steps.foreach { case (name, f) =>
      try f() catch {
        case scala.util.control.NonFatal(t) =>
          t.addSuppressed(new IllegalStateException(
            s"while running close step '$name'"))
          errs += t
      }
    }
    errs.headOption.foreach { first =>
      errs.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Build/search parameters for the incremental HNSW vector leg
    * (`incrementalHnsw`): `m`/`efConstruction` shape the graph at seed
    * and insert time, `efSearch` is the per-search beam the leg serves
    * with, the total across the graph's shards (each shard searches its
    * share, `Hnsw.shardBeam`). With `persist` (default), the mutated
    * graph is written under `root/_hnsw` at [[HybridStore.close]] AND
    * after every [[HybridStore.compact]] (amortized into the rewrite the
    * compaction already pays), so the next process reopens by loading +
    * replaying only post-persist mutations instead of re-running the seed
    * build — even after a crash, as long as one compaction had landed. */
  final case class HnswSpec(m: Int = 16, efConstruction: Int = 200,
                            efSearch: Int = graft.vector.Hnsw.DefaultEfSearch,
                            persist: Boolean = true)

  /** Build/search parameters for the incremental PQ vector leg
    * (`incrementalPq`): `m`/`ksub` shape the codebooks at the ONE train
    * (`m = 0` → [[graft.vector.Pq.defaultParams]] from the corpus dim;
    * both apply only when no persisted model exists — the artifact is
    * authoritative on reopen), `opq` composes a learned rotation into
    * train/encode/query ([[graft.vector.Pq.trainOpq]]), and
    * `refineFactor` is the served leg's exact-re-rank width: ADC keeps
    * `k·refineFactor` candidates per query, raw-vector re-rank returns
    * the true top-k among them. A corpus-covering factor makes the leg
    * exhaustive-exact (the oracle configuration); production keeps it
    * small (4–16) so the corpus is touched only through the M-byte
    * codes. */
  final case class PqSpec(m: Int = 0, ksub: Int = 256,
                          maxIter: Int = 20, refineFactor: Int = 4,
                          opq: Boolean = false,
                          // nlist > 0 routes the leg through a coarse
                          // quantizer (the IVFPQ composition): codes
                          // become residuals, serving probes only nprobe
                          // lists — O(corpus/nlist) per query instead of
                          // the unrouted leg's full code scan. Routing
                          // is codebook state: flipping it on an
                          // existing store throws at reopen (the guard
                          // matrix), like metric or opq. nlist's VALUE
                          // is artifact-authoritative after first train.
                          nlist: Int = 0, nprobe: Int = 8)
}
