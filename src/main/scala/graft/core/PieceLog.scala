package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One derived-state leg of a store facade ([[graft.store.HybridStore]]):
  * the facade fans every mutation out to its legs through this trait.
  *
  * `liveHit` is the facade's SHARED liveness verdict for the mutation's
  * ids (see `HybridStore.livenessVerdict`): `Some(false)` is exact (no
  * other store segment holds any of the ids), `Some(true)` a superset
  * verdict, `None` unknown. */
trait StoreLeg {
  /** The leg's key in the facade's observability maps. */
  def name: String

  /** True when a shared verdict saves this leg a probe job of its own —
    * the facade computes one only if some attached leg asks for it. */
  def wantsVerdict: Boolean = false

  /** Fold one appended segment in; idempotent per segment. */
  def append(batch: DataFrame, seg: Long,
             liveHit: Option[Boolean] = None): Unit

  /** Mask `ids` in segments <= `upto` (the store's tombstone write). */
  def delete(ids: DataFrame, upto: Long,
             liveHit: Option[Boolean] = None): Unit

  /** Post-compaction: the live state becomes one piece tagged `seg`. */
  def collapse(seg: Long): Unit

  /** Drop cached state. `vacuumStale` (the facade's WRITER close) also
    * deletes durable state a collapse superseded. */
  def release(vacuumStale: Boolean = false): Unit
}

/** The incremental-piece protocol shared by the BM25, IVF and PQ store
  * legs — comet's train-once-then-build-per-segment contract
  * (storage.go:321-347, storage.go:680-760): each appended segment
  * becomes one materialized PIECE, built from the leg's already-trained
  * template and never by retraining. A leg supplies only its piece
  * encoder ([[encode]]) and table shapes; this class owns everything
  * else:
  *
  *   - PIECES: one per segment, one frame per entry of [[tables]]. With
  *     `persistDir` set a piece lands as parquet under `dir/seg=N/`
  *     (durable, lineage-free); otherwise it is a local checkpoint.
  *   - COMMIT MARKERS: a durable piece is trusted only when its last
  *     table's `_SUCCESS` exists and its [[commitFile]] (if any, written
  *     LAST and deleted FIRST) names the expected content — a crash
  *     anywhere mid-write leaves a piece that [[load]] rebuilds.
  *   - MARKERS: a newest-wins `(id, upto)` table — a piece row is live
  *     iff its segment id is greater than its id's marker, exactly
  *     [[graft.store.SegmentStore.read]]'s delete-marker ordering, so a
  *     re-appended id resurrects in its newer segment. A delete costs a
  *     marker row, never an anti-join rewrite.
  *   - COLLAPSE with one-cycle deferral: the pieces a compaction
  *     supersedes keep their dirs until the NEXT collapse (or a writer's
  *     [[release]]), so a frame planned before the compaction still
  *     collects.
  *   - RETRAIN COMMIT: a leg whose model had no committed artifact
  *     invalidates every piece marker, withholds the model marker,
  *     rebuilds every piece and only then commits (see [[load]]).
  *
  * Materialization uses `localCheckpoint(eager = true)`: lineage is
  * truncated (a thousand-append log does not accumulate a
  * thousand-deep plan) and blocks live on executors. The store's segment
  * parquet stays the source of truth; the log is a cache.
  *
  * NOT thread-safe; guard with the owning store's lock. */
abstract class PieceLog(spark: SparkSession, persistDir: Option[String])
    extends StoreLeg {
  import PieceLog._

  /** Column of a store segment this leg indexes (`text`, `vector`). */
  protected def column: String

  /** Table sub-directories of a piece; `""` is the piece dir itself. */
  protected def tables: IndexedSeq[String]

  /** Build one piece's tables from segment rows with a non-null
    * [[column]] (`id` cast to long, plus the column). */
  protected def encode(rows: DataFrame): IndexedSeq[DataFrame]

  /** Empty frame shaped like piece table `i`. */
  protected def empty(i: Int): DataFrame

  /** Per-piece commit record `(file, content)` written after the tables;
    * None makes the last table's `_SUCCESS` the commit. */
  protected def commitFile: Option[(String, String)] = None

  /** Physical layout applied to a table before it is materialized. */
  protected def layout(df: DataFrame): DataFrame = df

  /** Removal bookkeeping for distinct ids `del` about to be masked;
    * returns whether any live row is hit (only then is a marker
    * written). The default answers from the shared verdict, else from
    * one early-exiting probe of the live ids. */
  protected def removed(del: DataFrame, liveHit: Option[Boolean]): Boolean =
    liveHit.getOrElse(live(0).select(col("id"))
      .join(del, Seq("id"), "left_semi").limit(1).count() > 0)

  /** Accept a freshly appended piece (false drops it from the view). */
  protected def admit(p: Piece): Boolean = true

  override def wantsVerdict: Boolean = true

  private var pieces: Vector[Piece] = Vector.empty
  private var markers: Option[DataFrame] = None

  private def fs = new Path(persistDir.get)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pieceDir(seg: Long): String = s"${persistDir.get}/seg=$seg"

  private def tablePath(seg: Long, t: String): String =
    if (t.isEmpty) pieceDir(seg) else s"${pieceDir(seg)}/$t"

  /** The marker whose absence makes a durable piece untrusted. */
  private def pieceCommit(seg: Long): Path = commitFile match {
    case Some((f, _)) => new Path(s"${pieceDir(seg)}/$f")
    case None         => new Path(s"${tablePath(seg, tables.last)}/_SUCCESS")
  }

  private def hasPiece(seg: Long): Boolean =
    fs.exists(new Path(s"${tablePath(seg, tables.last)}/_SUCCESS")) &&
      commitFile.forall { case (_, want) =>
        readSmallFile(spark, pieceCommit(seg)).contains(want)
      }

  /** Materialize a fresh piece: parquet under the persist dir (commit
    * record deleted first, re-written after every table lands), else a
    * local checkpoint. Returned frames are cached; [[release]] and
    * [[collapse]] drop them. */
  private def matzPiece(seg: Long, frames: IndexedSeq[DataFrame]): Piece =
    persistDir match {
      case Some(_) =>
        commitFile.foreach(_ => fs.delete(pieceCommit(seg), false))
        tables.zip(frames).foreach { case (t, f) =>
          layout(f).write.mode("overwrite").parquet(tablePath(seg, t))
        }
        commitFile.foreach { case (_, c) =>
          writeSmallFile(spark, pieceCommit(seg), c)
        }
        loadPiece(seg)
      case None => Piece(seg, frames.map(f => matz(layout(f))))
    }

  private def loadPiece(seg: Long): Piece =
    Piece(seg, tables.map(t => spark.read.parquet(tablePath(seg, t)).persist()))

  private def build(seg: Long, frame: DataFrame): Option[Piece] =
    if (!frame.columns.contains(column)) None
    else Some(matzPiece(seg, encode(frame.filter(col(column).isNotNull))))

  private def freePiece(p: Piece): Unit = p.frames.foreach(Frames.free)

  private def dropStalePieceDirs(keep: Set[Long]): Unit =
    persistDir.foreach { dir =>
      val root = new Path(dir)
      if (fs.exists(root))
        fs.listStatus(root).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("seg=") &&
              name.stripPrefix("seg=").toLongOption.exists(!keep(_)))
            fs.delete(st.getPath, true)
        }
    }

  /** Newest-wins live view of piece table `i` (lazy; scans the
    * materialized blocks). */
  protected def live(i: Int): DataFrame = {
    if (pieces.isEmpty) return empty(i)
    val tagged = Frames.balancedUnion(
      pieces.map(p => p.frames(i).withColumn("_seg", lit(p.seg))))
    markers match {
      case Some(m) =>
        tagged.join(m, Seq("id"), "left")
          .filter(col("upto").isNull || col("_seg") > col("upto"))
          .drop("_seg", "upto")
      case None => tagged.drop("_seg")
    }
  }

  /** Mask the live instances of `ids` in segments <= `upto`. A `false`
    * verdict is exact and skips with zero jobs; a `true` one is a
    * superset, so the marker written may mask nothing — harmless, markers
    * only act on matching piece rows from segments <= upto. */
  private def applyRemoval(ids: DataFrame, upto: Long,
                           liveHit: Option[Boolean]): Unit = {
    if (liveHit.contains(false)) return
    val del = matz(ids.select(col("id").cast("long").as("id")).distinct())
    if (removed(del, liveHit)) {
      val add = del.withColumn("upto", lit(upto))
      val old = markers
      markers = Some(matz(foldMarkers(markers.fold(add)(_.unionByName(add)))))
      // the new frame is eagerly materialized, so the superseded one's
      // checkpoint blocks are dead weight from here on
      old.foreach(Frames.free)
    }
    Frames.free(del)
  }

  /** Index one appended segment; ids REPLACE any live older instance
    * (the memtable contract), and a row whose [[column]] is null removes
    * it from this leg.
    *
    * Idempotent per segment: a concurrent first search can seed the log
    * (reopen covers every store segment, including one whose writer has
    * flushed but not yet folded) between the store write and this fold.
    * A batch without the column leaves no piece, but its removal below is
    * masked-aware and re-applies as a no-op. */
  def append(batch: DataFrame, seg: Long,
             liveHit: Option[Boolean] = None): Unit = {
    if (pieces.exists(_.seg == seg)) return
    applyRemoval(batch.select(col("id")), upto = seg - 1, liveHit)
    build(seg, batch).foreach(p => if (admit(p)) pieces :+= p)
  }

  /** Remove by id: `upto` is the newest segment id at delete time, so a
    * later re-append (seg > upto) is live again. */
  def delete(ids: DataFrame, upto: Long,
             liveHit: Option[Boolean] = None): Unit =
    applyRemoval(ids, upto, liveHit)

  /** Collapse the live view into ONE piece tagged with the compacted
    * segment id and reset the markers — O(live), amortized into the
    * compaction, which already rewrites the same data. Train-time state
    * is untouched. */
  def collapse(seg: Long): Unit = {
    val old = pieces
    val oldMarkers = markers
    pieces = Vector(matzPiece(seg, tables.indices.map(live)))
    markers = None
    // free superseded frames in BOTH modes — non-durable pieces are
    // checkpoint blocks the ContextCleaner would otherwise sit on
    // (durable pieces only lose their cache: an in-flight search frame
    // recomputes from the parquet, which survives one cycle below)
    old.foreach(freePiece)
    oldMarkers.foreach(Frames.free)
    // one-cycle deferral, mirroring SegmentStore's retirement manifests:
    // the JUST-superseded piece dirs stay readable for frames planned
    // before this compaction; older generations are past grace
    dropStalePieceDirs(keep = old.map(_.seg).toSet + seg)
  }

  /** Drop cached piece and marker frames. With `vacuumStale` piece dirs
    * superseded by a collapse are also deleted (keep = current pieces
    * only); pure readers pass `false` — deleting shared bytes is the
    * owner's call. */
  def release(vacuumStale: Boolean = false): Unit = {
    if (vacuumStale) dropStalePieceDirs(keep = pieces.map(_.seg).toSet)
    pieces.foreach(freePiece)
    pieces = Vector.empty
    markers.foreach(Frames.free)
    markers = None
  }

  /** Seed the log over a store's live segments: each segment's durable
    * piece loads where one is committed, and only segments without one
    * pay [[encode]]. Pieces of segments that no longer exist (a
    * compaction ran without this log attached) are reclaimed.
    *
    * `retrain = Some((modelCommit, writeModel))` — the model had no
    * committed artifact and was just trained — runs the retrain commit
    * sequence instead: every surviving piece marker is invalidated and
    * the model marker dropped BEFORE `writeModel` (a stale marker over an
    * empty or corrupt artifact would otherwise commit a half-written
    * model if the write crashed), the marker stays withheld while every
    * piece is rebuilt (none is trusted: they belong to a LOST model),
    * and only then is it committed. A crash anywhere
    * in between leaves the model uncommitted, so the next open retrains
    * again instead of trusting pieces built under another model.
    *
    * @param segFrame per-segment frame with `id` (+ [[column]] if present)
    * @param markers  the newest-wins/tombstone mask rederived from the
    *                 store's own metadata; None when masking is vacuous */
  protected def load(segs: Seq[Long], segFrame: Long => DataFrame,
                     markers: Option[DataFrame],
                     retrain: Option[(Path, () => Unit)] = None): Unit = {
    retrain.foreach { case (commit, writeModel) =>
      segs.foreach(n => fs.delete(pieceCommit(n), false))
      fs.delete(commit, false)
      writeModel()
      fs.delete(commit, false)
    }
    dropStalePieceDirs(keep = segs.toSet)
    segs.foreach { n =>
      if (retrain.isEmpty && hasPiece(n)) pieces :+= loadPiece(n)
      else build(n, segFrame(n)).foreach(p => pieces :+= p)
    }
    this.markers = markers.map(matz)
    retrain.foreach { case (commit, _) => fs.create(commit, true).close() }
  }

  /** Live pieces (segments contributing rows). */
  def pieceCount: Int = pieces.size

  /** Marker-table row count (observability: append-only histories must
    * keep this at zero — the facade's shared liveness probe contract). */
  private[graft] def markerRows: Long = markers.map(_.count()).getOrElse(0L)

  /** Drop the durable pieces' cached blocks so the next scan reads the
    * parquet COLD — a probe hook for gating the on-disk layout's pruning
    * separately from the cached view. No-op for non-durable pieces
    * (checkpoint blocks are not cache-manager entries). */
  private[graft] def evictPieceCaches(): Unit =
    pieces.foreach(_.frames.foreach(_.unpersist()))
}

object PieceLog {
  /** One segment's materialized piece: one frame per leg table. */
  final case class Piece(seg: Long, frames: IndexedSeq[DataFrame])

  /** Eager, lineage-free materialization of a derived frame. */
  def matz(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Fold `(id, upto)` marker rows newest-wins: one row per id carrying
    * its highest `upto`. */
  def foldMarkers(rows: DataFrame): DataFrame =
    rows.groupBy(col("id")).agg(max(col("upto")).as("upto"))

  private[graft] def writeSmallFile(spark: SparkSession, p: Path,
                                    content: String): Unit = {
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(spark: SparkSession, p: Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }
}
