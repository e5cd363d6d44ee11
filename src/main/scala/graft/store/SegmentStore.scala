package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSM-style persistent segments on parquet.
  *
  * Reference: comet's memtable → gzip segment → compaction pipeline
  * (`/root/reference/storage.go:120-220`, `storage_compaction.go:19-114`).
  * Spark re-design: a segment is a parquet directory `seg=<n>/`; deletes
  * are DATA (a tombstone id table, anti-joined at read — comet's soft
  * deletes, e.g. `flat_index_search.go:255-257`); compaction rewrites the
  * union minus tombstones into one segment. NOTE the reference's compaction
  * merge is a stub that drops documents (`storage_compaction.go:68-73`) —
  * ours is real, per SURVEY.md §2.10.
  *
  * Duplicate ids across segments resolve newest-segment-wins (comet
  * searches memtables newest-first, `storage.go:501-543`).
  */
final class SegmentStore(spark: SparkSession, root: String,
                         targetFileBytes: Long = 128L << 20) {

  private def segDir(n: Long) = s"$root/seg=$n"
  private val tombDir = s"$root/tombstones"
  private def retiredManifest(gen: Long) =
    new org.apache.hadoop.fs.Path(s"$root/retired=$gen")

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(root).getScheme match {
      case null => new java.io.File(root).toURI
      case _    => new java.net.URI(root)
    }, spark.sparkContext.hadoopConfiguration)

  // ---- single-writer lock (storage_provider.go:36-64: a LOCK file under
  // the store root; a second opener fails until the first closes). flock
  // releases on process death, a marker file doesn't — so the marker
  // carries owner + timestamp and SegmentStore.open(force=true) can break
  // a stale one after a crash. The acquire is `create(overwrite = false)`:
  // on HDFS/object stores the namenode rejects an existing path inside the
  // create RPC (FileAlreadyExistsException), so the loser of a race gets
  // the exception — unlike `createNewFile`, whose exists()-then-create()
  // window lets two openers both "win". On the local ChecksumFileSystem
  // even create() is not a true O_CREAT|O_EXCL (the reference gets that
  // from the OS, storage_provider.go:36-64), so there the lock is
  // advisory: it reliably stops sequential double-opens, not a
  // microsecond-level race between two JVMs.
  private val lockPath = new org.apache.hadoop.fs.Path(s"$root/LOCK")
  @volatile private var lockHeld = false

  private[store] def acquireLock(force: Boolean): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    if (force && fs.exists(lockPath)) fs.delete(lockPath, false)
    val out = try fs.create(lockPath, false)
    catch {
      case e: java.io.IOException => // FileAlreadyExistsException on HDFS,
        // plain IOException("File already exists") on local filesystems
        if (!fs.exists(lockPath)) throw e // a real IO failure, not the lock
        val owner = try {
          val in = fs.open(lockPath)
          try scala.io.Source.fromInputStream(in).mkString finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
        throw new IllegalStateException(
          s"store at $root is locked by [$owner]; close() the other writer " +
            "or open(force = true) to break a stale lock")
    }
    try out.write(s"${java.lang.management.ManagementFactory.getRuntimeMXBean
      .getName}@${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
    lockHeld = true
  }

  // true once THIS instance compacted (and therefore retired sources) —
  // close() then vacuums even without the writer lock. A pure reader
  // (never compacts, never locks) must not delete retired bytes out
  // from under the owner's in-flight frames.
  @volatile private var retiredByThis = false

  /** True when this instance would vacuum at [[close]] — it holds the
    * writer LOCK or has itself retired a generation. The facade uses
    * this to scope the LEGS' close-time stale-piece vacuum to the same
    * owner-only contract (pure readers never delete shared bytes). */
  private[graft] def isWriter: Boolean = lockHeld || retiredByThis

  /** Release the writer lock (if this store holds one) and drop caches —
    * the reference's provider.close() (storage_provider.go:66-79). A
    * WRITER (lock holder or anything that compacted here) also vacuums
    * retired generations on the way out (close invalidates outstanding
    * frames by contract); pure readers never vacuum — deleting retired
    * bytes is the owner's call. */
  def close(): Unit = {
    evictCache()
    if (retiredByThis && !lockHeld) vacuum()
    if (lockHeld) {
      try vacuum() finally { fs.delete(lockPath, false); lockHeld = false }
    }
  }

  /** Per-segment file/byte accounting from a directory listing — no data
    * read. The reference's segment manager tracks DocumentCount/TotalSize
    * per segment and sums them (storage_segment.go:131-171,
    * storage_segment_test.go:190-213); here bytes come straight from the
    * filesystem so they survive process restarts, and row counts are left
    * to parquet footers (read().count() when actually needed — keeping
    * stats() O(#files), safe to poll from a compaction policy loop. */
  def stats(): Seq[SegmentStore.SegmentStats] =
    segments().map { n =>
      val summary = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(segDir(n)))
      SegmentStore.SegmentStats(n, summary.getFileCount, summary.getLength)
    }

  // Running byte total so a per-append compaction-policy poll
  // (HybridStore.compactionDue under autoCompactBytes) does not re-list
  // the whole store directory every batch: seeded from one full listing,
  // then maintained incrementally — append adds the new segment's size
  // (one getContentSummary on that segment only), compaction re-seeds.
  // Valid under the single-writer contract; -1 = not yet seeded.
  @volatile private var totalBytesCache: Long = -1L

  /** Total bytes across all live segments (segment manager TotalSize).
    * First call lists the directory; subsequent calls serve the
    * incrementally maintained total (O(1), no filesystem round trip). */
  def totalBytes(): Long = {
    val c = totalBytesCache
    if (c >= 0L) c
    else {
      val t = stats().map(_.bytes).sum
      totalBytesCache = t
      t
    }
  }

  /** File count for a segment write: ceil(estimated bytes / target), so
    * output parallelism scales with DATA SIZE, not with upstream shuffle
    * partitions. A memtable-bounded flush stays one file (the reference's
    * one-gzip-per-segment shape, storage.go:72-84); a multi-GB compaction
    * fans out. Catalyst's sizeInBytes is an uncompressed overestimate —
    * conservative in the right direction (more, smaller files) — but for
    * JOIN-shaped inputs it's the PRODUCT of child sizes, so the count is
    * additionally capped at a multiple of cluster parallelism: enough to
    * keep every core writing, never a million near-empty files off a bogus
    * estimate. */
  /** Shuffle into `n` files hash-clustered AND sorted by id (when the
    * payload has one): each parquet row group then covers a narrow
    * contiguous id range, so min/max column stats make every id point
    * lookup — node resolution (`HybridStore.search(queryNodes)`), delete
    * semi-joins, newest-wins probes — prune to ~one row group per file
    * instead of scanning the segment. Same shuffle the round-robin
    * repartition already paid; the per-partition sort is the only added
    * work (batch-bounded at append, live-set-bounded at compaction —
    * where the reference's compaction rewrite is O(live) anyway,
    * storage.go:680-760). Sorted ids also delta-encode smaller. Id-less
    * payloads keep the round-robin shape. */
  private def clusterById(df: DataFrame, n: Int): DataFrame =
    if (df.columns.contains("id"))
      // the lit(0) anchor keeps this exchange in the plan: a bare
      // repartition(n, id) is ELIDED whenever the upstream plan (the
      // newest-wins window, also hash-partitioned on id) happens to match
      // it exactly, and the window's ENSURE_REQUIREMENTS exchange that
      // remains IS AQE-coalescible — file count would then follow AQE's
      // advisory size instead of targetFileBytes (StoreScaleSpec pins the
      // fan-out contract). Hashing (id, 0) distributes like hashing id.
      df.repartition(n, col("id"), lit(0)).sortWithinPartitions("id")
    else df.repartition(n)

  private def fileCountFor(df: DataFrame): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = math.max(1, spark.sparkContext.defaultParallelism) * 16
    val n = (est + BigInt(targetFileBytes) - 1) / BigInt(targetFileBytes)
    n.max(1).min(cap).toInt
  }

  // ---- retirement manifests (generation fence). Compaction does NOT
  // delete its source segment dirs: it writes a `retired=<newSeg>`
  // manifest (atomically, temp + rename) naming the retired segment ids
  // and the tombstone files consumed, and the named files stay on disk
  // until [[vacuum]] — so a lazy DataFrame planned before the compaction
  // still collects from the old generation (Spark scans capture concrete
  // file paths at plan time; deleting them mid-collect is the failure the
  // old contract pushed onto callers). Retired tombstone markers are
  // semantically inert the moment the manifest lands: every live row's
  // winning segment is the compacted one, which postdates every retired
  // marker's `upto` — so readers that still union the whole tombstone dir
  // stay correct. The retention policy is ONE compaction cycle
  // (Delta/Iceberg-style): [[compact]] vacuums what PREVIOUS compactions
  // retired, [[close]] vacuums everything. Manifest contents are
  // immutable once renamed into place, so they cache by name.
  private val manifestCache = scala.collection.concurrent.TrieMap
    .empty[Long, (Seq[Long], Seq[String])] // gen -> (seg ids, tomb files)

  private[graft] def readManifest(gen: Long): (Seq[Long], Seq[String]) =
    manifestCache.getOrElseUpdate(gen, {
      // reader-vs-vacuum race (ADVICE r18 #2): a pure reader lists the
      // root while `retired=<gen>` exists, the owner's vacuum deletes it
      // before this open — a vanished manifest IS the fully-vacuumed
      // state (generations are monotonic, the name never recurs), so
      // answer "nothing retired" instead of crashing the reader
      val lines =
        try {
          val in = fs.open(retiredManifest(gen))
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => Vector.empty[String]
        }
      (lines.collect { case s if s.startsWith("seg ") =>
         s.stripPrefix("seg ").toLongOption }.flatten,
       lines.collect { case s if s.startsWith("tomb ") =>
         s.stripPrefix("tomb ") })
    })

  /** INVARIANT (no in-place writes): every file this store publishes —
    * segment parquet, tombstones, manifests — is written to a fresh temp
    * path and renamed; an EXISTING committed path is never re-opened for
    * write. Harness setups rely on it (store_compact hardlinks fixture
    * files into the scratch root: an in-place write through a shared
    * inode would corrupt the source fixture). The only overwrite below is
    * fs.create(tmp, true) on this generation's OWN .retired-$gen.tmp,
    * which no other store instance links or reads. */
  private def writeRetiredManifest(gen: Long, segs: Seq[Long],
                                   tombFiles: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$root/.retired-$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write((segs.map(n => s"seg $n") ++ tombFiles.map(f => s"tomb $f"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, retiredManifest(gen)))
      throw new java.io.IOException(
        s"could not publish retirement manifest retired=$gen under $root")
  }

  /** (manifest generation, retired segment ids, retired tombstone files)
    * for every published manifest, oldest first. */
  private def retirements(): Seq[(Long, Seq[Long], Seq[String])] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("retired="))
      .flatMap(_.stripPrefix("retired=").toLongOption)
      .toSeq.sorted.map { gen =>
        val (segs, tombs) = readManifest(gen)
        (gen, segs, tombs)
      }
  }

  /** Physically delete everything the retirement manifests name — the
    * point past which frames planned before those compactions can no
    * longer collect. [[compact]] calls this first (one-cycle grace:
    * anything a PREVIOUS compaction retired has survived a full
    * inter-compaction interval); [[close]] calls it too (close
    * invalidates outstanding frames by contract). Idempotent and
    * crash-tolerant: deletes of already-missing paths are no-ops, and
    * the manifest is removed LAST so a mid-vacuum crash just re-vacuums. */
  def vacuum(): Unit = {
    val rs = retirements()
    rs.foreach { case (gen, segs, tombs) =>
      segs.foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(segDir(n)), true)
      }
      tombs.foreach { f =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tombDir/$f"), false)
      }
      fs.delete(retiredManifest(gen), false)
      manifestCache.remove(gen)
    }
    // a tombstone dir holding nothing but vacuumed markers is removed
    // whole — parquet schema inference fails loudly on an empty dir,
    // and tombstones() keys its fast path on the dir's absence
    val tp = new org.apache.hadoop.fs.Path(tombDir)
    if (rs.nonEmpty && fs.exists(tp) && fs.listStatus(tp).isEmpty)
      fs.delete(tp, true)
  }

  def segments(): Seq[Long] = {
    // Hadoop FS listing, not java.nio: the store root may be HDFS/object
    // storage on a real cluster — local paths go through the same API
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs
    if (!f.exists(p)) return Seq.empty
    val names = f.listStatus(p).iterator.map(_.getPath.getName).toVector
    // segments a manifest retired are invisible to new reads even while
    // their dirs remain on disk for in-flight old-generation frames
    val retired: Set[Long] = names
      .filter(_.startsWith("retired="))
      .flatMap(_.stripPrefix("retired=").toLongOption)
      .flatMap(gen => readManifest(gen)._1).toSet
    names.filter(_.startsWith("seg="))
      // tolerant parse: a foreign "seg=whatever" entry (editor droppings,
      // a half-renamed dir) is IGNORED, not a crash — the reference's
      // listSegments regex-matches filenames and skips non-matches
      // (storage_provider.go:175-226)
      .flatMap(n => n.stripPrefix("seg=").toLongOption)
      .filterNot(retired).sorted
  }

  /** Append a new immutable segment (monotonic id —
    * storage_provider.go:36-147's counter, minus the flock: parquet dirs
    * are already atomic-enough for a single writer). */
  def append(df: DataFrame): Long = {
    // CONTRACT: one row per id within the batch (a segment is one flushed
    // memtable and the memtable replaces by id, storage_memtable.go:61-112).
    // read() relies on this — in particular the single-segment fast path
    // does no dedup; dedup the batch before appending if unsure.
    require(!df.columns.contains("_seg") && !df.columns.contains("upto"),
      "payload columns '_seg' and 'upto' are reserved by SegmentStore.read " +
        "(newest-wins bookkeeping and delete-marker horizon)")
    val next = segments().lastOption.map(_ + 1).getOrElse(0L)
    // file count ∝ estimated bytes (memtable-bounded flushes stay one
    // file). repartition (a shuffle), NOT coalesce: coalesce(1) would
    // collapse the upstream plan to one task
    clusterById(df, fileCountFor(df)).write.mode("errorifexists")
      .parquet(segDir(next))
    if (totalBytesCache >= 0L)
      totalBytesCache += fs.getContentSummary(
        new org.apache.hadoop.fs.Path(segDir(next))).getLength
    next
  }

  /** Record deletes as data — LSM delete markers, not global bans: the
    * marker carries the newest segment id at delete time (`upto`), and
    * [[read]] masks an id only when its winning row comes from a segment
    * <= that mark. A later re-append lands in a NEWER segment and is live
    * again, matching the reference's remove-then-Add behavior
    * (storage_memtable_test.go:153-175 removes are soft; a fresh Add
    * resurrects the doc). */
  def delete(ids: Seq[Long]): Unit = {
    import spark.implicits._
    val upto = segments().lastOption.getOrElse(-1L)
    ids.map((_, upto)).toDF("id", "upto")
      .write.mode("append").parquet(tombDir)
  }

  /** Bulk delete-as-data: append an (id) frame to the tombstone table
    * without collecting to the driver. Same segment-scoped marker
    * semantics as [[delete]]. */
  def deleteFrom(ids: DataFrame): Unit = {
    val upto = segments().lastOption.getOrElse(-1L)
    ids.select(col("id").cast("long"), lit(upto).as("upto"))
      .write.mode("append").parquet(tombDir)
  }

  /** Lazy per-segment cache (comet opens+deserializes a segment once and
    * keeps it in memory until eviction, storage_segment.go:58-178). A
    * segment is immutable, so caching by id is safe; compaction evicts. */
  private val segCache =
    scala.collection.concurrent.TrieMap.empty[Long, DataFrame]

  /** ONE segment's frame, read from its parquet (cached — a segment is
    * immutable; compaction evicts). Lineage-free: derived-state
    * maintenance (e.g. the HybridStore BM25 log) folds a fresh segment in
    * from here rather than re-evaluating the appender's upstream plan. */
  def segment(n: Long): DataFrame =
    segCache.getOrElseUpdate(n, spark.read.parquet(segDir(n)).cache())

  /** Drop all cached segment data (comet EvictCache,
    * storage_segment.go:174-178). */
  def evictCache(): Unit = {
    segCache.values.foreach(_.unpersist())
    segCache.clear()
    rangeCache.clear()
  }

  // Per-segment (min,max) id range, computed once (segments are
  // immutable) — the pruning statistic that keeps the liveness probe's
  // per-mutation cost FLAT as segments accumulate: a mutation whose id
  // range intersects no segment's range cannot mask anything, so no
  // probe scan runs at all (the append-only monotonic-id fast path).
  // None = segment has no id column or is empty (unprunable).
  private val rangeCache =
    scala.collection.concurrent.TrieMap.empty[Long, Option[(Long, Long)]]

  /** The cached range entry for a segment WITHOUT computing it —
    * observability for specs pinning the compact-time range seeding
    * (outer None = not cached; inner None = cached as unprunable). */
  private[graft] def cachedIdRange(n: Long): Option[Option[(Long, Long)]] =
    rangeCache.get(n)

  /** A segment's id range from its parquet FOOTER statistics —
    * metadata-only, no Spark job, no data scan. This is the reopen-path
    * twin of the compact-time range seeding: a reopened store's first
    * mutation used to backfill every segment's range with one
    * union-of-aggs job reading the id column of the WHOLE store (at
    * 100 TB, a full column scan to answer a 10k-row mutation's prune
    * question). Row-group min/max stats answer it from footers the
    * planner reads anyway. Conservative: returns None (fall back to the
    * exact agg) unless EVERY data file contributes valid non-null id
    * stats of an integral type — a file with missing/untyped stats or
    * an all-null id column must not silently narrow the range. */
  private def footerIdRange(n: Long): Option[(Long, Long)] =
    // this runs on the MUTATION hot path (idRange/idRanges backfill) —
    // an unreadable/foreign file must degrade to the exact-agg fallback
    // (ADVICE r18 #3), never fail the mutation the way a propagated
    // ParquetFileReader IOException would. NonFatal does not catch the
    // closure-return ControlThrowables the scan uses internally.
    try footerIdRangeScan(n)
    catch { case scala.util.control.NonFatal(_) => None }

  private def footerIdRangeScan(n: Long): Option[(Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(segDir(n))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(dir).filter { st =>
      val nm = st.getPath.getName
      st.isFile && nm.endsWith(".parquet") && !nm.startsWith(".") &&
        !nm.startsWith("_")
    }
    if (files.isEmpty) return None
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var rows = 0L
    files.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf))
      val footer =
        try reader.getFooter finally reader.close()
      val blocks = footer.getBlocks
      val it = blocks.iterator()
      while (it.hasNext) {
        val block = it.next()
        rows += block.getRowCount
        if (block.getRowCount > 0) {
          val cit = block.getColumns.iterator()
          var found = false
          while (cit.hasNext) {
            val col = cit.next()
            if (col.getPath.toDotString == "id") {
              found = true
              val stats = col.getStatistics
              // integral stats only: a string/binary id has no ordering
              // the long-range prune can use
              val ok = stats != null && !stats.isEmpty &&
                stats.hasNonNullValue && (stats.isInstanceOf[
                  org.apache.parquet.column.statistics.LongStatistics] ||
                stats.isInstanceOf[
                  org.apache.parquet.column.statistics.IntStatistics])
              if (!ok) return None
              val (mn, mx) = stats match {
                case l: org.apache.parquet.column.statistics.LongStatistics =>
                  (l.getMin, l.getMax)
                case i: org.apache.parquet.column.statistics.IntStatistics =>
                  (i.getMin.toLong, i.getMax.toLong)
              }
              if (mn < lo) lo = mn
              if (mx > hi) hi = mx
            }
          }
          if (!found) return None // no id column in this row group
        }
      }
    }
    if (rows == 0L || lo > hi) None else Some((lo, hi))
  }

  /** Cached id range of ONE segment: parquet footer stats first
    * (metadata-only, see [[footerIdRange]]), one column-pruned agg over
    * the cached frame as the exact fallback — then free forever. */
  def idRange(n: Long): Option[(Long, Long)] =
    rangeCache.getOrElseUpdate(n, {
      footerIdRange(n).orElse {
        val f = segment(n)
        if (!f.columns.contains("id")) None
        else {
          val r = f.agg(min(col("id").cast("long")).as("lo"),
            max(col("id").cast("long")).as("hi")).head()
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        }
      }
    })

  /** Ranges for several segments, computing every MISSING one in a
    * single job (a reopened store's first mutation pays one
    * union-of-aggs pass; afterwards only freshly appended segments are
    * ever missing). Segments with no id column or no rows are absent
    * from the result (treat as unprunable). */
  def idRanges(ns: Seq[Long]): Map[Long, (Long, Long)] = {
    val missing0 = ns.filterNot(rangeCache.contains)
    // footer stats first: a reopened store's backfill is then zero Spark
    // jobs and zero data read — only segments whose footers can't answer
    // (string ids, all-null row groups, stat-less writers) join the one
    // union-of-aggs fallback job below
    missing0.foreach { n =>
      footerIdRange(n).foreach(r => rangeCache.put(n, Some(r)))
    }
    val missing = missing0.filterNot(rangeCache.contains)
    if (missing.nonEmpty) {
      val (withId, idLess) =
        missing.partition(n => segment(n).columns.contains("id"))
      idLess.foreach(n => rangeCache.put(n, None))
      if (withId.nonEmpty) {
        val rows = graft.core.Frames.balancedUnion(withId.map(n => segment(n)
            .select(col("id").cast("long").as("id"))
            .withColumn("_s", lit(n))))
          .groupBy(col("_s"))
          .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
          .collect()
        rows.foreach { r =>
          // an all-null id column aggregates to null bounds — unprunable,
          // same as idRange()'s isNullAt handling (uncastable STRING ids
          // throw under ANSI in the old union probe too, so nulls are
          // the case the range path must tolerate)
          val range = if (r.isNullAt(1) || r.isNullAt(2)) None
                      else Some((r.getLong(1), r.getLong(2)))
          rangeCache.put(r.getLong(0), range)
        }
        val seen = rows.map(_.getLong(0)).toSet
        withId.filterNot(seen).foreach(n => rangeCache.put(n, None))
      }
    }
    ns.flatMap(n => rangeCache.get(n).flatten.map(n -> _)).toMap
  }

  /** Live tombstone markers: max(upto) per id over SURVIVING tombstone
    * files only. Files a retirement manifest names are excluded from
    * every NEW plan even while their bytes stay on disk for the
    * one-cycle grace (ADVICE r18 #1): a whole-directory read would
    * freeze the retired file paths into frames planned AFTER the
    * compaction, and the NEXT compaction's vacuum would fail those
    * frames mid-collect despite their being only ONE cycle old —
    * the exact over-retention failure [[segments]] already avoids by
    * subtracting manifest contents. Excluding retired markers never
    * changes a result: every live row's winning segment is the
    * compacted one, which postdates every retired marker's `upto`. */
  private[store] def tombstones(): Option[DataFrame] = {
    val tp = new org.apache.hadoop.fs.Path(tombDir)
    if (!fs.exists(tp)) return None
    val retired: Set[String] = retirements().flatMap(_._3).toSet
    val live = fs.listStatus(tp).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_") && !retired.contains(n)
      }
      .map(_.getPath.toString).toVector
    if (live.isEmpty) None
    else Some(graft.core.PieceLog.foldMarkers(spark.read.parquet(live: _*)))
  }

  /** Read the live view: union of segments, newest-wins per id, minus
    * tombstones.
    *
    * Invariant: WITHIN a segment ids are unique — a segment is one flushed
    * memtable, and the memtable replaces by id (comet
    * storage_memtable.go:61-112); compaction output is deduped by
    * construction. So a single-segment store needs no dedup shuffle at
    * all, and the multi-segment path dedups with a map-side-combinable
    * `max_by` aggregation rather than a sort-the-world window. */
  def read(): DataFrame = {
    val segs = segments()
    require(segs.nonEmpty, s"no segments under $root")
    // `_seg` = the segment the winning row came from — compared against
    // the tombstone marks below, then dropped
    val latest =
      if (segs.size == 1) segment(segs.head).withColumn("_seg", lit(segs.head))
      else {
        val unioned = graft.core.Frames.balancedUnion(segs.map { n =>
          segment(n).withColumn("_seg", lit(n))
        })
        val payload = unioned.columns.filter(c => c != "id" && c != "_seg").toIndexedSeq
        unioned.groupBy(col("id"))
          .agg(max_by(struct(payload.map(col): _*), col("_seg")).as("_row"),
            max(col("_seg")).as("_seg"))
          .select(col("id") +: payload.map(c => col(s"_row.$c").as(c))
            :+ col("_seg"): _*)
      }
    tombstones() match {
      case Some(t) =>
        // a marker only masks rows that PRECEDE it (winning seg <= upto);
        // re-adds in newer segments survive — LSM delete-marker ordering
        latest.join(t, Seq("id"), "left")
          .filter(col("upto").isNull || col("_seg") > col("upto"))
          .drop("_seg", "upto")
      case None => latest.drop("_seg")
    }
  }

  /** Real compaction: materialize the live view into one new segment,
    * then RETIRE (not delete) the sources behind an atomic manifest —
    * see the retirement note above. A frame planned before this
    * compaction keeps collecting from the old generation until the next
    * [[compact]]/[[close]] vacuums it; one held across TWO compactions
    * is out of retention and may fail on missing files.
    *
    * Crash ordering: the new segment lands before the manifest, so a
    * crash in between leaves old + new segments all live — newest-wins
    * dedup (the compacted segment outranks every source) and the intact
    * tombstone dir keep [[read]] exact, at the cost of un-retired disk
    * until the next compaction. */
  def compact(): Long = {
    // grace expired for anything a PREVIOUS compaction retired
    vacuum()
    val sources = segments()
    val tombFiles =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombDir)))
        fs.listStatus(new org.apache.hadoop.fs.Path(tombDir))
          .map(_.getPath.getName).toSeq
      else Seq.empty
    val live = read()
    val next = sources.last + 1
    // files ∝ live data size — a 100 TB compaction fans out to
    // bytes/target tasks instead of funneling through one. repartition (a
    // shuffle), NOT coalesce: coalesce(1) would collapse the whole
    // newest-wins aggregation + anti-join upstream into a single task
    clusterById(live, fileCountFor(live)).write.mode("errorifexists")
      .parquet(segDir(next))
    // the generation fence: one atomic rename makes the sources (and the
    // consumed tombstone files) invisible to every subsequent
    // segments()/tombstones() while leaving their bytes for in-flight
    // readers. The retired markers are inert from here on even for
    // readers that union them: every live row's winning segment is
    // `next` > every retired marker's `upto`.
    writeRetiredManifest(next, sources, tombFiles)
    retiredByThis = true
    // Seed the compacted segment's cached id range from the UNION of its
    // sources' ranges — a superset of the true range (deletes may have
    // trimmed the edges), which is exactly what range pruning needs
    // (disjoint-from-superset ⇒ truly disjoint; the slack only costs an
    // occasional unpruned probe). Without this, the first post-compaction
    // mutation pays one id-column agg over the ENTIRE compacted corpus
    // to backfill the range (a 10k-row append once read every row of a
    // compacted 10M-row store for it). Only seeded when every source's range is
    // cached and defined; otherwise the lazy one-agg backfill stands.
    val seeded: Option[(Long, Long)] = {
      val rs = sources.map(rangeCache.get)
      if (rs.nonEmpty && rs.forall(_.exists(_.isDefined))) {
        val vals = rs.flatten.flatten
        Some((vals.map(_._1).min, vals.map(_._2).max))
      } else None
    }
    evictCache() // superseded sources: drop their cached frames (+ ranges)
    seeded.foreach(r => rangeCache.put(next, Some(r)))
    totalBytesCache = -1L // re-seed from a listing on the next poll
    next
  }
}

object SegmentStore {
  final case class SegmentStats(seg: Long, files: Long, bytes: Long)

  /** Open a store as THE writer: acquires the root's LOCK file atomically,
    * failing if another open writer holds it (storage_provider.go:36-64,
    * storage_provider_test.go:10-47). `force = true` breaks a stale lock
    * left by a crashed writer. Call [[SegmentStore.close]] to release.
    * Lock-free read-side construction stays `new SegmentStore(...)` —
    * segments are immutable, so concurrent readers need no coordination. */
  def open(spark: SparkSession, root: String,
           targetFileBytes: Long = 128L << 20,
           force: Boolean = false): SegmentStore = {
    val store = new SegmentStore(spark, root, targetFileBytes)
    store.acquireLock(force)
    store
  }
}
