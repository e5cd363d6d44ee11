package perfbench

import graft.store.{HybridStore, SegmentStore}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The store layer under writes, measured in the traced run of the
  * `serve_ivf` workload on its store, after the distributed queries: each
  * cycle appends a batch, searches for it right away (read-after-write),
  * repeats that search warm, runs a vector-only search and deletes random
  * live ids; a compaction follows the last cycle. Every mutation
  * invalidates the store's generation. */
object Ingest {
  val Cycles = 2
  val Batch = 500
  val Deletes = 50
  val Layers: Seq[String] = Seq("store.docs_per_s", "store.append_p50_ms",
    "store.append_max_ms", "store.fresh_search_p50_ms", "store.disk_bytes_per_doc",
    "store.segment_append_ms", "store.append_fold_ms", "store.append_jobs",
    "store.append_rows_read", "store.write_amp", "store.delete_ms", "store.compact_s",
    "store.compact_store_s", "text.compact_s", "vector.compact_s", "store.rebuild_ms",
    "store.segments", "store.recall_at_10")

  /** `live` is the benchmark's model of the live set and is kept up to
    * date. */
  def run(ctx: Ctx, hs: HybridStore, root: String,
          search: Query => Seq[(Long, Double)],
          live: mutable.LinkedHashMap[Long, Doc]): Unit = {
    val side = new SegmentStore(ctx.spark, ctx.freshDir("ingest-side"))
    val docOf: Long => Option[Doc] = live.get
    val deleted = mutable.HashSet.empty[Long]
    val appendMs, freshMs, repeatMs, deleteMs, segAppendMs, segments, recalls =
      ArrayBuffer.empty[Double]
    var nextId = live.keys.max + 1

    (1 to Cycles).foreach { c =>
      val marker = s"m$c"
      val batch = ctx.gen.docs(s"ingest-batch-$c", nextId, Batch, Some(marker))
      nextId += Batch
      val frame = ctx.frame(batch.toSeq)
      // the same batch as a plain segment: the share of an append that is
      // segment write rather than derived-state folding
      segAppendMs += timed(ctx.tracer.span("store.segment_append", c)(side.append(frame)))
      ctx.tracer.span("store.append", c)(ctx.attempt(hs.append(frame))).foreach { case (_, ms) =>
        appendMs += ms
        batch.foreach(d => live(d.id) = d)
        segments += hs.store.segments().size
        val probe = batch(ctx.gen.rng(s"ingest-probe-$c").nextInt(Batch))
        val q = Query("fresh", Some(probe.vector), Some(marker), None)
        ctx.tracer.span("store.fresh_search", c)(ctx.attempt(search(q))).foreach { case (res, ms) =>
          freshMs += ms
          ctx.checkResult(q, res, docOf, s"ingest fresh search $c")
          ctx.check(res.exists(_._1 == probe.id),
            s"ingest: appended doc ${probe.id} not found right after its append")
        }
        ctx.tracer.span("store.repeat_search", c)(ctx.attempt(search(q))).foreach { case (res, ms) =>
          repeatMs += ms
          ctx.checkResult(q, res, docOf, s"ingest repeat search $c")
        }
      }
      val vq = Query("vector", Some(ctx.gen.vectors(s"ingest-vq-$c", 1).head), None, None)
      ctx.tracer.span("store.vector_search", c)(ctx.attempt(search(vq))).foreach { case (res, _) =>
        ctx.checkResult(vq, res, docOf, s"ingest vector search $c")
        recalls += Ctx.recall(res.map(_._1), Ctx.exactTopK(live.values, vq.vec.get, ctx.k))
      }
      val ids = ctx.gen.sample(s"ingest-delete-$c", live.keys.toSeq, Deletes)
      ctx.tracer.span("store.delete", c)(ctx.attempt(hs.delete(ids))).foreach { case (_, ms) =>
        deleteMs += ms
        ids.foreach { id => live.remove(id); deleted += id }
      }
    }
    val compact = ctx.tracer.span("store.compact", Cycles + 1)(ctx.attempt(hs.compact()))
    compact.foreach { _ =>
      val n = hs.read().count()
      ctx.check(n == live.size, s"ingest: live count $n after compaction, model has ${live.size}")
      val back = hs.read().filter(col("id").isin(deleted.toSeq: _*)).count()
      ctx.check(back == 0, s"ingest: $back deleted ids are live after compaction")
    }
    val compactMs = compact.map(_._2).getOrElse(0.0)
    side.close()

    def med(xs: collection.Seq[Double]) = Stats.medianOrZero(xs.toSeq)
    ctx.listener.quiesce()
    val spans = ctx.tracer.all
    def work(name: String) = spans.filter(s => s.name == name && s.request > 0)
      .map(s => Trace.inclusiveWork(spans, ctx.listener, s.id))
    val appends = work("store.append")
    val split = graft.store.StoreProbe.lastCompactSecs(hs)
    ctx.layers("store.docs_per_s") =
      appendMs.size * Batch / ((appendMs.sum + deleteMs.sum + compactMs) / 1e3)
    ctx.layers("store.append_p50_ms") = med(appendMs)
    ctx.layers("store.append_max_ms") = appendMs.maxOption.getOrElse(0.0)
    ctx.layers("store.fresh_search_p50_ms") = med(freshMs)
    ctx.layers("store.disk_bytes_per_doc") =
      StoreDisk.bytes(java.nio.file.Paths.get(root)) / live.size.toDouble
    ctx.layers("store.segment_append_ms") = med(segAppendMs)
    ctx.layers("store.append_fold_ms") = med(appendMs.zip(segAppendMs).map { case (a, b) => a - b })
    ctx.layers("store.append_jobs") = med(appends.map(_.jobs.toDouble))
    ctx.layers("store.append_rows_read") = med(appends.map(_.recordsRead.toDouble))
    ctx.layers("store.write_amp") = appends.map(_.bytesWritten).sum /
      math.max(1L, work("store.segment_append").map(_.bytesWritten).sum).toDouble
    ctx.layers("store.delete_ms") = med(deleteMs)
    ctx.layers("store.compact_s") = compactMs / 1e3
    Seq("store.compact_store_s" -> "store", "text.compact_s" -> "text",
        "vector.compact_s" -> "vec").foreach { case (metric, part) =>
      ctx.check(split.contains(part), s"ingest: compaction split has no '$part' entry: $split")
      split.get(part).foreach(ctx.layers(metric) = _)
    }
    ctx.layers("store.rebuild_ms") = med(freshMs.zip(repeatMs).map { case (a, b) => a - b })
    ctx.layers("store.segments") = med(segments)
    ctx.layers("store.recall_at_10") = med(recalls)
  }

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }
}

object StoreDisk {
  /** Bytes of every regular file under `root`. */
  def bytes(root: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
