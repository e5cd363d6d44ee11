package perfbench

import graft.hybrid.Hybrid
import graft.store.HybridStore

import scala.collection.mutable.ArrayBuffer

/** Embedded read-only serving: `HybridStore.serve()` answers the query mix
  * in-process (vector leg, BM25 text, filter memo, local fusion) with no
  * Spark job per query. One client measures latency and `cores` clients
  * measure throughput; every call blocks its client (closed loop). The
  * store's vector leg is an incremental HNSW graph or an incremental IVF
  * index; with IVF the run also checks the embedded results against the
  * distributed path, and its traced run goes on to the distributed path
  * itself ([[Search]]). */
object Serve {
  val Docs = 6000
  val AppendBatches = 2
  /** Planted near-duplicate pairs, found by the traced IVF run's MinHash. */
  val DupPairs = 40
  val NList = 64
  val NProbe = 8
  val WarmupSeconds = 4
  val RecallQueries = 200
  val RecallFloor = 0.9
  /** The window alternates slices of this length between the phases. */
  val SliceSeconds = 0.5

  def run(ctx: Ctx, ivf: Boolean): Unit = {
    val tGen = System.nanoTime()
    val orig = ctx.gen.docs("serve-corpus", 0L, Docs - DupPairs)
    val (dups, planted) = ctx.gen.nearDuplicates(orig, DupPairs, orig.length.toLong)
    val docs = orig ++ dups
    val genS = (System.nanoTime() - tGen) / 1e9
    val docOf = Ctx.byId(docs)
    val cfg = Hybrid.Config(k = ctx.k, fusion = Hybrid.Rrf)
    val per = Docs / AppendBatches
    val (((store, root), handle), setupS) = ctx.repeatedSetup { rep =>
      val root = ctx.freshDir(s"serve-$rep")
      val hs =
        if (ivf) new HybridStore(ctx.spark, root, cfg, incrementalIvf = Some((NList, NProbe)))
        else new HybridStore(ctx.spark, root, cfg, incrementalHnsw =
          Some(HybridStore.HnswSpec(efConstruction = 40, persist = false)))
      docs.grouped(per).foreach(b =>
        ctx.tracer.span("store.append", 0)(hs.append(ctx.frame(b.toSeq))))
      // the first read seeds the text log and the vector leg
      ctx.tracer.span("store.generation", 0)(hs.read())
      ((hs, root), ctx.tracer.span("hybrid.serve_build", 0)(hs.serve()))
    } { case ((hs, _), _) => hs.close() }

    ctx.endToEnd("setup_s") = genS + setupS
    ctx.endToEnd("heap_mb") = ctx.heapMb()
    def search(q: Query) = handle.search(q.filt.map(_.groups).getOrElse(Nil), q.vec, q.text)

    // `cores` clients for a fixed time before the window: the per-query
    // paths need some ten thousand calls before the JIT has compiled them
    // fully, and a warm-up of a few hundred queries left the window
    // measuring that compilation. It also lets the heap grow back after
    // the forced collections of heapMb.
    val warm = ctx.gen.queries("serve-warmup", 20000)
    val nextWarm = new java.util.concurrent.atomic.AtomicInteger(0)
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    val warmers = (1 to ctx.cores).map { _ =>
      val t = new Thread(() => while (System.nanoTime() < warmEnd)
        search(warm(nextWarm.getAndIncrement() % warm.length)))
      t.start(); t
    }
    warmers.foreach(_.join())
    ctx.phase("warm-up")

    val queries = ctx.gen.queries("serve-queries", 20000)

    // The window alternates slices of one client (latency) and of `cores`
    // clients (throughput), each slice on fresh threads: both phases span
    // the whole window, and the scheduler places each slice on whichever
    // vCPUs are idle, so one slow vCPU or a short stall of a shared host
    // does not set a whole phase.
    val lat = ArrayBuffer.empty[(String, Double)]
    val tracedLat = ArrayBuffer.empty[(String, Double)]
    val untracedLat = ArrayBuffer.empty[(String, Double)]
    val results = ArrayBuffer.empty[(Query, Seq[(Long, Double)])]
    val legs = new Legs
    val rates = ArrayBuffer.empty[Double]
    val sliceNs = (SliceSeconds * 1e9).toLong
    // the single client walks the stream from its start, the concurrent
    // clients from its middle
    var i = 0
    val next = new java.util.concurrent.atomic.AtomicInteger(queries.length / 2)
    val gc0 = ctx.gcMillis()

    def singleSlice(): Unit = {
      val sliceEnd = System.nanoTime() + sliceNs
      val client = new Thread(() => while (System.nanoTime() < sliceEnd) {
        val q = queries(i % queries.length)
        // in a traced run whole query-mix cycles alternate between traced
        // and untraced, so both halves see the same mix
        val traceThis = ctx.traced && (i / Gen.QueryKinds.size) % 2 == 1
        // a traced query's span holds the hybrid call and the calls of its
        // legs, so what remains of it is the benchmark's own time
        val r =
          if (traceThis) ctx.tracer.span("op", i) {
            val r = ctx.attempt(ctx.tracer.span("hybrid.serve", i)(search(q)))
            r.foreach { case (_, ms) => legs.probe(ctx, handle, q, i, ms) }
            r
          }
          else ctx.attempt(search(q))
        r.foreach { case (res, ms) =>
          lat += ((q.kind, ms))
          (if (traceThis) tracedLat else untracedLat) += ((q.kind, ms))
          results += ((q, res))
        }
        i += 1
      })
      client.start()
      client.join()
    }

    def concurrentSlice(): Double = {
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val sliceEnd = t0 + sliceNs
      val clients = (1 to ctx.cores).map { _ =>
        val t = new Thread(() => while (System.nanoTime() < sliceEnd) {
          val j = next.getAndIncrement()
          val q = queries(j % queries.length)
          ctx.attempt(search(q)).foreach { case (res, _) =>
            done.incrementAndGet()
            if (j % 16 == 0) ctx.checkResult(q, res, docOf, s"serve query $j")
          }
        })
        t.start(); t
      }
      clients.foreach(_.join())
      done.get / ((System.nanoTime() - t0) / 1e9)
    }

    (0 until math.max(2, (ctx.seconds / SliceSeconds).round.toInt)).foreach { s =>
      if (s % 2 == 0) singleSlice() else rates += concurrentSlice()
    }
    val gcMs = ctx.gcMillis() - gc0
    val windowQueries = i + next.get - queries.length / 2
    ctx.phase("window")

    // output checks and recall on the single-client results
    results.foreach { case (q, res) => ctx.checkResult(q, res, docOf, s"serve ${q.kind}") }
    val recalls = results.iterator.filter(_._1.kind == "vector").take(RecallQueries)
      .map { case (q, res) => Ctx.recall(res.map(_._1), Ctx.exactTopK(docs, q.vec.get, ctx.k)) }
      .toSeq
    val recall = if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size
    ctx.check(recalls.nonEmpty && recall >= RecallFloor,
      f"serve recall@10 $recall%.4f below floor $RecallFloor")

    ctx.endToEnd("p50_ms") = Stats.mixMedian(lat.toSeq)
    ctx.endToEnd("throughput") = Stats.median(rates.toSeq)
    ctx.endToEnd("recall_at_10") = recall
    ctx.reportTail(lat.toSeq.map(_._2))
    if (ctx.traced) {
      def setupSpan(name: String) =
        Stats.median(ctx.tracer.all.filter(_.name == name).map(_.nanos / 1e9))
      ctx.layers("store.generation_s") = setupSpan("store.generation")
      ctx.layers("hybrid.serve_build_s") = setupSpan("hybrid.serve_build")
      ctx.layers("jvm.gc_ms_per_kq") = gcMs * 1000.0 / math.max(1, windowQueries)
      legs.report(ctx, tracedLat.toSeq, untracedLat.toSeq)
    }
    if (ivf) Search.run(ctx, store, root, handle, docs, planted)
    else ctx.notRun ++= Search.Layers
    store.close()
  }

  /** Single-modality calls made beside traced hybrid queries. */
  private final class Legs {
    val vector = ArrayBuffer.empty[Double]
    val text = ArrayBuffer.empty[Double]
    val filter = ArrayBuffer.empty[Double]
    val fusionSelf = ArrayBuffer.empty[Double]
    var distEvals = 0L
    var vectorCalls = 0L

    def probe(ctx: Ctx, h: Hybrid.LocalHybrid, q: Query, req: Long,
              opMs: Double): Unit = {
      val groups = q.filt.map(_.groups).getOrElse(Nil)
      def timed(name: String)(f: => Any): Double = {
        val t0 = System.nanoTime()
        ctx.tracer.span(name, req)(f)
        (System.nanoTime() - t0) / 1e6
      }
      val v = q.vec.map { qv =>
        val e0 = h.vecDistEvals.getOrElse(0L)
        val ms = timed("vector.serve")(h.search(groups, Some(qv), None))
        distEvals += h.vecDistEvals.getOrElse(0L) - e0
        vectorCalls += 1
        vector += ms
        ms
      }
      val t = q.text.map { qt =>
        val ms = timed("text.serve")(h.search(groups, None, Some(qt)))
        text += ms
        ms
      }
      if (q.filt.nonEmpty) filter += timed("filter.serve")(h.search(groups, None, None))
      for (vm <- v; tm <- t) fusionSelf += opMs - vm - tm
    }

    def report(ctx: Ctx, traced: Seq[(String, Double)], untraced: Seq[(String, Double)]): Unit = {
      def med(xs: collection.Seq[Double]) = Stats.medianOrZero(xs.toSeq)
      ctx.layers("vector.serve_ms") = med(vector)
      ctx.layers("vector.dist_evals_per_q") =
        if (vectorCalls == 0) 0.0 else distEvals.toDouble / vectorCalls
      ctx.layers("text.serve_ms") = med(text)
      val ts = Stats.summary(text.toSeq)
      ctx.layers("text.serve_tail_ms") = if (ts.tail.isNaN) 0.0 else ts.tail
      ctx.layers("filter.serve_ms") = med(filter)
      ctx.layers("hybrid.fusion_self_ms") = med(fusionSelf)
      ctx.layers("trace.overhead_ms") = Stats.mixMedian(traced) - Stats.mixMedian(untraced)
    }
  }
}
