package perfbench

import graft.hybrid.Hybrid
import graft.store.HybridStore

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The distributed path over the IVF store of the `serve_ivf` workload:
  * `HybridStore.search(...).collect()` on the generation the embedded
  * handle was built from. Every run checks that both paths agree where the
  * library promises equality. The traced run also times the query mix
  * through the distributed path (a few Spark jobs per query, so planning
  * and scheduling dominate), then measures the analytical operators over
  * the same live data ([[Batch]]) and the store under writes ([[Ingest]]).
  * On a shared host one run of this path differs from the next by up to a
  * half, so it reports per-layer metrics only. */
object Search {
  val AgreeQueries = 3
  /** The per-layer metrics [[run]] reports in a traced run. */
  val Layers: Seq[String] = Seq("search.p50_ms", "search.max_ms", "search.queries",
    "hybrid.plan_ms", "hybrid.exec_ms", "spark.jobs_per_q", "spark.stages_per_q",
    "spark.tasks_per_q", "spark.busy_share", "store.rows_read_per_q",
    "spark.shuffle_bytes_per_q", "vector.search_ms", "text.search_ms",
    "filter.search_ms", "search.fusion_self_ms") ++ Batch.Layers ++ Ingest.Layers
  private val AgreeKinds = Set("vector", "vector_cat", "text")

  def run(ctx: Ctx, hs: HybridStore, root: String, handle: Hybrid.LocalHybrid,
          docs: Array[Doc], planted: Seq[(Long, Long)]): Unit = {
    def search(q: Query) =
      hs.search(filters = q.filt.map(_.groups).getOrElse(Nil),
        queryVec = q.vec.map(ctx.queryFrame), queryText = q.text)

    // the embedded handle over the same generation must return what the
    // distributed path returns for single-modality queries (scores equal
    // up to rounding; ids equal except among ties at the cut)
    ctx.gen.queries("search-agree", 4 * AgreeQueries).iterator
      .filter(q => AgreeKinds(q.kind)).take(AgreeQueries).foreach { q =>
        val dist = Ctx.rows(search(q))
        val emb = handle.search(q.filt.map(_.groups).getOrElse(Nil), q.vec, q.text)
        ctx.check(agree(dist, emb), s"search ${q.kind}: embedded $emb != distributed $dist")
      }
    if (!ctx.traced) return

    val docOf = Ctx.byId(docs)
    ctx.gen.queries("search-warmup", Gen.QueryKinds.size).foreach(q => Ctx.rows(search(q)))
    val queries = ctx.gen.queries("search-queries", 4000)
    val lat, plan, exec, fusionSelf = ArrayBuffer.empty[Double]
    val legs = Map("vector" -> ArrayBuffer.empty[Double],
      "text" -> ArrayBuffer.empty[Double], "filter" -> ArrayBuffer.empty[Double])
    val end = ctx.deadline()
    var i = 0
    while (System.nanoTime() < end) {
      val q = queries(i % queries.length)
      val req = 1_000_000L + i
      ctx.tracer.span("search.op", req)(ctx.attempt {
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("hybrid.plan", req) {
          val d = search(q); d.queryExecution.executedPlan; d }
        val t1 = System.nanoTime()
        val rows = ctx.tracer.span("hybrid.exec", req)(Ctx.rows(df))
        plan += (t1 - t0) / 1e6
        exec += (System.nanoTime() - t1) / 1e6
        rows
      }).foreach { case (res, ms) =>
        lat += ms
        ctx.checkResult(q, res, docOf, s"search ${q.kind}")
        if (q.vec.nonEmpty && q.text.nonEmpty) {
          def leg(name: String, lq: Query): Double = {
            val t0 = System.nanoTime()
            ctx.tracer.span(s"$name.search", req)(Ctx.rows(search(lq)))
            val ms = (System.nanoTime() - t0) / 1e6
            legs(name) += ms
            ms
          }
          val vm = leg("vector", q.copy(text = None))
          val tm = leg("text", q.copy(vec = None))
          if (q.filt.nonEmpty) leg("filter", q.copy(vec = None, text = None))
          fusionSelf += ms - vm - tm
        }
      }
      i += 1
    }
    ctx.phase("distributed window")

    def med(xs: collection.Seq[Double]) = Stats.medianOrZero(xs.toSeq)
    ctx.listener.quiesce()
    val spans = ctx.tracer.all
    val ops = spans.filter(_.name == "search.op")
    val work = ops.map(o => Trace.inclusiveWork(spans, ctx.listener, o.id))
    val n = math.max(1, ops.size).toDouble
    ctx.layers("search.p50_ms") = med(lat)
    ctx.layers("search.max_ms") = lat.maxOption.getOrElse(0.0)
    ctx.layers("search.queries") = lat.size
    ctx.layers("hybrid.plan_ms") = med(plan)
    ctx.layers("hybrid.exec_ms") = med(exec)
    ctx.layers("spark.jobs_per_q") = work.map(_.jobs).sum / n
    ctx.layers("spark.stages_per_q") = work.map(_.stages).sum / n
    ctx.layers("spark.tasks_per_q") = work.map(_.tasks).sum / n
    ctx.layers("spark.busy_share") =
      work.map(_.runMs).sum / (ops.map(_.ms).sum * ctx.cores).max(1e-9)
    ctx.layers("store.rows_read_per_q") = work.map(_.recordsRead).sum / n
    ctx.layers("spark.shuffle_bytes_per_q") = work.map(_.shuffleWriteBytes).sum / n
    ctx.layers("vector.search_ms") = med(legs("vector"))
    ctx.layers("text.search_ms") = med(legs("text"))
    ctx.layers("filter.search_ms") = med(legs("filter"))
    ctx.layers("search.fusion_self_ms") = med(fusionSelf)

    Batch.run(ctx, hs.read(), docs.toSeq, planted)
    val live = mutable.LinkedHashMap(docs.map(d => d.id -> d).toSeq: _*)
    Ingest.run(ctx, hs, root, q => Ctx.rows(search(q)), live)
  }

  /** Same length, scores equal within rounding at every rank, and the same
    * ids at every rank whose score is not tied with the last one. */
  def agree(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean = {
    def near(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    a.size == b.size && a.zip(b).forall { case ((_, sa), (_, sb)) => near(sa, sb) } && {
      val cut = a.lastOption.map(_._2)
      def firm(xs: Seq[(Long, Double)]) =
        xs.filterNot { case (_, s) => cut.exists(near(_, s)) }.map(_._1).toSet
      firm(a) == firm(b)
    }
  }
}
