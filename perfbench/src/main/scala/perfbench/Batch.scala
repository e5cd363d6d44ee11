package perfbench

import graft.pipeline.Dedup
import graft.text.BM25
import graft.vector.{FlatKnn, Ivf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The analytical path, measured in the traced run of the `serve_ivf`
  * workload over its store's live view: exact kNN for a query batch, a
  * BM25 build, an IVF build and MinHash near-duplicate pairs. Work grows
  * with the data, so the expression kernels and the vector, text and
  * pipeline operators do it. One untimed pass warms the JVM and code
  * generation first. */
object Batch {
  val KnnQueries = 64
  val NList = 64
  val Ops = Seq("knn", "bm25", "kmeans", "minhash")
  val Layers: Seq[String] = Seq("batch.docs_per_s", "vector.knn_batch_s",
    "text.bm25_build_s", "vector.kmeans_s", "pipeline.minhash_s",
    "expr.l2_rows_per_s", "expr.tokenize_rows_per_s") ++
    Ops.flatMap(o => Seq("tasks", "shuffle_bytes", "spill_bytes", "busy_share")
      .map(m => s"spark.$m.$o"))

  /** `docs` are the documents of `corpus`; `planted` holds the
    * near-duplicate pairs among them. */
  def run(ctx: Ctx, corpus: DataFrame, docs: Seq[Doc], planted: Seq[(Long, Long)]): Unit = {
    val spark = ctx.spark
    val qvecs = ctx.gen.vectors("batch-queries", KnnQueries)
    val queries = {
      import spark.implicits._
      qvecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("qid", "qvec")
    }
    // what a correct BM25 build must count
    val docWords = docs.map(d => Gen.words(d.text).distinct)
    val postings = docWords.map(_.size.toLong).sum
    val terms = docWords.iterator.flatten.toSet.size.toLong

    def pass(req: Long): Map[String, Double] = {
      def op(name: String)(f: => Unit): (String, Double) = {
        val t0 = System.nanoTime()
        ctx.tracer.span(name, req)(f)
        name -> (System.nanoTime() - t0) / 1e9
      }
      Map(
        op("knn") {
          val got = FlatKnn.search(corpus.select("id", "vector"), queries, ctx.k)
            .collect().groupBy(_.getAs[Long]("qid"))
            .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSeq }
          val r = qvecs.indices.map(i => Ctx.recall(got.getOrElse(i.toLong, Nil),
            Ctx.exactTopK(docs, qvecs(i), ctx.k)))
          ctx.check(r.forall(_ == 1.0), s"batch kNN is not exact: mean recall ${r.sum / r.size}")
        },
        op("bm25") {
          val c = BM25.build(corpus)
          val p = c.postings.count()
          val t = c.termDf.count()
          val n = c.stats.collect().head.getAs[Double]("n_docs")
          ctx.check(p == postings && t == terms && n == docs.size,
            s"batch bm25: postings $p/$postings terms $t/$terms docs $n/${docs.size}")
        },
        op("kmeans") {
          val idx = Ivf.build(corpus.select("id", "vector"), NList)
          val per = idx.assigned.groupBy("cluster").count().collect()
            .map(r => (r.getInt(0), r.getLong(1)))
          ctx.check(per.map(_._2).sum == docs.size && per.forall(x => x._1 >= 0 && x._1 < NList),
            s"batch ivf: assigned ${per.map(_._2).sum} of ${docs.size} rows")
        },
        op("minhash") {
          val found = Dedup.minhashPairs(corpus, "id", "text").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val missed = planted.filterNot(found)
          ctx.check(missed.isEmpty, s"batch minhash: planted pairs not found: ${missed.take(5)}")
        })
    }

    pass(0)
    val t0 = System.nanoTime()
    val ops = pass(1)
    ctx.layers("batch.docs_per_s") = docs.size / ((System.nanoTime() - t0) / 1e9)
    ctx.layers("vector.knn_batch_s") = ops("knn")
    ctx.layers("text.bm25_build_s") = ops("bm25")
    ctx.layers("vector.kmeans_s") = ops("kmeans")
    ctx.layers("pipeline.minhash_s") = ops("minhash")

    // projection-only jobs over the expression kernels, written to the
    // no-op sink so nothing prunes the projected column
    def rowsPerS(name: String, df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t = System.nanoTime()
      ctx.tracer.span(name, 1)(df.write.format("noop").mode("overwrite").save())
      docs.size / ((System.nanoTime() - t) / 1e9)
    })
    ctx.layers("expr.l2_rows_per_s") = rowsPerS("expr.l2",
      corpus.select(graft.expr.VecKernels.l2sq(col("vector"), lit(qvecs.head)).as("d")))
    ctx.layers("expr.tokenize_rows_per_s") = rowsPerS("expr.tokenize",
      corpus.select(graft.text.Tokenize.simple(col("text")).as("t")))

    ctx.listener.quiesce()
    val spans = ctx.tracer.all
    Ops.foreach { name =>
      spans.find(s => s.name == name && s.request == 1).foreach { s =>
        val w = Trace.inclusiveWork(spans, ctx.listener, s.id)
        ctx.layers(s"spark.tasks.$name") = w.tasks
        ctx.layers(s"spark.shuffle_bytes.$name") = w.shuffleWriteBytes
        ctx.layers(s"spark.spill_bytes.$name") = w.spillBytes
        ctx.layers(s"spark.busy_share.$name") = w.runMs / (s.ms * ctx.cores).max(1e-9)
      }
    }
  }
}
