package graft.vector

import graft.filter.{Filter, FilterGroup, Filters}
import graft.hybrid.Hybrid
import graft.text.{BM25, BM25Corpus}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The embedded serve kernels: BM25's impact scratch, the IVF probe
  * (centroid ranking, pieces across list boundaries, small probes on the
  * calling thread) and the local filter evaluator behind the hybrid memo.
  *
  * BM25 scores are pinned with `==` against an in-spec model of the
  * per-query fold — a LongMap keyed by doc, `idf · norm` added term by term
  * in query-term order — so any change of summation order shows. */
class EmbeddedServeKernelSpec extends graft.SparkSpec {

  // ---------------------------------------------------------------- BM25

  /** Deterministic text over a 60-word vocabulary, plus a block of
    * identical docs (ties) whose ids arrive out of order. */
  private lazy val textRows: Seq[(Long, String)] = {
    var x = 12345L
    def next(m: Int): Int = {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      ((x >>> 33) % m).toInt
    }
    val vocab = (0 until 60).map(i => s"w$i")
    val plain = (0L until 400L).map { id =>
      val n = 1 + next(12)
      id -> (0 until n).map(_ => vocab(math.min(next(60), next(60)))).mkString(" ")
    }
    val ties = Seq(907L, 903L, 909L, 901L, 905L, 902L).map(_ -> "zebra okapi")
    new scala.util.Random(7).shuffle(plain ++ ties)
  }

  private lazy val corpus: BM25Corpus = {
    val s = spark; import s.implicits._
    BM25.build(textRows.toDF("id", "text").repartition(3))
  }

  private lazy val served = BM25.serve(corpus)

  /** Today's fold, from the corpus frames: per query term (distinct, in
    * query order) and per posting, `idf · norm` added into a LongMap. */
  private lazy val model: (String, Int, Long => Boolean) => Seq[(Long, Double)] = {
    val st = corpus.stats.head()
    val (nDocs, avgdl) = (st.getAs[Double]("n_docs"), st.getAs[Double]("avgdl"))
    val df = corpus.termDf.select(col("term"), col("df").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val post = corpus.postings
      .select(col("term"), col("id").cast("long"), col("tf").cast("double"),
        col("dl").cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))) }
    (query, k, filter) => {
      val acc = scala.collection.mutable.LongMap.empty[Double]
      corpus.tokenizer.tokens(query).distinct.foreach { t =>
        post.get(t).foreach { ps =>
          val dfT = df(t)
          val idf = math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1.0)
          ps.foreach { case (id, tf, dl) =>
            if (filter == null || filter(id)) {
              val norm = tf * (BM25.K1 + 1.0) /
                (tf + BM25.K1 * (1.0 - BM25.B + BM25.B * dl / avgdl))
              acc.updateWith(id) {
                case Some(v) => Some(v + idf * norm)
                case None    => Some(idf * norm)
              }
            }
          }
        }
      }
      val all = acc.toSeq.sortBy { case (id, s) => (-s, id) }
      if (k <= 0) all else all.take(k)
    }
  }

  private val queries = Seq("w0", "w1 w2", "w3 w0 w3 w7", "w12 w40 w59 w5",
    "w2 w1", "zebra", "okapi w0", "nothere", "", "w9 nothere w11 w13 w0")

  test("LocalBM25 == the per-query LongMap fold, unfiltered, every k") {
    for (q <- queries; k <- Seq(1, 3, 10, 50, 0, -1)) {
      assert(served.search(q, k) == model(q, k, null), s"q='$q' k=$k")
    }
  }

  test("LocalBM25 with an IdSet filter == the same lambda filter == the fold") {
    val keep = textRows.map(_._1).filter(id => id % 5 == 1 || id % 7 == 0 || id > 900)
    val set = IdSet(keep.toArray)
    val boxed = keep.toSet
    val lambda: Long => Boolean = id => boxed.contains(id)
    for (q <- queries; k <- Seq(1, 5, 20, 0)) {
      val viaSet = served.search(q, k, set)
      assert(viaSet == served.search(q, k, lambda), s"set/lambda q='$q' k=$k")
      assert(viaSet == model(q, k, lambda), s"fold q='$q' k=$k")
      assert(viaSet.forall { case (id, _) => boxed(id) })
    }
    // an empty set and a set of absent ids match nothing
    assert(served.search("w0 w1", 10, IdSet(Array.empty[Long])).isEmpty)
    assert(served.search("w0 w1", 10, IdSet(Array(-5L, 100000L))).isEmpty)
    // the scratch is clean after filtered queries: unfiltered still equal
    assert(served.search("w0 w1", 0) == model("w0 w1", 0, null))
  }

  test("LocalBM25 ties at the cut go to the smaller id") {
    val top3 = served.search("zebra", 3)
    assert(top3.map(_._1) == Seq(901L, 902L, 903L))
    assert(top3.map(_._2).distinct.size == 1)
    assert(served.search("zebra okapi", 0).map(_._1) ==
      Seq(901L, 902L, 903L, 905L, 907L, 909L))
  }

  test("LocalBM25 query allocation is bounded by the matches, not the corpus") {
    val s = spark; import s.implicits._
    // 50k docs; the query's terms match 10 of them
    val bigCorpus = BM25.build(spark.range(50000).select(col("id"),
      when(col("id") % 5000 === 17, lit("rare common filler"))
        .otherwise(concat(lit("common t"), (col("id") % 997).cast("string")))
        .as("text")))
    val big = BM25.serve(bigCorpus)
    assert(big.size == 50000)
    assert(big.search("rare", 0).size == 10)
    val set = IdSet((0L until 50000L by 37L).toArray ++ Array(17L, 5017L))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val me = Thread.currentThread().getId
    def perCall(f: => Any): Double = {
      var i = 0
      while (i < 2000) { f; i += 1 } // warm-up: JIT and this thread's scratch
      val before = mx.getThreadAllocatedBytes(me)
      i = 0
      while (i < 200) { f; i += 1 }
      (mx.getThreadAllocatedBytes(me) - before) / 200.0
    }
    val plain = perCall(big.search("rare zzz", 10))
    val filtered = perCall(big.search("rare zzz", 10, set))
    assert(plain < 16 * 1024, s"unfiltered query allocates $plain B/call")
    assert(filtered < 16 * 1024, s"IdSet-filtered query allocates $filtered B/call")
    assert(big.search("rare", 10, set).map(_._1) ==
      (0L until 10L).map(17L + 5000L * _).filter(set))

    // handles share one scratch per thread: a re-served handle's first
    // query reuses the one this thread already holds, and a smaller
    // handle queried in between leaves it clean for both
    val again = BM25.serve(bigCorpus)
    val before = mx.getThreadAllocatedBytes(me)
    again.search("rare zzz", 10)
    val first = mx.getThreadAllocatedBytes(me) - before
    assert(first < 64 * 1024, s"a second handle's first query allocates $first B")
    for (q <- queries; k <- Seq(3, 0)) {
      assert(served.search(q, k) == model(q, k, null), s"q='$q' k=$k")
      assert(again.search("rare common", k) == big.search("rare common", k))
    }
  }

  // ----------------------------------------------------------------- IVF

  /** `n` clustered 8-d rows; row ids are shuffled across partitions. */
  private def vectors(n: Int): DataFrame =
    spark.range(n).select(col("id"), expr(
      "transform(sequence(0, 7), j -> cast(" +
        "sin((id % 9) * 131 + j) * 20 + sin(id * 7919 + j * 104729) * 3 as float))"
    ).as("vector")).repartition(4)

  private lazy val small = Ivf.build(vectors(3000).cache(), nlist = 6, maxIter = 4)
  private lazy val large = Ivf.build(vectors(40000).cache(), nlist = 3, maxIter = 3)

  private def queryVecs(n: Int): Array[Array[Float]] =
    Array.tabulate(n) { i =>
      Array.tabulate(8)(j => (math.sin(i * 17.0 + j * 3.0) * 20).toFloat)
    }

  private def distributed(index: Ivf.Index, qs: Array[Array[Float]], k: Int,
                          np: Int): Map[Long, Seq[(Long, Double)]] = {
    val s = spark; import s.implicits._
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("qid", "qvec")
    Ivf.search(index, qdf, k, np).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))) }
  }

  test("LocalIvf == Ivf.search row for row, probe under one piece") {
    val local = IvfServe.serve(small)
    assert(local.size * 8 < IvfServe.PieceCoords)
    val qs = queryVecs(6)
    for (np <- Seq(1, 2, 6)) {
      val dist = distributed(small, qs, 15, np)
      qs.indices.foreach { i =>
        assert(local.search(qs(i), 15, np) == dist(i.toLong), s"np=$np q=$i")
      }
    }
  }

  test("LocalIvf == Ivf.search row for row, probe of several pieces") {
    val local = IvfServe.serve(large)
    // 8-d rows: a piece holds PieceCoords / 8 of them
    assert(local.size == 40000 && local.size > IvfServe.PieceCoords / 8)
    val qs = queryVecs(4)
    val dist = distributed(large, qs, 25, 3)
    qs.indices.foreach { i =>
      assert(local.search(qs(i), 25, 3) == dist(i.toLong), s"q=$i")
    }
    // k <= 0 returns every probed row in (score, id) order
    val all = local.search(qs(0), 0, 3)
    assert(all.size == 40000)
    assert(all == all.sortBy { case (id, s) => (s, id) })
  }

  test("a probe under one piece calls its filter only on the calling thread") {
    val local = IvfServe.serve(small)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val res = local.search(queryVecs(1)(0), 10, 6, id => {
      seen.add(Thread.currentThread()); id % 2 == 0
    })
    assert(res.nonEmpty && res.forall(_._1 % 2 == 0))
    assert(seen.size == 1 && seen.contains(Thread.currentThread()))
  }

  test("centroid distance ties rank by list index") {
    // lists 0 and 2 share a centroid; list 1 is farther from the query
    val cents = Array(Array(1f, 0f), Array(5f, 5f), Array(1f, 0f), Array(-1f, 0f))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vector", ArrayType(FloatType)), StructField("cluster", IntegerType)))
    val rows = Seq(
      Row(1L, Seq(1f, 0.1f), 0), Row(2L, Seq(1f, 0.2f), 0),
      Row(10L, Seq(1f, 0.05f), 2), Row(11L, Seq(1f, 0.15f), 2),
      Row(20L, Seq(5f, 5f), 1), Row(30L, Seq(-1f, 0f), 3))
    val idx = Ivf.Index(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      Kmeans.Model(cents))
    val local = IvfServe.serve(idx)
    val q = Array(1f, 0f)
    assert(Kmeans.Model(cents).ranked(q).toSeq == Seq(0, 2, 3, 1))
    assert(local.search(q, 10, 1).map(_._1) == Seq(1L, 2L))
    assert(local.search(q, 10, 2).map(_._1) == Seq(10L, 1L, 11L, 2L))
    // every window size: the first n of a stable sort on distance
    val rnd = new scala.util.Random(3)
    val cs = Array.fill(40)(Array.fill(4)(rnd.nextInt(3).toFloat))
    (0 until 20).foreach { _ =>
      val qv = Array.fill(4)(rnd.nextInt(3).toFloat)
      val stable = cs.indices.map(c => (Kmeans.l2sq(qv, cs(c)), c)).sorted.map(_._2)
      for (np <- Seq(0, 1, 5, 17, 40, 41))
        assert(Kmeans.Model(cs).ranked(qv, np).toSeq == stable.take(np))
    }
  }

  // ------------------------------------------------------- filter evaluator

  private lazy val metaSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("flag", BooleanType), StructField("qty", IntegerType),
    StructField("big", LongType), StructField("price", DoubleType),
    StructField("name", StringType)))

  private lazy val metaRows: Seq[Row] = (0L until 40L).map { i =>
    Row(i,
      if (i % 5 == 0) null else java.lang.Boolean.valueOf(i % 2 == 0),
      if (i % 7 == 0) null else Integer.valueOf((i % 6).toInt),
      java.lang.Long.valueOf(9007199254740990L + i % 5),
      if (i % 6 == 0) null else java.lang.Double.valueOf(i * 0.5),
      if (i % 4 == 0) null else s"n${i % 3}")
  }

  private lazy val meta: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(metaRows, 2), metaSchema).cache()

  test("matchesLocal == the compiled Column: Booleans, mixed integral and " +
       "fractional values, nulls, incomparable types") {
    import Filter._
    val cases: Seq[Filter] = Seq(
      // Boolean fields (nulls on every fifth row)
      Eq("flag", true), Ne("flag", true), Gt("flag", false), Gte("flag", true),
      Lt("flag", true), Lte("flag", false), In("flag", Seq(false)),
      NotIn("flag", Seq(true)), Not(Eq("flag", false)),
      // integral field vs fractional and integral values
      Gt("qty", 2.5), Gte("qty", 3.0), Lt("qty", 2L), Lte("qty", 2.0),
      Eq("qty", 3.0), Ne("qty", 3L), Between("qty", 1.5, 4L),
      Not(Between("qty", 1, 3.5)), In("qty", Seq(1, 2.0, 5L)),
      NotIn("qty", Seq(0, 4.0)),
      // longs beyond double precision vs a double value
      Eq("big", 9007199254740992.0), Gt("big", 9007199254740991L),
      Between("big", 9007199254740991L, 9007199254740993.0),
      // fractional field vs integral values
      Gt("price", 10), Lte("price", 7L), Between("price", 3, 12),
      In("price", Seq(2, 3.5, 20L)), Ne("price", 4),
      // strings
      Eq("name", "n1"), Gt("name", "n0"), Lt("name", "n2"), In("name", Seq("n0", "n2")),
      // null values: no comparison holds
      Eq("qty", null), Ne("price", null), Gt("flag", null), In("qty", Seq(null, 1)),
      // presence
      Exists("flag"), NotExists("qty"), Not(Exists("price")))
    // incomparable types: the evaluator matches no row; the compiled Column
    // is rejected (ANSI casts fail at analysis or at run time) or agrees
    val incomparable: Seq[Filter] = Seq(
      Eq("flag", 1), Gt("flag", 0.5), Eq("flag", "x"), Eq("qty", true),
      Lt("price", false), Eq("name", true), Gt("name", 1.5), Lt("name", 3L))
    val idx = metaSchema.fieldNames.zipWithIndex.toMap
    def local(f: Filter): Set[Long] = metaRows.filter { r =>
      Filters.matchesLocal(f, n => idx.get(n).map(i => if (r.isNullAt(i)) null else r.get(i)).orNull)
    }.map(_.getLong(0)).toSet
    def column(f: Filter): Set[Long] =
      meta.filter(Filters.compile(f)).select("id").collect().map(_.getLong(0)).toSet
    cases.foreach { f => assert(local(f) == column(f), s"local/Column divergence on $f") }
    incomparable.foreach { f =>
      assert(local(f).isEmpty, s"$f matched locally")
      scala.util.Try(column(f)).foreach(c => assert(c.isEmpty, s"$f matched via Column"))
    }
  }

  test("the filter memo stays exact across one-off filters and evictions") {
    import Filter._
    val local = Hybrid.serveModal(meta, None, None, Hybrid.Config(k = 100))
    val byId = metaRows.map(r => r.getLong(0) -> r).toMap
    val idx = metaSchema.fieldNames.zipWithIndex.toMap
    def expected(fs: Seq[FilterGroup]): Seq[Long] = metaRows.map(_.getLong(0)).sorted
      .filter(id => Filters.matchesGroups(fs, n => idx.get(n)
        .map(i => if (byId(id).isNullAt(i)) null else byId(id).get(i)).orNull))
    // repeating filters interleaved with 150 distinct ones (> 64 entries)
    (0 until 150).foreach { i =>
      val repeat = Seq(FilterGroup(Seq(Eq("qty", i % 6))))
      val oneOff = Seq(FilterGroup(Seq(Between("price", i * 0.1, i * 0.1 + 3.0))))
      Seq(repeat, oneOff).foreach { fs =>
        assert(local.search(fs, None, None).map(_._1) == expected(fs), s"$fs")
      }
    }
    // threads racing on the same new filters all read the one evaluation
    val fresh = (0 until 40).map(i => Seq(FilterGroup(Seq(Gt("price", i * 0.37)))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Seq[FilterGroup], Seq[Long])]] {
          def call() = fresh.indices.map { i =>
            val fs = fresh((i + t * 7) % fresh.size)
            fs -> local.search(fs, None, None).map(_._1)
          }
        })
      }
      jobs.flatMap(_.get()).foreach { case (fs, got) =>
        assert(got == expected(fs), s"$fs")
      }
    } finally pool.shutdown()
  }
}
