package graft

import graft.filter.{Filter, FilterGroup}
import graft.store.HybridStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** Structural store gates at spec scale (10k rows). Each counts work that
  * host load cannot move — records a fold reads or writes, rows a codes
  * scan produces, pieces a reopened leg holds — so a regression to
  * corpus-sized work fails on any machine, where a wall-clock bound would
  * need a corpus of millions and a quiet host. */
class ScaleGateSpec extends SparkSpec {

  private val corpus = 10000L

  /** Runs `f` and returns the input records read and output records
    * written by every task that ended meanwhile. */
  private def ioRecords[T](f: => T): (T, Long, Long) = {
    val sc = spark.sparkContext
    val read = new java.util.concurrent.atomic.AtomicLong
    val written = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          written.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
        }
    }
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.PinListenerBus.drain(sc)
      (r, read.get, written.get)
    } finally sc.removeSparkListener(l)
  }

  /** Rows produced by the executed plan's scans of the `codes` column:
    * cached pieces scan as InMemoryTableScan (batch min/max pruning),
    * evicted ones as FileSourceScan (row-group pruning). */
  private def codeScanRows(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case m: InMemoryTableScanExec => Seq(m)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "codes"))
      .map(_.metrics("numOutputRows").value).sum
  }

  /** Session settings for the duration of `f`, restored afterwards. */
  private def withConf[T](confs: (String, String)*)(f: => T): T = {
    val s = spark
    val saved = confs.map { case (key, _) => key -> s.conf.getOption(key) }
    try {
      confs.foreach { case (key, v) => s.conf.set(key, v) }
      f
    } finally saved.foreach {
      case (key, Some(v)) => s.conf.set(key, v)
      case (key, None) => s.conf.unset(key)
    }
  }

  /** 16-d vectors in 64 natural clusters plus bounded per-row noise. */
  private def vec(idSql: String) =
    expr("transform(sequence(0, 15), j -> CAST(" +
      s"sin((($idSql) % 64) * 7.77 + j * 1.31) * 0.8 + " +
      s"((sin(($idSql) * 12.9898 + j * 78.233) * 43758.5453) % 1.0D)" +
      " * 0.25 AS FLOAT))")

  /** Docs over a bounded vocabulary of about 120 terms, 0.6% of the
    * corpus as in a Heaps-law 10M-doc corpus of 60k terms, so a df fold
    * is vocabulary-sized and stays well under the corpus. */
  private def docs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id"),
      concat_ws(" ", concat(lit("w"), col("id") % 101),
        concat(lit("v"), col("id") % 13), lit("common body line")).as("text"),
      vec("id").as("vector"), (col("id") % 97).cast("int").as("bucket"))

  private lazy val qv = spark.range(1).select(lit(0L).as("qid"), vec("12345").as("qvec"))

  test("text + IVF store: each append and a post-compaction append read " +
       "batch-proportional records, and a reopened store's first search " +
       "loads the durable pieces without writing them again") {
    // a read of a cached frame counts one record per cached batch; in
    // batches of ten rows a cached corpus read still counts a tenth of
    // the corpus, twice the bound below
    withConf("spark.sql.inMemoryColumnarStorage.batchSize" -> "10") {
    val root = java.nio.file.Files.createTempDirectory("gateio").toString
    def open() = new HybridStore(spark, root, incrementalIvf = Some((16, 16)))
    val hs = open()
    (0 until 2).foreach(i => hs.append(docs(i * corpus / 2, corpus / 2)))
    // the first search seeds both logs over the whole corpus
    assert(hs.search(queryVec = Some(qv), queryText = Some("w12 v5 common"))
      .count() > 0)
    // a batch is a thousandth of the corpus, as 10k rows are of 10M; a
    // text fold reads about nine records per doc (its tokens and pieces)
    val batch = corpus / 1000
    val appendRead = (0 until 2).map { c =>
      ioRecords(hs.append(docs(corpus + c * batch, batch)))._2
    }
    assert(hs.search(queryText = Some("w12")).count() > 0)
    val bytesBefore = hs.store.totalBytes()
    hs.compact()
    // the rewrite re-encodes the rows, so allow a few percent of growth
    assert(hs.store.totalBytes() <= bytesBefore * 1.05,
      s"compaction grew the store: $bytesBefore -> ${hs.store.totalBytes()}")
    val (_, postCompactRead, _) =
      ioRecords(hs.append(docs(corpus + 10 * batch, batch)))
    assert(hs.search(queryText = Some("w12")).count() > 0)
    hs.close()
    val reopened = open()
    val (_, _, reopenWritten) = ioRecords(assert(reopened.search(
      queryVec = Some(qv), queryText = Some("w12")).count() > 0))
    reopened.close()
    // a fold reads about the batch plus piece bookkeeping; a rebuild per
    // mutation reads the corpus
    assert(appendRead.max < corpus / 20,
      s"per-append records read $appendRead are not batch-proportional " +
        s"(corpus $corpus)")
    assert(postCompactRead < corpus / 20,
      s"post-compaction append read $postCompactRead records")
    // loading writes nothing; re-tokenizing rewrites corpus-sized pieces
    assert(reopenWritten < corpus / 100,
      s"reopened first search wrote $reopenWritten records — the durable " +
        "pieces were rebuilt instead of loaded")
    }
  }

  test("text + routed PQ store: compact() times both legs and leaves one " +
       "piece per leg across a reopen, and the codes scan reads only the " +
       "probed clusters warm, cold and filtered") {
    // pruning works per cached batch and per parquet row group, which the
    // defaults size for millions of rows; at 10k rows one batch or row
    // group would hold most of the piece, so both shrink with the corpus
    withConf("spark.sql.inMemoryColumnarStorage.batchSize" -> "100",
        "parquet.block.size" -> "4096") {
      val root = java.nio.file.Files.createTempDirectory("gatepq").toString
      val spec = HybridStore.PqSpec(m = 4, ksub = 16, maxIter = 5,
        refineFactor = 4, nlist = 64, nprobe = 8)
      def open() = new HybridStore(spark, root, incrementalPq = Some(spec))
      val hs = open()
      hs.append(docs(0L, corpus))
      assert(hs.search(queryVec = Some(qv), queryText = Some("w12 v5 common"))
        .count() > 0)
      (0 until 2).foreach(c => hs.append(docs(corpus + c * 100L, 100L)))
      hs.deleteFrom(spark.range(0L, corpus, 100L).select(col("id")))
      assert(hs.search(queryVec = Some(qv), queryText = Some("w12")).count() > 0)
      hs.compact()
      assert(Set("text", "pq").subsetOf(hs.lastCompactSecs.keySet),
        s"compaction split misses a leg: ${hs.lastCompactSecs}")
      hs.close()

      val hs2 = open()
      assert(hs2.search(queryVec = Some(qv), queryText = Some("w12")).count() > 0)
      assert(hs2.textLogPieces == 1,
        s"text log reopened with ${hs2.textLogPieces} pieces")
      assert(hs2.pqLogHandle.exists(_.pieceCount == 1),
        "pq log reopened with a piece count other than 1")

      val idx = hs2.pqLogHandle.get.ivfPqIndex
      val q = qv.select(col("qvec")).head().getSeq[Float](0).toArray
      val probed = idx.coarse.ranked(q, spec.nprobe).toSet
      val mass = idx.encoded.groupBy(col("cluster")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val live = mass.values.sum
      val probedMass = probed.toSeq.map(c => mass.getOrElse(c, 0L)).sum
      // k-means leaves uneven lists, so the bound is the probed clusters'
      // own mass (x1.3) plus a tenth of the corpus for boundary batches
      def gate(label: String, rows: Long): Unit = {
        assert(rows > 0, s"$label: no codes scan in the plan")
        assert(rows <= probedMass * 1.3 + live / 10,
          s"$label codes scan produced $rows rows against a probed mass " +
            s"of $probedMass (of $live live): the cluster IN predicate " +
            "is not pruning")
      }
      val unfiltered = hs2.search(queryVec = Some(qv))
      unfiltered.collect() // fills the piece cache
      gate("warm", codeScanRows(unfiltered))
      hs2.pqLogHandle.foreach(_.evictPieceCaches())
      gate("cold", codeScanRows(hs2.search(queryVec = Some(qv))))
      val bucket7 = Seq(FilterGroup(Seq(Filter.Eq("bucket", 7L))))
      val filtered = hs2.search(filters = bucket7, queryVec = Some(qv))
      gate("filtered", codeScanRows(filtered))
      assert(filtered.collect().forall(_.getLong(0) % 97 == 7L),
        "filtered routed search served ids outside the filter")
      hs2.close()
    }
  }

  test("hot-shingle pair join counts every pair exactly once unsalted, " +
       "salted and AUTO-salted, a corpus without shared shingles pairs " +
       "nothing, and a hash split lands within a point of its weight") {
    // 40 of 400 docs open with one shared trigram; the rest of every doc
    // is unique md5 tokens
    val docs = spark.range(400L).select(col("id"), lit("blk").as("src"),
      expr("concat_ws(' ', CASE WHEN id < 40 THEN 'h0 h1 h2' ELSE '' END, " +
        "concat_ws(' ', transform(sequence(0, 9), j -> " +
        "substr(md5(concat('j', id, '_', j)), 1, 8))))").as("text"))
    def pairs(df: DataFrame, saltHotAbove: Long) =
      graft.pipeline.Dedup.jaccardPairs(df, "id", "text", "src",
        saltHotAbove = saltHotAbove, salts = 4, saltSampleFraction = 1.0,
        autoSaltDf = 20L).count()
    val hotPairs = 40L * 39L / 2L
    assert(pairs(docs, 0L) == hotPairs, "unsalted")
    assert(pairs(docs, 20L) == hotPairs, "salted")
    assert(pairs(docs, -1L) == hotPairs, "AUTO-salted")
    assert(pairs(docs.filter(col("id") >= 40L), -1L) == 0L,
      "unique-shingle docs paired")
    val train = graft.pipeline.Curation.splitHash(spark.range(corpus).toDF("id"),
        "id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .filter(col("split") === "train").count()
    assert(math.abs(train - corpus * 8 / 10) < corpus / 100,
      s"train split holds $train of $corpus")
  }

  test("serve() packs id-only metadata as one primitive column and keeps " +
       "boxed rows when the store carries a metadata column") {
    def handle(withMeta: Boolean) = {
      val hs = new HybridStore(spark,
        java.nio.file.Files.createTempDirectory("gatepacked").toString)
      val cols = Seq("id", "vector") ++ (if (withMeta) Seq("bucket") else Nil)
      hs.append(docs(0L, 200L).select(cols.map(col): _*))
      try hs.serve() finally hs.close()
    }
    assert(handle(withMeta = false).packedMeta, "vector-only store boxed its ids")
    assert(!handle(withMeta = true).packedMeta,
      "a store with a metadata column took the id-only path")
  }
}
