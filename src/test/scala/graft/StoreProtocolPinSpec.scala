package org.apache.spark {
  /** Test bridge to the listener bus: job events are delivered
    * asynchronously, so a per-step job count must wait for the queue. */
  object PinListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

import graft.hybrid.Hybrid
import graft.store.HybridStore

/** Pins the incremental-piece protocol of the durable store legs, step by
  * step, against values recorded before the legs shared one piece core.
  *
  * Four durable stores (text+IVF, text+PQ unrouted, text+PQ routed,
  * text+HNSW with graph persistence) run one history: append, seed (the
  * first read builds every leg), append, replace, delete, compact,
  * close, reopen (plus its seeding read), append, close. After every
  * step the spec compares:
  *
  *   - the files added and removed under the store root since the
  *     previous step (relative paths; Spark part-file names normalized to
  *     `part-*`, Hadoop `.crc` checksum files left out);
  *   - the leg marker-row counts and per-leg piece counts (the HNSW leg's
  *     count is its folded-segment count);
  *   - the number of Spark jobs the step ran, counted by a listener over
  *     jobs tagged with a per-step local property.
  *
  * A change here means the on-disk layout, the marker protocol or the
  * job structure of a mutation moved. */
class StoreProtocolPinSpec extends SparkSpec {

  private val cfg = Hybrid.Config(k = 10, fusion = Hybrid.Rrf)

  private def vecOf(i: Long): Array[Float] =
    Array.tabulate(4)(j => (math.sin(i * 1.3 + j * 0.7) * 2).toFloat)

  private def rows(ids: Seq[Long], tag: String) = {
    val s = spark
    import s.implicits._
    ids.map(id => (id, vecOf(id + tag.length), s"doc$id $tag shared words"))
      .toDF("id", "vector", "text")
  }

  private val PartFile = "part-\\d{5}-[0-9a-f-]{36}(-c\\d{3})?".r

  private def listing(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      val it = walk.iterator()
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !name.endsWith(".crc"))
          out += PartFile.replaceAllIn(base.relativize(p).toString, "part-*")
      }
      out.result()
    } finally walk.close()
  }

  private val StepKey = "graft.pin.step"

  /** Run the history on one store configuration and render one line per
    * step, `step jobs=N markers=text/vec/pq pieces=text/vec/pq/hnsw`,
    * each followed by one indented line per `+added` or `-removed`
    * normalized path. */
  private def history(label: String, open: String => HybridStore): String = {
    val root = java.nio.file.Files.createTempDirectory(s"pin$label").toString
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(StepKey)))
          .foreach(s => jobs.merge(s, 1, (a: Integer, b: Integer) => a + b))
    }
    val lines = Vector.newBuilder[String]
    var prev = Set.empty[String]
    var hs: HybridStore = null
    sc.addSparkListener(l)
    try {
      def step(name: String)(f: => Unit): Unit = {
        val key = s"$label/$name"
        sc.setLocalProperty(StepKey, key)
        try f finally sc.setLocalProperty(StepKey, null)
        org.apache.spark.PinListenerBus.drain(sc)
        val n = Option(jobs.get(key)).map(_.intValue).getOrElse(0)
        val (mk, pc) =
          if (hs.isClosed) ("-", "-")
          else {
            val m = hs.legMarkerRows
            (Seq("text", "vec", "pq").map(m(_)).mkString("/"),
              Seq(hs.textLogPieces, hs.vecLogPieces,
                hs.pqLogHandle.map(_.pieceCount).getOrElse(0),
                hs.hnswLogFolded).mkString("/"))
          }
        val now = listing(root)
        val delta = (now -- prev).toSeq.sorted.map("+" + _) ++
          (prev -- now).toSeq.sorted.map("-" + _)
        prev = now
        lines += s"$name jobs=$n markers=$mk pieces=$pc"
        delta.foreach(d => lines += s"  $d")
      }
      step("append1") { hs = open(root); hs.append(rows(1L to 8L, "a")) }
      step("seed") { hs.read() }
      step("append2") { hs.append(rows(9L to 12L, "b")) }
      step("replace") { hs.append(rows(Seq(2L, 3L), "replaced")) }
      step("delete") { hs.delete(Seq(4L, 10L)) }
      step("compact") { hs.compact() }
      step("close") { hs.close() }
      step("reopen") { hs = open(root); hs.read() }
      step("append3") { hs.append(rows(Seq(13L, 14L), "c")) }
      step("close2") { hs.close() }
    } finally {
      sc.removeSparkListener(l)
      if (hs != null && !hs.isClosed) hs.close()
    }
    lines.result().mkString("\n")
  }

  private def check(label: String, open: String => HybridStore,
                    want: String): Unit = {
    val got = history(label, open)
    assert(got == want.stripMargin.trim,
      s"$label protocol moved; the history now renders as:\n$got")
  }

  test("text+IVF store: layout, markers, pieces and jobs per step") {
    check("ivf", r => new HybridStore(spark, r, cfg,
      incrementalIvf = Some((2, 0))), Pins.ivf)
  }

  test("text+PQ (unrouted) store: layout, markers, pieces and jobs per step") {
    check("pq", r => new HybridStore(spark, r, cfg,
      incrementalPq = Some(HybridStore.PqSpec(m = 2, ksub = 4, maxIter = 5,
        refineFactor = 1))), Pins.pq)
  }

  test("text+PQ (routed) store: layout, markers, pieces and jobs per step") {
    check("ivfpq", r => new HybridStore(spark, r, cfg,
      incrementalPq = Some(HybridStore.PqSpec(m = 2, ksub = 4, maxIter = 5,
        refineFactor = 1, nlist = 2, nprobe = 2))), Pins.ivfpq)
  }

  test("text+HNSW (persisted) store: layout, markers, pieces and jobs per " +
       "step") {
    check("hnsw", r => new HybridStore(spark, r, cfg,
      incrementalHnsw = Some(HybridStore.HnswSpec(m = 8,
        efConstruction = 32))), Pins.hnsw)
  }
}

private object Pins {
  val ivf = """append1 jobs=2 markers=0/0/0 pieces=0/0/0/0
      |  +seg=0/_SUCCESS
      |  +seg=0/part-*.snappy.parquet
      |seed jobs=27 markers=0/0/0 pieces=1/1/0/0
      |  +_text/_tokenizer
      |  +_text/seg=0/_tok
      |  +_text/seg=0/lens/_SUCCESS
      |  +_text/seg=0/lens/part-*.snappy.parquet
      |  +_text/seg=0/postings/_SUCCESS
      |  +_text/seg=0/postings/part-*.snappy.parquet
      |  +_vec/_model/_SUCCESS
      |  +_vec/_model/part-*.snappy.parquet
      |  +_vec/seg=0/_SUCCESS
      |  +_vec/seg=0/part-*.snappy.parquet
      |append2 jobs=18 markers=0/0/0 pieces=2/2/0/0
      |  +_text/seg=1/_tok
      |  +_text/seg=1/lens/_SUCCESS
      |  +_text/seg=1/lens/part-*.snappy.parquet
      |  +_text/seg=1/postings/_SUCCESS
      |  +_text/seg=1/postings/part-*.snappy.parquet
      |  +_vec/seg=1/_SUCCESS
      |  +_vec/seg=1/part-*.snappy.parquet
      |  +seg=1/_SUCCESS
      |  +seg=1/part-*.snappy.parquet
      |replace jobs=36 markers=2/2/0 pieces=3/3/0/0
      |  +_text/seg=2/_tok
      |  +_text/seg=2/lens/_SUCCESS
      |  +_text/seg=2/lens/part-*.snappy.parquet
      |  +_text/seg=2/postings/_SUCCESS
      |  +_text/seg=2/postings/part-*.snappy.parquet
      |  +_vec/seg=2/_SUCCESS
      |  +_vec/seg=2/part-*.snappy.parquet
      |  +seg=2/_SUCCESS
      |  +seg=2/part-*.snappy.parquet
      |delete jobs=23 markers=4/4/0 pieces=3/3/0/0
      |  +tombstones/_SUCCESS
      |  +tombstones/part-*.snappy.parquet
      |compact jobs=20 markers=0/0/0 pieces=1/1/0/0
      |  +_text/seg=3/_tok
      |  +_text/seg=3/lens/_SUCCESS
      |  +_text/seg=3/lens/part-*.snappy.parquet
      |  +_text/seg=3/postings/_SUCCESS
      |  +_text/seg=3/postings/part-*.snappy.parquet
      |  +_vec/seg=3/_SUCCESS
      |  +_vec/seg=3/part-*.snappy.parquet
      |  +retired=3
      |  +seg=3/_SUCCESS
      |  +seg=3/part-*.snappy.parquet
      |close jobs=0 markers=- pieces=-
      |  -_text/seg=0/_tok
      |  -_text/seg=0/lens/_SUCCESS
      |  -_text/seg=0/lens/part-*.snappy.parquet
      |  -_text/seg=0/postings/_SUCCESS
      |  -_text/seg=0/postings/part-*.snappy.parquet
      |  -_text/seg=1/_tok
      |  -_text/seg=1/lens/_SUCCESS
      |  -_text/seg=1/lens/part-*.snappy.parquet
      |  -_text/seg=1/postings/_SUCCESS
      |  -_text/seg=1/postings/part-*.snappy.parquet
      |  -_text/seg=2/_tok
      |  -_text/seg=2/lens/_SUCCESS
      |  -_text/seg=2/lens/part-*.snappy.parquet
      |  -_text/seg=2/postings/_SUCCESS
      |  -_text/seg=2/postings/part-*.snappy.parquet
      |  -_vec/seg=0/_SUCCESS
      |  -_vec/seg=0/part-*.snappy.parquet
      |  -_vec/seg=1/_SUCCESS
      |  -_vec/seg=1/part-*.snappy.parquet
      |  -_vec/seg=2/_SUCCESS
      |  -_vec/seg=2/part-*.snappy.parquet
      |  -retired=3
      |  -seg=0/_SUCCESS
      |  -seg=0/part-*.snappy.parquet
      |  -seg=1/_SUCCESS
      |  -seg=1/part-*.snappy.parquet
      |  -seg=2/_SUCCESS
      |  -seg=2/part-*.snappy.parquet
      |  -tombstones/_SUCCESS
      |  -tombstones/part-*.snappy.parquet
      |reopen jobs=14 markers=0/0/0 pieces=1/1/0/0
      |append3 jobs=18 markers=0/0/0 pieces=2/2/0/0
      |  +_text/seg=4/_tok
      |  +_text/seg=4/lens/_SUCCESS
      |  +_text/seg=4/lens/part-*.snappy.parquet
      |  +_text/seg=4/postings/_SUCCESS
      |  +_text/seg=4/postings/part-*.snappy.parquet
      |  +_vec/seg=4/_SUCCESS
      |  +_vec/seg=4/part-*.snappy.parquet
      |  +seg=4/_SUCCESS
      |  +seg=4/part-*.snappy.parquet
      |close2 jobs=0 markers=- pieces=-"""

  val pq = """append1 jobs=2 markers=0/0/0 pieces=0/0/0/0
      |  +seg=0/_SUCCESS
      |  +seg=0/part-*.snappy.parquet
      |seed jobs=25 markers=0/0/0 pieces=1/0/1/0
      |  +_pq/_model/_COMMIT
      |  +_pq/_model/_graft_meta.json
      |  +_pq/_model/codebooks/_SUCCESS
      |  +_pq/_model/codebooks/part-*.snappy.parquet
      |  +_pq/seg=0/_SUCCESS
      |  +_pq/seg=0/part-*.snappy.parquet
      |  +_text/_tokenizer
      |  +_text/seg=0/_tok
      |  +_text/seg=0/lens/_SUCCESS
      |  +_text/seg=0/lens/part-*.snappy.parquet
      |  +_text/seg=0/postings/_SUCCESS
      |  +_text/seg=0/postings/part-*.snappy.parquet
      |append2 jobs=18 markers=0/0/0 pieces=2/0/2/0
      |  +_pq/seg=1/_SUCCESS
      |  +_pq/seg=1/part-*.snappy.parquet
      |  +_text/seg=1/_tok
      |  +_text/seg=1/lens/_SUCCESS
      |  +_text/seg=1/lens/part-*.snappy.parquet
      |  +_text/seg=1/postings/_SUCCESS
      |  +_text/seg=1/postings/part-*.snappy.parquet
      |  +seg=1/_SUCCESS
      |  +seg=1/part-*.snappy.parquet
      |replace jobs=36 markers=2/0/2 pieces=3/0/3/0
      |  +_pq/seg=2/_SUCCESS
      |  +_pq/seg=2/part-*.snappy.parquet
      |  +_text/seg=2/_tok
      |  +_text/seg=2/lens/_SUCCESS
      |  +_text/seg=2/lens/part-*.snappy.parquet
      |  +_text/seg=2/postings/_SUCCESS
      |  +_text/seg=2/postings/part-*.snappy.parquet
      |  +seg=2/_SUCCESS
      |  +seg=2/part-*.snappy.parquet
      |delete jobs=23 markers=4/0/4 pieces=3/0/3/0
      |  +tombstones/_SUCCESS
      |  +tombstones/part-*.snappy.parquet
      |compact jobs=20 markers=0/0/0 pieces=1/0/1/0
      |  +_pq/seg=3/_SUCCESS
      |  +_pq/seg=3/part-*.snappy.parquet
      |  +_text/seg=3/_tok
      |  +_text/seg=3/lens/_SUCCESS
      |  +_text/seg=3/lens/part-*.snappy.parquet
      |  +_text/seg=3/postings/_SUCCESS
      |  +_text/seg=3/postings/part-*.snappy.parquet
      |  +retired=3
      |  +seg=3/_SUCCESS
      |  +seg=3/part-*.snappy.parquet
      |close jobs=0 markers=- pieces=-
      |  -_pq/seg=0/_SUCCESS
      |  -_pq/seg=0/part-*.snappy.parquet
      |  -_pq/seg=1/_SUCCESS
      |  -_pq/seg=1/part-*.snappy.parquet
      |  -_pq/seg=2/_SUCCESS
      |  -_pq/seg=2/part-*.snappy.parquet
      |  -_text/seg=0/_tok
      |  -_text/seg=0/lens/_SUCCESS
      |  -_text/seg=0/lens/part-*.snappy.parquet
      |  -_text/seg=0/postings/_SUCCESS
      |  -_text/seg=0/postings/part-*.snappy.parquet
      |  -_text/seg=1/_tok
      |  -_text/seg=1/lens/_SUCCESS
      |  -_text/seg=1/lens/part-*.snappy.parquet
      |  -_text/seg=1/postings/_SUCCESS
      |  -_text/seg=1/postings/part-*.snappy.parquet
      |  -_text/seg=2/_tok
      |  -_text/seg=2/lens/_SUCCESS
      |  -_text/seg=2/lens/part-*.snappy.parquet
      |  -_text/seg=2/postings/_SUCCESS
      |  -_text/seg=2/postings/part-*.snappy.parquet
      |  -retired=3
      |  -seg=0/_SUCCESS
      |  -seg=0/part-*.snappy.parquet
      |  -seg=1/_SUCCESS
      |  -seg=1/part-*.snappy.parquet
      |  -seg=2/_SUCCESS
      |  -seg=2/part-*.snappy.parquet
      |  -tombstones/_SUCCESS
      |  -tombstones/part-*.snappy.parquet
      |reopen jobs=12 markers=0/0/0 pieces=1/0/1/0
      |append3 jobs=18 markers=0/0/0 pieces=2/0/2/0
      |  +_pq/seg=4/_SUCCESS
      |  +_pq/seg=4/part-*.snappy.parquet
      |  +_text/seg=4/_tok
      |  +_text/seg=4/lens/_SUCCESS
      |  +_text/seg=4/lens/part-*.snappy.parquet
      |  +_text/seg=4/postings/_SUCCESS
      |  +_text/seg=4/postings/part-*.snappy.parquet
      |  +seg=4/_SUCCESS
      |  +seg=4/part-*.snappy.parquet
      |close2 jobs=0 markers=- pieces=-"""

  val ivfpq = """append1 jobs=2 markers=0/0/0 pieces=0/0/0/0
      |  +seg=0/_SUCCESS
      |  +seg=0/part-*.snappy.parquet
      |seed jobs=40 markers=0/0/0 pieces=1/0/1/0
      |  +_pq/_model/_COMMIT
      |  +_pq/_model/_graft_meta.json
      |  +_pq/_model/coarse/_SUCCESS
      |  +_pq/_model/coarse/part-*.snappy.parquet
      |  +_pq/_model/codebooks/_SUCCESS
      |  +_pq/_model/codebooks/part-*.snappy.parquet
      |  +_pq/seg=0/_SUCCESS
      |  +_pq/seg=0/part-*.snappy.parquet
      |  +_text/_tokenizer
      |  +_text/seg=0/_tok
      |  +_text/seg=0/lens/_SUCCESS
      |  +_text/seg=0/lens/part-*.snappy.parquet
      |  +_text/seg=0/postings/_SUCCESS
      |  +_text/seg=0/postings/part-*.snappy.parquet
      |append2 jobs=20 markers=0/0/0 pieces=2/0/2/0
      |  +_pq/seg=1/_SUCCESS
      |  +_pq/seg=1/part-*.snappy.parquet
      |  +_text/seg=1/_tok
      |  +_text/seg=1/lens/_SUCCESS
      |  +_text/seg=1/lens/part-*.snappy.parquet
      |  +_text/seg=1/postings/_SUCCESS
      |  +_text/seg=1/postings/part-*.snappy.parquet
      |  +seg=1/_SUCCESS
      |  +seg=1/part-*.snappy.parquet
      |replace jobs=38 markers=2/0/2 pieces=3/0/3/0
      |  +_pq/seg=2/_SUCCESS
      |  +_pq/seg=2/part-*.snappy.parquet
      |  +_text/seg=2/_tok
      |  +_text/seg=2/lens/_SUCCESS
      |  +_text/seg=2/lens/part-*.snappy.parquet
      |  +_text/seg=2/postings/_SUCCESS
      |  +_text/seg=2/postings/part-*.snappy.parquet
      |  +seg=2/_SUCCESS
      |  +seg=2/part-*.snappy.parquet
      |delete jobs=23 markers=4/0/4 pieces=3/0/3/0
      |  +tombstones/_SUCCESS
      |  +tombstones/part-*.snappy.parquet
      |compact jobs=22 markers=0/0/0 pieces=1/0/1/0
      |  +_pq/seg=3/_SUCCESS
      |  +_pq/seg=3/part-*.snappy.parquet
      |  +_text/seg=3/_tok
      |  +_text/seg=3/lens/_SUCCESS
      |  +_text/seg=3/lens/part-*.snappy.parquet
      |  +_text/seg=3/postings/_SUCCESS
      |  +_text/seg=3/postings/part-*.snappy.parquet
      |  +retired=3
      |  +seg=3/_SUCCESS
      |  +seg=3/part-*.snappy.parquet
      |close jobs=0 markers=- pieces=-
      |  -_pq/seg=0/_SUCCESS
      |  -_pq/seg=0/part-*.snappy.parquet
      |  -_pq/seg=1/_SUCCESS
      |  -_pq/seg=1/part-*.snappy.parquet
      |  -_pq/seg=2/_SUCCESS
      |  -_pq/seg=2/part-*.snappy.parquet
      |  -_text/seg=0/_tok
      |  -_text/seg=0/lens/_SUCCESS
      |  -_text/seg=0/lens/part-*.snappy.parquet
      |  -_text/seg=0/postings/_SUCCESS
      |  -_text/seg=0/postings/part-*.snappy.parquet
      |  -_text/seg=1/_tok
      |  -_text/seg=1/lens/_SUCCESS
      |  -_text/seg=1/lens/part-*.snappy.parquet
      |  -_text/seg=1/postings/_SUCCESS
      |  -_text/seg=1/postings/part-*.snappy.parquet
      |  -_text/seg=2/_tok
      |  -_text/seg=2/lens/_SUCCESS
      |  -_text/seg=2/lens/part-*.snappy.parquet
      |  -_text/seg=2/postings/_SUCCESS
      |  -_text/seg=2/postings/part-*.snappy.parquet
      |  -retired=3
      |  -seg=0/_SUCCESS
      |  -seg=0/part-*.snappy.parquet
      |  -seg=1/_SUCCESS
      |  -seg=1/part-*.snappy.parquet
      |  -seg=2/_SUCCESS
      |  -seg=2/part-*.snappy.parquet
      |  -tombstones/_SUCCESS
      |  -tombstones/part-*.snappy.parquet
      |reopen jobs=14 markers=0/0/0 pieces=1/0/1/0
      |append3 jobs=20 markers=0/0/0 pieces=2/0/2/0
      |  +_pq/seg=4/_SUCCESS
      |  +_pq/seg=4/part-*.snappy.parquet
      |  +_text/seg=4/_tok
      |  +_text/seg=4/lens/_SUCCESS
      |  +_text/seg=4/lens/part-*.snappy.parquet
      |  +_text/seg=4/postings/_SUCCESS
      |  +_text/seg=4/postings/part-*.snappy.parquet
      |  +seg=4/_SUCCESS
      |  +seg=4/part-*.snappy.parquet
      |close2 jobs=0 markers=- pieces=-"""

  val hnsw = """append1 jobs=2 markers=0/0/0 pieces=0/0/0/0
      |  +seg=0/_SUCCESS
      |  +seg=0/part-*.snappy.parquet
      |seed jobs=15 markers=0/0/0 pieces=1/0/0/1
      |  +_text/_tokenizer
      |  +_text/seg=0/_tok
      |  +_text/seg=0/lens/_SUCCESS
      |  +_text/seg=0/lens/part-*.snappy.parquet
      |  +_text/seg=0/postings/_SUCCESS
      |  +_text/seg=0/postings/part-*.snappy.parquet
      |append2 jobs=23 markers=0/0/0 pieces=2/0/0/2
      |  +_text/seg=1/_tok
      |  +_text/seg=1/lens/_SUCCESS
      |  +_text/seg=1/lens/part-*.snappy.parquet
      |  +_text/seg=1/postings/_SUCCESS
      |  +_text/seg=1/postings/part-*.snappy.parquet
      |  +seg=1/_SUCCESS
      |  +seg=1/part-*.snappy.parquet
      |replace jobs=28 markers=2/0/0 pieces=3/0/0/3
      |  +_text/seg=2/_tok
      |  +_text/seg=2/lens/_SUCCESS
      |  +_text/seg=2/lens/part-*.snappy.parquet
      |  +_text/seg=2/postings/_SUCCESS
      |  +_text/seg=2/postings/part-*.snappy.parquet
      |  +seg=2/_SUCCESS
      |  +seg=2/part-*.snappy.parquet
      |delete jobs=15 markers=4/0/0 pieces=3/0/0/3
      |  +tombstones/_SUCCESS
      |  +tombstones/part-*.snappy.parquet
      |compact jobs=16 markers=0/0/0 pieces=1/0/0/1
      |  +_hnsw/_state
      |  +_hnsw/graph/_SUCCESS
      |  +_hnsw/graph/_graft_meta.json
      |  +_hnsw/graph/part-*.snappy.parquet
      |  +_text/seg=3/_tok
      |  +_text/seg=3/lens/_SUCCESS
      |  +_text/seg=3/lens/part-*.snappy.parquet
      |  +_text/seg=3/postings/_SUCCESS
      |  +_text/seg=3/postings/part-*.snappy.parquet
      |  +retired=3
      |  +seg=3/_SUCCESS
      |  +seg=3/part-*.snappy.parquet
      |close jobs=0 markers=- pieces=-
      |  -_text/seg=0/_tok
      |  -_text/seg=0/lens/_SUCCESS
      |  -_text/seg=0/lens/part-*.snappy.parquet
      |  -_text/seg=0/postings/_SUCCESS
      |  -_text/seg=0/postings/part-*.snappy.parquet
      |  -_text/seg=1/_tok
      |  -_text/seg=1/lens/_SUCCESS
      |  -_text/seg=1/lens/part-*.snappy.parquet
      |  -_text/seg=1/postings/_SUCCESS
      |  -_text/seg=1/postings/part-*.snappy.parquet
      |  -_text/seg=2/_tok
      |  -_text/seg=2/lens/_SUCCESS
      |  -_text/seg=2/lens/part-*.snappy.parquet
      |  -_text/seg=2/postings/_SUCCESS
      |  -_text/seg=2/postings/part-*.snappy.parquet
      |  -retired=3
      |  -seg=0/_SUCCESS
      |  -seg=0/part-*.snappy.parquet
      |  -seg=1/_SUCCESS
      |  -seg=1/part-*.snappy.parquet
      |  -seg=2/_SUCCESS
      |  -seg=2/part-*.snappy.parquet
      |  -tombstones/_SUCCESS
      |  -tombstones/part-*.snappy.parquet
      |reopen jobs=11 markers=0/0/0 pieces=1/0/0/1
      |append3 jobs=23 markers=0/0/0 pieces=2/0/0/2
      |  +_text/seg=4/_tok
      |  +_text/seg=4/lens/_SUCCESS
      |  +_text/seg=4/lens/part-*.snappy.parquet
      |  +_text/seg=4/postings/_SUCCESS
      |  +_text/seg=4/postings/part-*.snappy.parquet
      |  +seg=4/_SUCCESS
      |  +seg=4/part-*.snappy.parquet
      |close2 jobs=1 markers=- pieces=-"""
}

}
