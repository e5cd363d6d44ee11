package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** What one run shares across its workload: the session, the inputs, the
  * tracer, the measured values and the output checks. */
final class Ctx(val spark: SparkSession, val gen: Gen, val tracer: Tracer,
                val listener: WorkListener, val seconds: Int,
                val workDir: java.nio.file.Path, val cores: Int) {
  val k = 10
  /** Setups per run; `setup_s` reports their nearest-rank median. The
    * first setup in a JVM also pays the JIT and code-generation warm-up, so
    * with two setups the median is the warm one. */
  val setupReps = 2

  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Per-layer metrics of layers this workload does not run. */
  val notRun = mutable.ArrayBuffer.empty[String]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var checksRun = 0L
  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)

  def traced: Boolean = tracer.enabled

  /** Note the seconds since JVM start at which a phase ended. */
  def phase(name: String): Unit = synchronized {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    notes += f"$name at $up%.1f s"
  }

  /** Record an output check; a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    checksRun += 1
    if (!ok && failures.size < 20) failures += what
    else if (!ok) failures(19) = s"... and more; last: $what"
  }
  def checkFailures: Seq[String] = synchronized(failures.toVector)
  def checksCount: Long = synchronized(checksRun)

  /** Run one timed operation: its wall time in ms, or None when it threw
    * (counted as failed, with no latency sample). */
  def attempt[T](body: => T): Option[(T, Double)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case scala.util.control.NonFatal(e) =>
        if (failed.incrementAndGet() <= 3) synchronized(notes += s"operation failed: $e")
        None
    }
  }

  def deadline(): Long = System.nanoTime() + seconds * 1_000_000_000L

  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): String = {
    val d = workDir.resolve(name)
    java.nio.file.Files.createDirectories(d.getParent)
    d.toString
  }

  /** Setup repeated [[setupReps]] times on fresh state; every copy but the
    * last is released. Returns the last copy and the median setup seconds. */
  def repeatedSetup[T](build: Int => T)(release: T => Unit): (T, Double) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var kept: Option[T] = None
    (1 to setupReps).foreach { rep =>
      kept.foreach(release)
      val t0 = System.nanoTime()
      kept = Some(build(rep))
      secs += (System.nanoTime() - t0) / 1e9
      phase(s"setup $rep")
    }
    notes += f"setup reps (s): ${secs.map(s => f"$s%.3f").mkString(" ")}"
    (kept.get, Stats.median(secs.toSeq))
  }

  /** Per-layer tail of per-query latencies `lat` by [[Stats.summary]]; with
    * too few samples for any listed percentile, the maximum, reported as
    * percentile 100. */
  def reportTail(lat: Seq[Double]): Unit = if (lat.nonEmpty) {
    val s = Stats.summary(lat)
    layers("op.tail_ms") = if (s.tail.isNaN) lat.max else s.tail
    layers("op.tail_pct") = if (s.tail.isNaN) 100.0 else s.tailPct
    layers("op.samples") = s.n
  }

  /** Driver heap in use after forced collections, in MB. */
  def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The library's input frame for `docs`. */
  def frame(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.vector, d.text, d.cat, d.price))
      .toDF("id", "vector", "text", "cat", "price")
  }

  def queryFrame(vec: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq((0L, vec)).toDF("qid", "qvec")
  }

  /** Results hold at most k entries, ordered by score descending then id,
    * and every id is a known document that satisfies the query's filter. */
  def checkResult(q: Query, res: Seq[(Long, Double)], docOf: Long => Option[Doc],
                  where: String): Unit = {
    check(res.size <= k, s"$where: ${res.size} results for k=$k")
    check(res.zip(res.drop(1)).forall { case ((ia, sa), (ib, sb)) =>
      sa > sb || (sa == sb && ia < ib) },
      s"$where: results not ordered by (score desc, id): ${res.take(4)}")
    res.foreach { case (id, _) =>
      docOf(id) match {
        case None => check(ok = false, s"$where: unknown or deleted id $id")
        case Some(d) => q.filt.foreach(f =>
          check(f.matches(d), s"$where: id $id fails filter $f"))
      }
    }
  }
}

object Ctx {
  /** Squared L2 distance, the ordering the library's L2 metric ranks by. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Lookup of documents whose ids are their positions in `docs`. */
  def byId(docs: Array[Doc]): Long => Option[Doc] =
    id => if (id >= 0 && id < docs.length) Some(docs(id.toInt)) else None

  /** Exact top-k ids by (distance, id) over `docs`. */
  def exactTopK(docs: Iterable[Doc], q: Array[Float], k: Int): Seq[Long] =
    docs.iterator.map(d => (l2sq(d.vector, q), d.id)).toSeq
      .sorted.take(k).map(_._2)

  /** Share of `exact` found in `approx`. */
  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getAs[Number]("id").longValue(),
      r.getAs[Number]("score").doubleValue()))
}
