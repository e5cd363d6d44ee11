package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One traced call: `parent` is 0 for a root span; spans of one request
  * share `request`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, request: Long, name: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
  def ms: Double = nanos / 1e6
}

/** Spark work attributed to one span (its own jobs, not its children's). */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var spillBytes = 0L

  def +=(o: SparkWork): SparkWork = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    shuffleWriteBytes += o.shuffleWriteBytes; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; spillBytes += o.spillBytes
    this
  }
}

/** Attributes Spark jobs, stages and task metrics to the span that was
  * open on the submitting thread, read from the [[Trace.SpanKey]] local
  * property the tracer sets around each call. */
final class WorkListener extends SparkListener {
  private val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var lastEvent = System.nanoTime()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey))).map(_.toInt)
  private def work(span: Int): SparkWork =
    bySpan.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    spanOf(e.properties).foreach(s => work(s).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEvent = System.nanoTime()
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      work(s).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != 0 && m != null) {
      val w = work(s)
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.recordsRead += m.inputMetrics.recordsRead
      w.bytesWritten += m.outputMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lastEvent = System.nanoTime()

  /** Wait until the listener bus has been quiet for a while, so every
    * event of the finished jobs has been counted. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() - lastEvent < 300_000_000L &&
           System.nanoTime() < deadline) Thread.sleep(50)
  }

  def workOf(span: Int): SparkWork = Option(bySpan.get(span)).getOrElse(new SparkWork)
}

/** Records spans around the benchmark's own calls into the library. When
  * disabled, [[span]] runs its body and records nothing. Spans are kept in
  * memory and written out by [[write]] when the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val open = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get
      val prop = sc.getLocalProperty(Trace.SpanKey)
      open.set(id)
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parent)
        sc.setLocalProperty(Trace.SpanKey, prop)
        spans.synchronized { spans += Span(id, parent, request, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** One JSON object per span. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "bench.span"

  /** Each span's duration minus the part of its interval that its child
    * spans cover (overlapping children are counted once). */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => a < b }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.nanos - covered)
    }.toMap
  }

  /** Spark work of `span` and all of its descendants. */
  def inclusiveWork(spans: Seq[Span], listener: WorkListener,
                    span: Int): SparkWork = {
    val kids = spans.groupBy(_.parent)
    val total = new SparkWork
    def walk(id: Int): Unit = {
      total += listener.workOf(id)
      kids.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(span)
    total
  }
}
