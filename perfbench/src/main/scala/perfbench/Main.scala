package perfbench

import graft.core.GraftSession

/** Runs one workload and writes what it measured as one JSON object:
  *
  * {{{
  * perfbench.Main --workload <serve_hnsw|serve_ivf> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * `perfbench/run.py` builds the classpath, launches this, and prints the
  * result in the benchmark's output format. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "serve_hnsw" -> (Serve.run(_, ivf = false)), "serve_ivf" -> (Serve.run(_, ivf = true)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = java.nio.file.Paths.get(opts("work"))
    val out = java.nio.file.Paths.get(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = GraftSession.get("perfbench", cores)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = new Ctx(spark, new Gen(seed), tracer, listener, seconds, work, cores)
    ctx.phase("session")
    try {
      run(ctx)
      ctx.endToEnd("setup_s") = ctx.endToEnd.getOrElse("setup_s", 0.0) + sessionS
      if (traced) {
        val spans = tracer.all
        val self = Trace.selfNanos(spans)
        val ops = spans.filter(_.name == "op")
        // time the benchmark spends inside a traced query's span but outside
        // every library call it traced there
        if (ops.nonEmpty) ctx.layers("bench.op_self_ms") = Stats.median(ops.map(s => self(s.id) / 1e6))
        ctx.layers("trace.spans") = spans.size
        tracer.write(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.check(ok = false, s"$workload aborted: $e")
        e.printStackTrace()
    }
    val result = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> ctx.attempted.get.toString,
      "failed" -> ctx.failed.get.toString,
      "checks" -> ctx.checksCount.toString,
      "check_failures" -> Json.arr(ctx.checkFailures.map(Json.str)),
      "end_to_end" -> Json.numbers(ctx.endToEnd.toSeq),
      "per_layer" -> Json.numbers(ctx.layers.toSeq),
      "not_run" -> Json.arr(ctx.notRun.toSeq.map(Json.str)),
      "notes" -> Json.arr(ctx.notes.toSeq.map(Json.str)),
      "provenance" -> Json.obj(
        "cores" -> cores.toString,
        "java" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "scala" -> Json.str(scala.util.Properties.versionNumberString)))
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, result.getBytes("UTF-8"))
    spark.stop()
    System.exit(0)
  }
}

/** The little JSON the result file needs. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def numbers(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) }: _*)
}
