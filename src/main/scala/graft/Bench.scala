package graft
import org.apache.spark.sql.SparkSession

/** The bench harness's load-poisoning detectors and certification gates
  * as PURE functions — three rounds of contaminated artifacts (r14 under-
  * flag, r15 over-flag, r17 certified-looking poison) each traced to a
  * threshold judgment call, so the judgment calls are now unit-tested
  * against the exact historical shapes that broke them (BenchSpec). */
object BenchGates {
  /** ABSOLUTE quiet-era probe ceiling (r17 verdict ask #1): the official
    * BENCH_r17 shipped at launch load 7.38 with calibration max 0.55 and
    * zero flags — the relative (vs in-run median) rule can't see a burst
    * that inflates the WHOLE run, because the median inflates with it.
    * Committed quiet-era history: steady-state probes 0.25-0.35, worst
    * observed quiet probe 0.61 (round 15, JIT-cold early probe) — 0.75
    * is above every quiet observation with margin; a probe past it is
    * co-tenant load, full stop. */
  val QuietCalCeiling = 0.75

  /** Sweep-probe flag: relative to the run's MEDIAN probe (drift-robust:
    * a burst inflates its neighborhood far above the pack and flags;
    * uniform JIT drift moves the median with the pack and doesn't — the
    * r15 over-flag was a min-floor reference retro-flagging half a quiet
    * sweep), OR past the absolute quiet-era ceiling. */
  def isLoaded(probe: Double, medianCal: Double): Boolean =
    (probe > 2 * medianCal && probe - medianCal > 0.3) ||
      probe > QuietCalCeiling

  /** Retry brackets are judged against the STRICTEST floor seen (min over
    * every probe incl. the retry phase's own, the most-warmed of all).
    * The asymmetry vs [[isLoaded]] is deliberate: accepting a retried
    * number must not use the forgiving median — a warmed quiet probe is
    * 3-4× under the sweep median, so a burst that doubles it would still
    * pass a median bracket and clear the flag on a still-poisoned number.
    * Strictness here only costs extra attempts; the failure direction is
    * stays-flagged, never falsely-cleared. */
  def bracketLoaded(probe: Double, floor: Double): Boolean =
    probe > 2 * floor && probe - floor > 0.3

  /** Spread flag (r17 ask #1a): a query whose post-first-run band is >3×
    * wide with a material delta saw a mid-run burst even when no probe
    * caught it (BENCH_r17's store_morelike spanned 3.83→66.8 s with every
    * nearby probe "quiet" — probes sit up to CAL_EVERY/2 queries away).
    * The first run is EXCLUDED from the band: it legitimately absorbs
    * one-time fixture builds for persistence/store queries, and a wide
    * band whose only outlier is the first run still published a
    * quiet-window min. */
  def spreadFlagged(minAll: Double, maxAfterFirst: Double): Boolean =
    maxAfterFirst > 3 * minAll && maxAfterFirst - minAll > 0.5

  /** Certification (r17 ask #1c): (load_ok, cal_ok, certified). Gates:
    * launch load <= 15% of host cpus (quiet-era runs launched at
    * 1.5-4.58 on 32 cpus; the poisoned r17 run at 7.38 — negative means
    * the platform can't report load: unknown, not a failure), no sweep
    * probe above the quiet-era ceiling (retry probes excluded — they
    * deliberately sample bursts while waiting them out), and `clean`
    * (zero still-flagged queries, zero errors). */
  def certify(launchLoad: Double, hostCpus: Int, sweepCalMax: Double,
              clean: Boolean): (Boolean, Boolean, Boolean) = {
    val loadOk = launchLoad < 0 || launchLoad <= 0.15 * hostCpus
    val calOk = sweepCalMax <= QuietCalCeiling
    (loadOk, calOk, loadOk && calOk && clean)
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Machine provenance, captured AT LAUNCH (round-15 verdict ask #7):
    // builder and driver hosts produce systematically different totals
    // (~51-55 s vs 49.5 s for the same code), and without a fingerprint
    // in the artifact every cross-host delta restarts the forensics.
    // load_avg is the 1-minute average BEFORE this run's own work.
    val hostCpus = Runtime.getRuntime.availableProcessors
    val loadAvgAtLaunch = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val jvmVersion = System.getProperty("java.version", "unknown")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // v2 commit: rename task output directly, skip the sequential
      // job-commit rename pass (halves small-write latency)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // Disable the bypass-merge shuffle writer (r20, measured): with R
      // reduce partitions under the bypass threshold (default 200) every
      // map task creates R separate temp files and then concatenates them
      // — M x R file creates per shuffle (guide §2.2's quadratic-blocks
      // tax, paid at file-open). jstack sampling during the BM25 score
      // stage showed ~2/3 of executor run time inside
      // BypassMergeSortShuffleWriter -> FileOutputStream.open0; forcing
      // the sort-based writer (one sorted file + index per map task) cut
      // the isolated score+agg pass 430 -> 281 ms. At production scale R
      // exceeds 200 and the bypass writer never fires, so this setting
      // makes local behavior MATCH scale behavior rather than tuning for
      // the local core count.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Honest scan-size statistics (r20, r19 verdict ask #2): Spark
      // estimates a parquet scan at file size x this factor (default 1.0),
      // i.e. it pretends decoded rows are as small as their compressed
      // encoding. Measured decoded(UnsafeRow)/encoded ratios on the
      // actual tables: lineitem 6.2, orders 4.1, customer 4.1,
      // documents 3.1, events 3.9 (embeddings 0.8 — raw float arrays
      // don't compress; overestimating them is harmless). 6.0 = the max
      // measured, so no table's build side is ever UNDERestimated — the
      // failure mode that broadcast q3_topk's 600k-row lineitem side
      // (driver OOM at scale, not a slowdown). A data-format property,
      // not a host tuning: the same ratio holds at any scale factor.
      .config("spark.sql.sources.fileCompressionFactor", "6.0")
      // NOTE (r19): an experiment lowering AQE's coalescing floor
      // (minPartitionSize 1m -> 64k) to parallelize byte-small CPU-heavy
      // post-shuffle stages was MEASURED AND REVERTED — it spread a
      // +0.05-0.15 s task-overhead tax across most of the 141 queries'
      // small shuffles while the stages it targeted barely moved
      // (A/B full-bench runs; see OPTIMIZATION_r19.md). Structural
      // fan-out at the operators (Frames.fanOut) kept the wins instead.
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Optional local profiling filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    // Untimed warmup: touch every input table (parquet footers + OS page
    // cache) and force one codegen/JIT round trip, so the first timed
    // query doesn't absorb one-off session costs. Standard bench hygiene —
    // the per-query numbers then measure the operators, not JVM startup.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try { graft.core.Tables.load(spark, sfDir, t).count() }
      catch { case _: Throwable => () }
    }
    spark.range(1000).selectExpr("sum(id * 2)").collect()
    // Also pre-build the shared per-dir indexes (BM25 corpus, IVF/PQ/IVFPQ
    // models, HNSW shard graphs) so query timings measure SEARCH on a
    // served index — the same accounting as the reference baseline, whose
    // per-query numbers exclude index construction (BASELINE.md; build
    // costs are measured separately in README's build rows). Without this,
    // whichever query happens to run first in Map order absorbs the
    // one-time build.
    // Skipped under SPARK_GRAFT_ONLY: a subset profiling run should only
    // pay for the caches its queries actually touch (lazy build as before)
    if (only.isEmpty) {
      try { SparkEntry.warmIndexes(spark, sfDir) }
      catch { case _: Throwable => () }
    }
    // Calibration: a fixed pure-CPU aggregation whose quiet-host wall time
    // is known (~0.25-0.5 s at local[32]). Round 7 proved a SINGLE
    // start-of-run probe is useless against bursty co-tenant load (four
    // same-code runs spanned 27.6→158.2 s with disjoint slow sets, each
    // carrying a "quiet" calibration) — so the probe is INTERLEAVED: one
    // before the run and one every CAL_EVERY queries, each timestamped by
    // query index. A query's nearest probes then date any burst, and the
    // per-query `load_poisoned` flag below makes a poisoned number visible
    // instead of silently wrong.
    def calProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val CalEvery = 10
    // (queryIndex at which the probe ran, seconds)
    val calibrations = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, calProbe()))
    // Per query: min over 2..4 runs. The first timed run can absorb
    // stragglers (GC, page-cache misses, a noisy-neighbor burst); min-of-2
    // is the usual low-variance estimate, and when the two runs DISAGREE by
    // >2× (the signature of a mid-run load burst) up to two more runs are
    // taken so the min has a chance to land in a quiet window. Queries are
    // deterministic reads (persist round-trips rewrite a fixed scratch
    // dir), so every rerun measures the same work.
    // A query whose closure THROWS is recorded as an error, not a timing —
    // round 7 benched q_sessionize at 1.12 s while it was actually erroring.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = scala.collection.mutable.LinkedHashMap(
      selected.zipWithIndex.flatMap { case ((name, fn), i) =>
        if (i > 0 && i % CalEvery == 0) calibrations += ((i, calProbe()))
        def once(): Option[Double] = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
            None
          }
        }
        once().flatMap(a => once().map(b => (a, b))) match {
          case None => None // errored: in `errors`, absent from timings
          case Some((a, b)) =>
            var samples = List(b, a) // newest first
            // Escalate while the two NEWEST samples disagree >2× with a
            // material delta (>0.5 s) — newest-pair, not max-vs-min: the
            // first run legitimately absorbs one-time fixture builds for
            // persistence/store queries, and comparing against it would
            // escalate those to 4 runs every time for no signal.
            var extra = 0
            while (extra < 2 && {
                val Seq(x, y) = samples.take(2)
                math.max(x, y) > 2 * math.min(x, y) &&
                  math.abs(x - y) > 0.5
              }) {
              once() match {
                case Some(t) => samples = t :: samples; extra += 1
                case None => extra = 2
              }
            }
            // max over the runs EXCLUDING the first (samples is
            // newest-first; the first run `a` is its last element) — the
            // spread-based poison flag below must not fire on the
            // legitimate first-run fixture cost
            val afterFirstMax = samples.init.max
            Some(name ->
              (a, samples.min, samples.length, samples.max, afterFirstMax))
        }
      }.toSeq: _*)
    // nearest calibration probe (by query index) vs the sweep's MEDIAN
    // probe: >2× and >0.3 s absolute ⇒ that query's timing window was
    // loaded. The reference is the median, not the min: JIT keeps
    // compiling the probe itself across a long run, so a late fully-warmed
    // probe can undercut the early ones 4× on a perfectly quiet host — a
    // min floor then retro-flags half the sweep (the round-15 over-flag:
    // 20 "poisoned" queries on a run whose worst probe was 0.61 s). The
    // median is drift-robust: a burst inflates its neighborhood probes
    // far above the pack and still flags; uniform JIT drift moves the
    // median with the pack and flags nothing. Retry-phase probes are
    // deliberately EXCLUDED from the reference (they're the most-warmed
    // of all and would drag it down the same way).
    val qIndex = selected.keys.zipWithIndex.toMap
    val retryCals = scala.collection.mutable.ArrayBuffer.empty[Double]
    def medianCal: Double = {
      val all = calibrations.map(_._2).sorted
      all(all.length / 2)
    }
    // detector thresholds live in BenchGates (pure, unit-tested against
    // the historical artifact shapes that broke each rule — see its doc)
    def isLoaded(probe: Double): Boolean =
      BenchGates.isLoaded(probe, medianCal)
    def bracketLoaded(probe: Double): Boolean =
      BenchGates.bracketLoaded(probe,
        floor = (calibrations.map(_._2) ++ retryCals).min)
    def sweepPoisoned: Seq[String] = results.keys.filter { name =>
      val i = qIndex(name)
      isLoaded(calibrations.minBy { case (ci, _) => math.abs(ci - i) }._2)
    }.toSeq
    def spreadPoisoned: Seq[String] = results.collect {
      case (name, (_, mn, _, _, afmx))
          if BenchGates.spreadFlagged(mn, afmx) => name
    }.toSeq
    // RE-RUN pass (round-14 verdict ask #1): a poisoned min is a wrong
    // number published with a warning label — 2 of the last 3 official
    // artifacts were contaminated, and the per-query flag under-reported
    // (five >2× movers in BENCH_r14 carried no flag because their nearest
    // probe predated the burst). So instead of shipping the poisoned
    // value, each flagged query is re-run AFTER the sweep inside a
    // probe-bracketed window: probe → (quiet?) run twice → probe →
    // (still quiet?) accept min. Both brackets quiet ⇒ the whole window
    // was quiet ⇒ the number is trustworthy. Up to 5 attempts per query
    // with a 2 s back-off between loaded probes; a query that never gets
    // a quiet window stays flagged, with BOTH numbers reported.
    val retried = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double, Int)] // orig, clean, attempts
    val stillPoisoned = scala.collection.mutable.ArrayBuffer.empty[String]
    // snapshot ONCE: the flag set must be exactly the set that gets the
    // retry treatment below — re-evaluating it later against a reference
    // that shifted during retries would publish flags for queries that
    // never got their re-run (the round-15 over-flag mechanism). Both
    // detectors feed the same retry pass: probe-based (the window looked
    // loaded) and spread-based (the runs themselves disagreed wildly).
    val sweepFlagged = (sweepPoisoned ++ spreadPoisoned).distinct
    for (name <- sweepFlagged) {
      val fn = selected(name)
      val orig = results(name)._2
      var attempts = 0
      var accepted = false
      while (!accepted && attempts < 5) {
        attempts += 1
        val pre = calProbe(); retryCals += pre
        if (bracketLoaded(pre)) Thread.sleep(2000)
        else {
          def one(): Option[Double] = {
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count()
                  Some((System.nanoTime() - t0) / 1e9) }
            catch { case _: Throwable => None }
          }
          (one(), one()) match {
            case (Some(a), Some(b)) =>
              val post = calProbe(); retryCals += post
              if (!bracketLoaded(post)) {
                val clean = math.min(a, b)
                // min-of-all-runs stays the estimator; the retry only
                // ever LOWERS the published number (a quiet rerun beating
                // the poisoned min) or confirms it (orig was fine). The
                // retry runs are real runs — they extend the max band too
                val (fst, _, n, mx, afmx) = results(name)
                results(name) = (fst, math.min(orig, clean), n + 2,
                  math.max(mx, math.max(a, b)),
                  math.max(afmx, math.max(a, b)))
                retried(name) = (orig, clean, attempts)
                accepted = true
              } else Thread.sleep(2000)
            case _ => attempts = 5 // erroring now: keep sweep numbers
          }
        }
      }
      if (!accepted) stillPoisoned += name
    }
    // every flagged query lands in exactly one of `retried` (cleared a
    // probe-bracketed quiet window) or `stillPoisoned` (exhausted its
    // attempts) — the published flags are exactly the latter
    val poisoned = stillPoisoned.toSeq
    val minCal = (calibrations.map(_._2) ++ retryCals).min
    // CERTIFICATION (round-17 verdict ask #1c): one verdict, stamped in
    // the artifact, gating the facts a reader previously had to
    // reconstruct forensically — the official BENCH_r17 (76.96 s, launch
    // load 7.38, store_morelike max/min 17×) sat beside a 57.22 s
    // quiet-host run with equal apparent authority. Gate semantics and
    // thresholds: BenchGates.certify. A non-certified artifact is a
    // smoke check of a loaded host, not a performance number —
    // downstream comparisons should use the latest certified run.
    val loadLimit = 0.15 * hostCpus
    val sweepCalMax = calibrations.map(_._2).max
    val clean = poisoned.isEmpty && errors.isEmpty
    val (loadOk, calOk, certified) =
      BenchGates.certify(loadAvgAtLaunch, hostCpus, sweepCalMax, clean)
    val certJson =
      s"""{"certified":$certified,"load_ok":$loadOk,"cal_ok":$calOk,""" +
        s""""clean":$clean,"launch_load":$loadAvgAtLaunch,""" +
        s""""load_limit":${math.rint(loadLimit * 100) / 100},""" +
        s""""sweep_cal_max":${math.rint(sweepCalMax * 1000) / 1000},""" +
        s""""cal_ceiling":${BenchGates.QuietCalCeiling}}"""
    def jmap(sel: ((Double, Double, Int, Double, Double)) => Double): String =
      results.map { case (k, v) => s"\"" + k + "\":" + sel(v) }
        .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._2).sum else 0.0
    val totalFirst = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val calibration = minCal
    val calJson = calibrations
      .map { case (i, c) => s"""[$i,${math.rint(c * 1000) / 1000}]""" }
      .mkString("[", ",", "]")
    def qstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString } + "\""
    val errJson = errors.map { case (k, v) => s"${qstr(k)}:${qstr(v)}" }
      .mkString("{", ",", "}")
    val poisonJson = poisoned.map(qstr).mkString("[", ",", "]")
    // Full-fidelity artifact (both runs, unrounded) goes to a file — the
    // harness that captures stdout keeps only a ~2000-char tail, so a
    // 95-query × 2-map JSON line gets decapitated and parses as nothing
    // (that's exactly what happened to round 5's committed bench).
    val nruns = results.map { case (k, (_, _, n, _, _)) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    // Per-query timing SPREAD (round-15 verdict ask #2): the runs always
    // happened — record them. A cross-round "mover" whose {min, max}
    // band overlaps the previous round's band is noise by definition
    // (see PLANS.md mover policy); only disjoint bands warrant a look.
    val queryStats = results.map { case (k, (_, mn, n, mx, _)) =>
      s"\"" + k + s"\":{\"min\":$mn,\"max\":$mx,\"n\":$n}"
    }.mkString("{", ",", "}")
    val retriedJson = retried.map { case (k, (o, c, a)) =>
      s"${qstr(k)}:{\"poisoned_min\":$o,\"clean_min\":$c,\"attempts\":$a}"
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","certified":$certified,"certification":$certJson,"calibration":$calibration,"calibrations":$calJson,"timing":"min_of_2to4","total_first":$totalFirst,"host_cpus":$hostCpus,"load_avg_at_launch":$loadAvgAtLaunch,"jvm":"$jvmVersion","spark_cpus":"$cpus","errors":$errJson,"load_poisoned":$poisonJson,"retried":$retriedJson,"queries":${jmap(_._2)},"queries_first":${jmap(_._1)},"query_runs":$nruns,"query_stats":$queryStats,"sf":"$sfDir"}"""
    // subset profiling runs (SPARK_GRAFT_ONLY) must not clobber the
    // committed full-suite artifact
    val wroteFull = only.isEmpty && (try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(full) finally w.close()
      true
    } catch { case _: Throwable => false })
    // Immutable snapshot (round-17 verdict ask #6): BENCH_FULL.json gets
    // overwritten by every later run (the driver's post-round re-run
    // clobbered r17's cited 57.22 s artifact with a load-7.38 one), so a
    // run that documents citeable numbers sets SPARK_GRAFT_BENCH_SNAPSHOT
    // to a round-stamped name (e.g. BENCH_r18_final.json) and that copy
    // is never rewritten by a plain run.
    if (wroteFull) sys.env.get("SPARK_GRAFT_BENCH_SNAPSHOT").foreach { p =>
      try {
        val w = new java.io.PrintWriter(p)
        try w.println(full) finally w.close()
      } catch { case _: Throwable => () }
    }
    // Compact stdout line, guaranteed to fit the tail buffer: per-query map
    // filled slowest-first (the queries that matter vs BASELINE.md) under a
    // hard character budget, values at 3 significant digits. Locale.ROOT
    // everywhere — a comma-decimal default locale (de_DE, tr_TR) would
    // render 38,02 and break the JSON this line exists to guarantee.
    def num(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    // COMPLETE per-query map on stdout (r19 verdict ask #1): the per-query
    // round-over-round comparison has been empty for two rounds because
    // the only driver-reachable map was the tail-budgeted summary below
    // (~66 of 141 queries). This line carries every query at 3 significant
    // digits — too long for a 2000-char tail capture, but present for any
    // full-stdout parser — while the summary line (printed LAST, so it is
    // what a tail capture ends with) stays within the tail budget and
    // advertises BENCH_FULL.json for full fidelity. Its metric name is
    // `total_complete`, so exactly one stdout line (the last) carries
    // `"metric":"total"` for a parser that takes the first match.
    val allQ = results.toSeq.sortBy(-_._2._2)
      .map { case (k, (_, m, _, _, _)) =>
        s""""$k":${String.format(java.util.Locale.ROOT, "%.3g", Double.box(m))}"""
      }.mkString(",")
    println(s"""{"metric":"total_complete","value":${num("%.2f", total)},"unit":"sec","certified":$certified,"complete":true,"n_queries":${results.size},"queries":{$allQ}}""")
    // only advertise the sidecar when THIS run actually (re)wrote it — a
    // subset run (or a failed write) must not point readers at stale numbers
    val detail =
      if (wroteFull) "\"detail\":\"BENCH_FULL.json\"," else ""
    val calMax = calibrations.map(_._2).max
    val header = s""""metric":"total","value":${num("%.2f", total)},"unit":"sec","certified":$certified,"calibration":${num("%.2f", calibration)},"calibration_max":${num("%.2f", calMax)},"timing":"min_of_2to4","n_queries":${results.size},"n_errors":${errors.size},"n_load_poisoned":${poisoned.size},"n_retried_clean":${retried.size},$detail"sf":"$sfDir""""
    val budget = 1700 - header.length
    val entries = results.toSeq.sortBy(-_._2._2).iterator
      .map { case (k, (_, m, _, _, _)) => s""""$k":${num("%.3g", m)}""" }
      .scanLeft(("", 0)) { case ((_, len), e) => (e, len + e.length + 1) }
      .drop(1).takeWhile(_._2 <= budget).map(_._1).toSeq
    val errPart =
      if (errors.isEmpty) ""
      else s""","errors":${errors.keys.map(qstr).mkString("[", ",", "]")}"""
    println(s"""{$header,"queries":{${entries.mkString(",")}}$errPart}""")
    spark.stop()
  }
}
