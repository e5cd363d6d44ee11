package graft

import graft.hybrid.Hybrid
import graft.store.HybridStore
import graft.text.BM25
import org.apache.spark.sql.functions._

/** Randomized lifecycle soak for the INCREMENTAL derived-state logs
  * (BM25Log + VecLog) behind the store facade: random mutation sequences
  * (append fresh / replace live / null-modality replace / delete /
  * compact / reopen) must keep
  *
  *   - ranked TEXT search equal to a from-scratch `BM25.build` over the
  *     live view (the bm25_index.go:327-334 incremental contract), and
  *   - vector search through the assign-only IVF leg (probe-all) equal
  *     to an exact flat scan of the live vectors,
  *
  * at EVERY step — the randomized twin of the deterministic equivalence
  * soak in HybridStoreSpec, in the PqLifecycleSpec tradition. */
class LogLifecycleSpec extends SparkSpec {

  private def vecOf(i: Long): Array[Float] =
    Array.tabulate(4)(j => (math.sin(i * 1.7 + j * 0.9) * 3).toFloat)

  test("randomized append/replace/delete/compact/reopen soak: incremental " +
       "text AND vector state equal their rebuilt oracles at every step " +
       "(two seeds)") {
    val s = spark
    import s.implicits._
    def soak(seed: Long, steps: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      val root = java.nio.file.Files.createTempDirectory(s"logsoak$seed").toString
      val rootF = java.nio.file.Files.createTempDirectory(s"logsoakf$seed").toString
      val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf) // k >> corpus
      def open() = new HybridStore(spark, root, cfg,
        incrementalIvf = Some((2, 2)))
      var hs = open()
      // the TWIN: identical mutations through the default (rebuild-per-
      // generation, flat-legged) store — same search semantics, so full
      // outputs must match exactly
      var twin = new HybridStore(spark, rootF, cfg)
      var nextId = 0L
      var live = Set.empty[Long]
      def rows(ids: Seq[Long], nullText: Boolean = false) = ids.map { id =>
        (id, vecOf(id),
          if (nullText) Option.empty[String]
          else Some(s"body doc$id marker${id % 3} shared probe"))
      }.toDF("id", "vector", "text")

      def check(step: Int): Unit = {
        if (live.isEmpty) return
        // text: ranked scores vs a fresh build over the live view
        val got = hs.search(queryText = Some("shared probe marker1"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val liveView = hs.read()
        val textRows = liveView.filter(col("text").isNotNull)
        if (textRows.head(1).nonEmpty) {
          val c = BM25.build(textRows.select("id", "text"), "id", "text")
          // the hybrid text leg is RRF-fused; compare MEMBERSHIP + order
          // against the raw corpus ranking instead of raw scores
          val want = c.search("shared probe marker1", 1000)
            .collect().map(_.getLong(0)).toSeq
          assert(got.map(_._1) == want,
            s"seed=$seed step=$step text ranking diverged: " +
              s"${got.map(_._1)} vs $want")
        }
        // vector: probe-all incremental IVF leg vs the TWIN's flat leg —
        // same hybrid semantics on both sides, so (id, score) rows must
        // match exactly (to fp rounding)
        val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
        val gotV = hs.search(queryVec = Some(qv))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
          .toSeq
        val wantV = twin.search(queryVec = Some(qv))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
          .toSeq
        assert(gotV == wantV,
          s"seed=$seed step=$step vector leg diverged: $gotV vs $wantV")
        // and the combined hybrid (both modalities fused) agrees too
        val gotH = hs.search(queryVec = Some(qv),
            queryText = Some("shared probe"))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
          .toSeq
        val wantH = twin.search(queryVec = Some(qv),
            queryText = Some("shared probe"))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
          .toSeq
        assert(gotH == wantH,
          s"seed=$seed step=$step fused hybrid diverged")
      }

      (0 until steps).foreach { step =>
        rnd.nextInt(7) match {
          case 0 | 1 => // append fresh
            val ids = (0 until 1 + rnd.nextInt(3)).map { _ =>
              val id = nextId; nextId += 1; id
            }
            hs.append(rows(ids)); twin.append(rows(ids)); live ++= ids
          case 2 => // replace live ids (new text revision, new vector)
            if (live.nonEmpty) {
              val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
              def batch = victims.map { id =>
                (id, vecOf(id + 1000),
                  Some(s"revised doc$id probe r${(id * 31 + seed) % 100}"))
              }.toDF("id", "vector", "text")
              hs.append(batch); twin.append(batch)
            }
          case 3 => // replace a live id with NULL text (leaves the corpus)
            if (live.nonEmpty) {
              val victim = rnd.shuffle(live.toSeq).head
              hs.append(rows(Seq(victim), nullText = true))
              twin.append(rows(Seq(victim), nullText = true))
            }
          case 4 => // delete (sometimes an unknown id too)
            if (live.nonEmpty) {
              val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
              hs.delete(victims :+ 99999L)
              twin.delete(victims :+ 99999L)
              live --= victims
            }
          case 5 => // compact
            if (hs.store.segments().nonEmpty) { hs.compact(); twin.compact() }
          case 6 => // reopen: durable pieces + persisted model reload (the
            // twin reopens too — both must rederive from disk alone)
            hs.close(); hs = open()
            twin.close(); twin = new HybridStore(spark, rootF, cfg)
        }
        check(step)
      }
      hs.close(); twin.close()
    }
    soak(seed = 11L, steps = 12)
    soak(seed = 47L, steps = 12)
  }

  test("incremental HNSW leg (HnswLog): seed-once + copy-on-write shard " +
       "insertion + soft-delete marks equals the rebuild-per-generation " +
       "flat twin across append/replace/null-vector-replace/delete/" +
       "compact/reopen (the reference's store template covers every index " +
       "kind, storage.go:321-347) — and mutations FOLD instead of " +
       "re-seeding") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("loghnsw").toString
    val rootF = java.nio.file.Files.createTempDirectory("loghnswf").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf) // k >> corpus
    def open() = new HybridStore(spark, root, cfg,
      incrementalHnsw =
        Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    var hs = open()
    var twin = new HybridStore(spark, rootF, cfg)
    def rows(ids: Seq[Long], nullVec: Boolean = false) = ids.map { id =>
      (id, if (nullVec) Option.empty[Array[Float]] else Some(vecOf(id)),
        s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    def check(tag: String): Unit = {
      val got = hs.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val want = twin.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(got == want, s"$tag: incremental HNSW leg diverged: $got vs $want")
    }
    def mutate(f: HybridStore => Unit): Unit = { f(hs); f(twin) }

    mutate(_.append(rows(0L until 6L)));            check("seed")
    val foldedAtSeed = hs.hnswLogFolded
    mutate(_.append(rows(6L until 9L)));            check("append")
    assert(hs.hnswLogFolded == foldedAtSeed + 1,
      "append re-seeded the graph instead of folding")
    // replace live ids with NEW vectors: same-id nodes replace in place
    mutate(_.append((3L to 4L).map(id => (id, Some(vecOf(id + 100)),
      s"revised doc$id shared probe")).toDF("id", "vector", "text")))
    check("replace")
    // null-VECTOR replace: the doc leaves the vector modality but keeps
    // its text — the graph must drop the node
    mutate(_.append(rows(Seq(5L), nullVec = true)));  check("null-vec replace")
    mutate(_.delete(Seq(1L, 8L, 99999L)));            check("delete")
    // resurrect one deleted id with a fresh vector
    mutate(_.append(rows(Seq(8L))));                  check("resurrect")
    mutate { h => h.compact(); () };                  check("compact")
    // reopen: close PERSISTS the mutated graph (graph parquet + _state
    // commit marker), and the next process LOADS it instead of
    // re-running the seed build
    hs.close(); hs = open()
    twin.close(); twin = new HybridStore(spark, rootF, cfg)
    check("reopen")
    val graphDir = new java.io.File(s"$root/_hnsw/graph")
    assert(graphDir.isDirectory &&
      new java.io.File(graphDir, "_SUCCESS").exists(),
      "close did not persist the graph artifact")
    // a clean close (no mutations since load) must NOT rewrite the graph
    val files = graphDir.listFiles().map(_.getName).toSet
    hs.close()
    assert(graphDir.listFiles().map(_.getName).toSet == files,
      "clean close rewrote an unchanged graph artifact")

    // cross-process replay: a writer that never searches (logs never
    // seeded) appends + deletes; the NEXT opener must load the persisted
    // graph and replay exactly those mutations from store metadata
    val writer = new HybridStore(spark, root, cfg,
      incrementalHnsw = Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    writer.append(rows(20L until 23L))
    writer.delete(Seq(0L, 21L))
    writer.close() // no search ⇒ no log ⇒ artifact untouched
    val twin2 = new HybridStore(spark, rootF, cfg)
    twin2.append(rows(20L until 23L)); twin2.delete(Seq(0L, 21L))
    hs = open()
    val got2 = hs.search(queryVec = Some(qv), queryText = Some("shared probe"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val want2 = twin2.search(queryVec = Some(qv), queryText = Some("shared probe"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got2 == want2,
      s"replayed reopen diverged from rebuild twin: $got2 vs $want2")
    hs.close(); twin2.close()
  }

  test("randomized HNSW-log soak: random append/replace/null-vector-" +
       "replace/delete/compact/reopen sequences — including mutations by " +
       "a NON-SEARCHING writer before a reopen, the persisted-graph " +
       "replay path's hard case — equal the rebuild twin at every step " +
       "(two seeds)") {
    val s = spark
    import s.implicits._
    def soak(seed: Long, steps: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      val root = java.nio.file.Files.createTempDirectory(s"hnswsoak$seed").toString
      val rootF = java.nio.file.Files.createTempDirectory(s"hnswsoakf$seed").toString
      val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
      def open() = new HybridStore(spark, root, cfg,
        incrementalHnsw =
          Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
      var hs = open()
      var twin = new HybridStore(spark, rootF, cfg)
      var nextId = 0L
      var live = Set.empty[Long]
      def rows(ids: Seq[Long], nullVec: Boolean = false) = ids.map { id =>
        (id, if (nullVec) Option.empty[Array[Float]] else Some(vecOf(id)),
          s"body doc$id shared probe")
      }.toDF("id", "vector", "text")
      val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
      def check(step: Int): Unit = {
        if (live.isEmpty) return
        val got = hs.search(queryVec = Some(qv), queryText = Some("shared probe"))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        val want = twin.search(queryVec = Some(qv), queryText = Some("shared probe"))
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        assert(got == want,
          s"seed=$seed step=$step HNSW leg diverged: $got vs $want")
      }
      (0 until steps).foreach { step =>
        rnd.nextInt(8) match {
          case 0 | 1 => // append fresh
            val ids = (0 until 1 + rnd.nextInt(3)).map { _ =>
              val id = nextId; nextId += 1; id
            }
            hs.append(rows(ids)); twin.append(rows(ids)); live ++= ids
          case 2 => // replace live ids with new vectors
            if (live.nonEmpty) {
              val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
              def b = victims.map(id => (id, Some(vecOf(id + 1000)),
                s"revised doc$id shared probe")).toDF("id", "vector", "text")
              hs.append(b); twin.append(b)
            }
          case 3 => // null-vector replace (doc leaves the vector modality)
            if (live.nonEmpty) {
              val victim = rnd.shuffle(live.toSeq).head
              hs.append(rows(Seq(victim), nullVec = true))
              twin.append(rows(Seq(victim), nullVec = true))
            }
          case 4 => // delete (sometimes an unknown id)
            if (live.nonEmpty) {
              val victims = rnd.shuffle(live.toSeq).take(1 + rnd.nextInt(2))
              hs.delete(victims :+ 99999L); twin.delete(victims :+ 99999L)
              live --= victims
            }
          case 5 => // compact
            if (hs.store.segments().nonEmpty) { hs.compact(); twin.compact() }
          case 6 => // reopen (persist + load/replay path)
            hs.close(); hs = open()
            twin.close(); twin = new HybridStore(spark, rootF, cfg)
          case 7 => // NON-SEARCHING writer mutates, then this store reopens:
            // the reopened log must replay those mutations from store
            // metadata alone (its artifact predates them)
            hs.close()
            val w = new HybridStore(spark, root, cfg, incrementalHnsw =
              Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
            val ids = (0 until 1 + rnd.nextInt(2)).map { _ =>
              val id = nextId; nextId += 1; id
            }
            w.append(rows(ids)); live ++= ids
            twin.append(rows(ids))
            if (live.nonEmpty && rnd.nextBoolean()) {
              val victim = rnd.shuffle(live.toSeq).head
              w.delete(Seq(victim)); twin.delete(Seq(victim))
              live -= victim
            }
            w.close() // never searched: no log, artifact untouched
            hs = open()
        }
        // keep the twin's deletes aligned for case 7
        check(step)
      }
      hs.close(); twin.close()
    }
    soak(seed = 19L, steps = 14)
    soak(seed = 83L, steps = 14)
  }

  test("COSINE-configured incremental store: VecLog trains in the unit " +
       "space (normalize-at-insert) and every mutation step equals the " +
       "rebuild-per-generation twin — the round-12 fix for cfg.metric " +
       "never reaching VecLog.reopen (a cosine store silently serving " +
       "L2-trained centroids)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("logcos").toString
    val rootF = java.nio.file.Files.createTempDirectory("logcosf").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf,
      metric = graft.vector.Metric.Cosine)
    def open() = new HybridStore(spark, root, cfg,
      incrementalIvf = Some((2, 2)))
    var hs = open()
    val twin = new HybridStore(spark, rootF, cfg) // flat leg, exact cosine
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    def check(tag: String): Unit = {
      val got = hs.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val want = twin.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(got == want, s"$tag: cosine incremental leg diverged: $got vs $want")
    }
    hs.append(rows(0L until 6L)); twin.append(rows(0L until 6L))
    check("seed")
    hs.append(rows(6L until 9L)); twin.append(rows(6L until 9L))
    check("append")
    hs.delete(Seq(2L, 7L)); twin.delete(Seq(2L, 7L))
    check("delete")
    // the persisted model must record the unit-space metric — this is the
    // bit the old code silently wrote as "l2"
    val met = spark.read.parquet(s"$root/_vec/_model")
      .select("metric").distinct().collect().map(_.getString(0)).toSeq
    assert(met == Seq("cosine"),
      s"persisted VecLog model records $met, expected cosine")
    // reopen from disk under the same cosine config: model loads, no retrain
    hs.close(); hs = open()
    check("reopen")
    hs.close(); twin.close()

    // reconfiguring the SAME store to a raw-space metric must fail fast at
    // the first vector search (the reference fails on modality metric
    // mismatch) — never silently route cosine pieces through raw geometry
    val l2Store = new HybridStore(spark, root,
      Hybrid.Config(k = 10, fusion = Hybrid.Rrf), // default L2
      incrementalIvf = Some((2, 2)))
    val ex = intercept[IllegalStateException] {
      l2Store.search(queryVec = Some(qv)).collect()
    }
    assert(ex.getMessage.contains("trained under"),
      s"wrong error for metric-space mismatch: ${ex.getMessage}")
    l2Store.close()
  }

  test("OPQ-composed VecLog leg (ivfOpq): rotated-space training with " +
       "back-rotated serving equals the flat twin at every mutation " +
       "step, the rotation survives reopen, and reconfiguring across " +
       "the OPQ boundary (either direction) fails fast like the " +
       "metric-space guard") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("logopq").toString
    val rootF = java.nio.file.Files.createTempDirectory("logopqf").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalIvf = Some((2, 2)), ivfOpq = true)
    var hs = open()
    val twin = new HybridStore(spark, rootF, cfg) // flat leg, exact
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    def check(tag: String): Unit = {
      val got = hs.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      val want = twin.search(queryVec = Some(qv), queryText = Some("shared probe"))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(got == want, s"$tag: OPQ leg diverged from flat twin: $got vs $want")
    }
    hs.append(rows(0L until 6L)); twin.append(rows(0L until 6L))
    check("seed")
    hs.append(rows(6L until 9L)); twin.append(rows(6L until 9L))
    check("append")
    hs.delete(Seq(2L, 7L)); twin.delete(Seq(2L, 7L))
    check("delete")
    assert(new java.io.File(s"$root/_vec/_rot/_SUCCESS").exists(),
      "OPQ rotation not persisted beside the model")
    hs.close(); hs = open()
    check("reopen") // rotation + model load, no retrain
    hs.close(); twin.close()

    // guard direction 1: an OPQ-trained artifact opened WITHOUT ivfOpq
    val plain = new HybridStore(spark, root, cfg,
      incrementalIvf = Some((2, 2)))
    val ex1 = intercept[IllegalStateException] {
      plain.search(queryVec = Some(qv)).collect()
    }
    assert(ex1.getMessage.contains("carries an OPQ rotation"),
      s"wrong error for rotation-present mismatch: ${ex1.getMessage}")
    plain.close()

    // guard direction 2: a rotation-LESS artifact opened WITH ivfOpq
    val root2 = java.nio.file.Files.createTempDirectory("logopq2").toString
    val unrotated = new HybridStore(spark, root2, cfg,
      incrementalIvf = Some((2, 2)))
    unrotated.append(rows(0L until 6L))
    unrotated.search(queryVec = Some(qv)).collect()
    unrotated.close()
    val wantsOpq = new HybridStore(spark, root2, cfg,
      incrementalIvf = Some((2, 2)), ivfOpq = true)
    val ex2 = intercept[IllegalStateException] {
      wantsOpq.search(queryVec = Some(qv)).collect()
    }
    assert(ex2.getMessage.contains("WITHOUT an OPQ rotation"),
      s"wrong error for rotation-absent mismatch: ${ex2.getMessage}")
    wantsOpq.close()
  }

  test("VecLog crash windows (the BM25Log marker-discipline twin): a " +
       "piece missing its _SUCCESS rebuilds from its segment; a model " +
       "missing its _SUCCESS retrains AND reassigns every piece — " +
       "surviving piece dirs of a lost quantizer are never trusted " +
       "(silently-mixed-assignment guard); results equal the fresh " +
       "build in every window") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("veccrash").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalIvf = Some((2, 2)))
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(4L))).toDF("qid", "qvec")

    var hs = open()
    hs.append(rows(0L until 5L))
    hs.append(rows(5L until 9L))
    hs.delete(Seq(3L))
    val want = hs.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    hs.close()

    // window 1: crash between a piece's parquet files and its _SUCCESS —
    // that piece (and ONLY that piece) rebuilds from segment parquet
    assert(new java.io.File(s"$root/_vec/seg=1/_SUCCESS").delete())
    def pieceFp(seg: Long) = new java.io.File(s"$root/_vec/seg=$seg")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val p0Before = pieceFp(0L)
    hs = open()
    val got1 = hs.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got1 == want, s"marker-less piece reopen diverged: $got1 vs $want")
    assert(new java.io.File(s"$root/_vec/seg=1/_SUCCESS").exists(),
      "rebuilt piece not re-committed")
    assert(pieceFp(0L) == p0Before,
      "an intact piece was rewritten while rebuilding its neighbor")
    hs.close()

    // window 2: crash mid-model-write (_model without _SUCCESS). The
    // reopen RETRAINS — and must reassign every piece rather than trust
    // dirs assigned under the lost quantizer (the live view could have
    // changed since; trusting them silently mixes two coarse quantizers)
    assert(new java.io.File(s"$root/_vec/_model/_SUCCESS").delete())
    val fpBefore = Seq(0L, 1L).map(pieceFp)
    hs = open()
    val got2 = hs.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got2 == want, s"model-less reopen diverged: $got2 vs $want")
    assert(new java.io.File(s"$root/_vec/_model/_SUCCESS").exists(),
      "retrained model not re-persisted")
    val fpAfter = Seq(0L, 1L).map(pieceFp)
    assert(fpBefore.zip(fpAfter).forall { case (b, a) => b != a },
      "pieces assigned under the LOST quantizer were trusted instead of " +
        "reassigned — the silently-mixed-assignment window")
    hs.close()
  }

  test("VecLog retrain commit ordering (window 3): the retrained model's " +
       "_SUCCESS is withheld until every piece is reassigned — a crash " +
       "mid-reassignment leaves the model UNCOMMITTED, so the next open " +
       "retrains again instead of reading the new model and trusting " +
       "pieces still assigned under the lost quantizer") {
    val s = spark
    import s.implicits._
    import graft.vector.{Metric, VecLog}
    val root = java.nio.file.Files.createTempDirectory("vecretrain").toString
    def segFrame(seg: Long) =
      (seg * 4 until seg * 4 + 4).map(id => (id, vecOf(id)))
        .toDF("id", "vector")
    val segs = Seq(0L, 1L)
    def trainOn = segs.map(segFrame).reduce(_ unionByName _)
    // healthy first open: trains, assigns both pieces, commits the model
    val log0 = VecLog.reopen(spark, root, segs, segFrame, None, trainOn,
      nlist = 2, metric = Metric.L2)
    val want = log0.liveAssigned.select("id").collect().map(_.getLong(0)).toSet
    log0.release()
    assert(new java.io.File(s"$root/_model/_SUCCESS").exists())

    // force a retrain (torn model) and CRASH mid-reassignment: segVec
    // throws on the second segment AFTER the first was already reassigned
    assert(new java.io.File(s"$root/_model/_SUCCESS").delete())
    intercept[RuntimeException] {
      VecLog.reopen(spark, root, segs,
        n => if (n == 1L) throw new RuntimeException("simulated crash")
             else segFrame(n),
        None, trainOn, nlist = 2, metric = Metric.L2)
    }
    // the ordering under test: if writeModel committed _SUCCESS before
    // the reassignment loop, this marker would exist here and the next
    // open would read the new model (retrained = false) and trust
    // seg=1's surviving piece dir via hasPiece — assignments under a
    // quantizer that model never trained
    assert(!new java.io.File(s"$root/_model/_SUCCESS").exists(),
      "model marker committed before reassignment finished — the " +
        "mixed-quantizer crash window is open")

    // a proper open retrains again, reassigns everything, re-commits
    val log2 = VecLog.reopen(spark, root, segs, segFrame, None, trainOn,
      nlist = 2, metric = Metric.L2)
    assert(new java.io.File(s"$root/_model/_SUCCESS").exists(),
      "recovered open did not re-commit the model")
    val got = log2.liveAssigned.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"recovered state diverged: $got vs $want")
    log2.release()
  }

  test("HnswLog crash windows: the _state commit marker is deleted FIRST " +
       "and written LAST, so a kill at ANY point of persistTo leaves a " +
       "dir the next open refuses to trust — it seeds fresh from segment " +
       "parquet and equals the rebuild twin (never a half-written graph)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("hnswwin").toString
    val rootF = java.nio.file.Files.createTempDirectory("hnswwinf").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalHnsw =
        Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(6L))).toDF("qid", "qvec")

    var hs = open()
    hs.append(rows(0L until 8L))
    hs.search(queryVec = Some(qv)).collect()
    hs.delete(Seq(2L))
    hs.close() // artifact: graph parquet + _state
    val twin = new HybridStore(spark, rootF, cfg)
    twin.append(rows(0L until 8L)); twin.delete(Seq(2L))
    val want = twin.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq

    def checkSeeds(tag: String): Unit = {
      hs = open()
      val got = hs.search(queryVec = Some(qv))
        .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(!hs.hnswLogLoaded, s"$tag: a torn artifact was trusted")
      assert(got == want, s"$tag: re-seeded search diverged: $got vs $want")
    }

    // window (a): killed after the _state delete, before the graph write
    // — graph dir intact but marker gone
    assert(new java.io.File(s"$root/_hnsw/_state").delete())
    checkSeeds("state-deleted")
    hs.close() // re-persists a full artifact

    // window (b): killed mid-graph-write — simulate by dropping the graph
    // job marker while _state exists (the REVERSE tear; persistTo's
    // ordering makes it impossible, but a corrupt filesystem can't be)
    assert(new java.io.File(s"$root/_hnsw/graph/_SUCCESS").delete())
    checkSeeds("graph-torn")
    hs.close()

    // window (c): both torn — marker gone AND a graph part file missing
    assert(new java.io.File(s"$root/_hnsw/_state").delete())
    val part = new java.io.File(s"$root/_hnsw/graph").listFiles()
      .find(f => f.getName.startsWith("part-")).get
    assert(part.delete())
    checkSeeds("both-torn")
    hs.close(); twin.close()
  }

  test("HNSW graph artifact persists at COMPACTION, not only close: a " +
       "process killed without close() after a compaction reopens by " +
       "LOAD + replay-since-compaction, never a full re-seed") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("hnswcrash").toString
    val rootF = java.nio.file.Files.createTempDirectory("hnswcrashf").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalHnsw =
        Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")

    val hs = open()
    hs.append(rows(0L until 6L))
    hs.search(queryVec = Some(qv)).collect() // seed the log
    hs.compact()
    // the graph artifact must exist RIGHT HERE — before any close()
    val graphDir = new java.io.File(s"$root/_hnsw/graph")
    assert(graphDir.isDirectory &&
      new java.io.File(graphDir, "_SUCCESS").exists() &&
      new java.io.File(s"$root/_hnsw/_state").exists(),
      "compact() did not persist the graph artifact")
    // post-compaction mutations, then CRASH (no close: the object is
    // simply abandoned — its persistTo never runs)
    hs.append(rows(6L until 9L))
    hs.delete(Seq(1L))

    val hs2 = open()
    val got = hs2.search(queryVec = Some(qv), queryText = Some("shared probe"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(hs2.hnswLogLoaded,
      "crash-reopen re-seeded instead of loading the compaction-time " +
        "artifact and replaying the two post-compaction mutations")
    val twin = new HybridStore(spark, rootF, cfg)
    twin.append(rows(0L until 6L)); twin.append(rows(6L until 9L))
    twin.delete(Seq(1L))
    val want = twin.search(queryVec = Some(qv), queryText = Some("shared probe"))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got == want, s"crash-recovered store diverged: $got vs $want")
    hs2.close(); twin.close()
  }

  test("mutation-free reopen with an uncompacted tombstone stays CLEAN: " +
       "the tombstone mask is already baked into the persisted graph, so " +
       "open/search/close cycles never rewrite the artifact (ADVICE r12: " +
       "reopen used to re-soft-delete deadIds and dirty every cycle)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("hnswclean").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalHnsw =
        Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(3L))).toDF("qid", "qvec")

    var hs = open()
    hs.append(rows(0L until 6L))
    hs.search(queryVec = Some(qv)).collect()
    hs.delete(Seq(2L)) // tombstone stays UNCOMPACTED across the cycles
    hs.close()         // artifact written with the soft-delete baked in
    val graphDir = new java.io.File(s"$root/_hnsw/graph")
    def fingerprint() = graphDir.listFiles()
      .map(f => (f.getName, f.lastModified(), f.length())).sortBy(_._1).toSeq
    val fp0 = fingerprint()
    val expect = (0L until 6L).filterNot(_ == 2L)
    (1 to 3).foreach { cycle =>
      hs = open()
      val ids = hs.search(queryVec = Some(qv)).collect()
        .map(_.getLong(0)).toSet
      assert(ids == expect.toSet, s"cycle $cycle served wrong ids: $ids")
      assert(hs.hnswLogLoaded, s"cycle $cycle re-seeded")
      hs.close()
      assert(fingerprint() == fp0,
        s"cycle $cycle rewrote the graph artifact despite zero mutations")
    }
  }

  test("HnswLog fold-cadence auto-persist: a long-streaming store that " +
       "NEVER compacts or closes still dumps its graph every 16th fold, " +
       "so a crash reopens by load+replay — never the full re-seed " +
       "(round-13 note #1: persist was close/compaction-only)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("hnswfold").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    def open() = new HybridStore(spark, root, cfg,
      incrementalHnsw =
        Some(graft.store.HybridStore.HnswSpec(efSearch = 5000)))
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(9L))).toDF("qid", "qvec")

    val hs = open()
    hs.append(rows(0L until 4L))
    hs.search(queryVec = Some(qv)).collect() // builds + seeds the log
    val state = new java.io.File(s"$root/_hnsw/_state")
    assert(!state.exists(), "no persist should have happened yet")
    // 18 single-segment appends = 18 generation swaps (appends fold
    // eagerly once the log exists), zero compactions (autoCompactAt=0)
    // — the 16th swap must dump the graph
    (0 until 18).foreach(i => hs.append(rows(Seq(100L + i))))
    assert(state.exists(),
      "auto-persist did not fire within 18 folds and no compaction ran")
    val want = hs.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    // CRASH: no close(), no compaction — the artifact on disk is the
    // fold-cadence dump plus whatever segments landed after it
    val hs2 = open()
    val got = hs2.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(hs2.hnswLogLoaded,
      "reopen re-seeded instead of loading the fold-cadence artifact")
    assert(got == want, s"load+replay reopen diverged: $got vs $want")
    hs2.close(); hs.close()
  }

  test("persisted-HNSW metric mismatch RE-SEEDS under the new metric " +
       "(the graph is a rederivable cache) instead of throwing like the " +
       "VecLog model (which carries authoritative train-time state)") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("hnswremetric").toString
    val rootF = java.nio.file.Files.createTempDirectory("hnswremetricf").toString
    def rows(ids: Seq[Long]) = ids.map { id =>
      (id, vecOf(id), s"body doc$id shared probe")
    }.toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    val spec = graft.store.HybridStore.HnswSpec(efSearch = 5000)

    val cosCfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf,
      metric = graft.vector.Metric.Cosine)
    val cos = new HybridStore(spark, root, cosCfg, incrementalHnsw = Some(spec))
    cos.append(rows(0L until 8L))
    cos.search(queryVec = Some(qv)).collect()
    cos.close() // persists a Cosine-built graph

    // reconfigure the SAME store to L2: the artifact is unusable but
    // rederivable — reopen must fall back to a fresh seed, not demand a
    // manual _hnsw deletion
    val l2Cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    val l2 = new HybridStore(spark, root, l2Cfg, incrementalHnsw = Some(spec))
    val reseedsBefore = graft.vector.HnswLog.metricReseeds.get()
    val got = l2.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(!l2.hnswLogLoaded, "mismatched-metric artifact was NOT discarded")
    // the re-seed must be OBSERVABLE beyond the slf4j warn: a
    // misconfigured store pays this full rebuild on every open, and
    // operators need a signal that repeats with it (ADVICE r13)
    assert(l2.hnswMetricReseeded,
      "store-level metric-reseed flag not raised")
    assert(graft.vector.HnswLog.metricReseeds.get() > reseedsBefore,
      "process-wide metric-reseed counter did not advance")
    val twin = new HybridStore(spark, rootF, l2Cfg, incrementalHnsw = Some(spec))
    twin.append(rows(0L until 8L))
    val want = twin.search(queryVec = Some(qv))
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(got == want, s"re-seeded L2 store diverged: $got vs $want")
    assert(!twin.hnswMetricReseeded,
      "a FRESH store (no artifact) must not raise the metric-reseed flag")
    l2.close(); twin.close()
  }

  test("SHARED liveness probe (VERDICT r15): a mutation on a store with " +
       "text + quantized legs attached pays ONE facade probe — counted " +
       "by invocation AND attributable via the graft.liveness-probe job " +
       "group — whose false verdict keeps EVERY leg's marker table " +
       "empty on append-only histories; replacements and deletes still " +
       "mask correctly under the shared true verdict") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("sharedprobe").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf) // k >> corpus
    val hs = new HybridStore(spark, root, cfg,
      incrementalPq = Some(HybridStore.PqSpec(m = 2, ksub = 4, maxIter = 3,
        refineFactor = 1000))) // corpus-covering refine: exhaustive-exact
    def rows(ids: Seq[Long]) = ids.map(id => (id, vecOf(id),
      s"body doc$id marker${id % 3} shared probe")).toDF("id", "vector", "text")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    hs.append(rows(0L until 6L))
    // one search seeds BOTH incremental logs (text + pq)
    assert(hs.search(queryVec = Some(qv), queryText = Some("shared")).count() > 0)
    def probeGroupJobs: Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup("graft.liveness-probe").length
    val groupBefore = probeGroupJobs
    val countBefore = hs.livenessProbeCount
    // three append-only mutations: ONE probe invocation each — the legs
    // consume the shared verdict instead of running one probe per leg —
    // and a false verdict writes no markers anywhere
    hs.append(rows(6L until 9L))
    hs.append(rows(9L until 12L))
    hs.append(rows(12L until 15L))
    assert(hs.livenessProbeCount == countBefore + 3,
      s"expected exactly one shared probe per mutation, saw " +
        s"${hs.livenessProbeCount - countBefore} for 3 appends")
    // range pruning (VERDICT r16 #3): these appends' id ranges are
    // DISJOINT from every earlier segment's (min,max), so the probe
    // answers Some(false) from cached range stats without scanning ANY
    // segment — the flat-cost contract for append-only ingest
    assert(hs.livenessSegmentsProbed == 0L,
      s"range-disjoint appends scanned ${hs.livenessSegmentsProbed} " +
        "segments; the range prune should have answered without a scan")
    assert(hs.legMarkerRows.values.sum == 0L,
      s"append-only history grew markers: ${hs.legMarkerRows}")
    // r18 footer-stat ranges: a range-pruned probe is ZERO Spark jobs —
    // batch ranges come from cached segment stats and segment ranges
    // from parquet footers, so nothing lands in the job group at all
    // (pre-r18 the backfill aggs ran here and the group counted >= 3)
    assert(probeGroupJobs == groupBefore,
      s"range-pruned probes ran Spark work: $probeGroupJobs vs " +
        s"$groupBefore before — the footer-stat backfill regressed " +
        "to a scan")
    // a REPLACEMENT rides the shared TRUE verdict: one probe, markers
    // appear in the quantized leg, and the replaced row serves newest
    hs.append(rows(Seq(3L)))
    assert(hs.livenessProbeCount == countBefore + 4)
    // ...and a probe that actually SCANS is attributable: the job group
    // records its semi-join work (exact job count is an AQE detail).
    // The status store updates asynchronously — poll briefly.
    val deadline = System.currentTimeMillis() + 15000
    while (probeGroupJobs < groupBefore + 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(probeGroupJobs >= groupBefore + 1,
      s"scanning probe not attributed to the graft.liveness-probe " +
        s"group: $probeGroupJobs vs $groupBefore before")
    // the replacement's range [3,3] intersects ONLY the first segment
    // [0,5] — the probe scans exactly that one, not the whole history
    assert(hs.livenessSegmentsProbed == 1L,
      s"replacement should probe exactly the one intersecting segment, " +
        s"scanned ${hs.livenessSegmentsProbed}")
    assert(hs.legMarkerRows("pq") >= 1L,
      s"replacement wrote no pq marker: ${hs.legMarkerRows}")
    // a DELETE through the shared verdict masks everywhere: the id
    // disappears from the exhaustive-exact vector results
    hs.delete(Seq(4L))
    assert(hs.livenessProbeCount == countBefore + 5)
    assert(hs.livenessSegmentsProbed == 2L,
      s"delete of id 4 should probe only the [0,5] segment, cumulative " +
        s"scans ${hs.livenessSegmentsProbed}")
    val ids = hs.search(queryVec = Some(qv)).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(4L), "deleted id 4 still served")
    assert(ids.contains(3L), "replaced id 3 lost")
    assert(ids == ((0L until 15L).toSet - 4L),
      s"live set wrong after replace+delete: $ids")
    hs.close()
  }

  test("BOUNDED liveness probe (VERDICT r16 #3): per-mutation probe cost " +
       "stays FLAT across a long append history — range-disjoint appends " +
       "scan zero segments no matter how many accumulate, and an " +
       "everything-overlapping delete early-exits after ONE newest-first " +
       "chunk instead of unioning a scan per segment") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("boundedprobe").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    val hs = new HybridStore(spark, root, cfg,
      incrementalPq = Some(HybridStore.PqSpec(m = 2, ksub = 4, maxIter = 3,
        refineFactor = 1000)))
    def rows(ids: Seq[Long]) =
      ids.map(id => (id, vecOf(id))).toDF("id", "vector")
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    hs.append(rows(0L until 4L))
    assert(hs.search(queryVec = Some(qv)).count() > 0) // seed the pq log
    // 20 more disjoint-range appends -> a 21-segment history; every probe
    // must answer from the cached range stats with ZERO segment scans,
    // and per-mutation cost must not grow with the segment count
    (0 until 20).foreach { i =>
      hs.append(rows((4L + i * 4L) until (8L + i * 4L)))
      assert(hs.livenessSegmentsProbed == 0L,
        s"append ${i + 1}: range-disjoint history scanned " +
          s"${hs.livenessSegmentsProbed} segments")
    }
    assert(hs.legMarkerRows.values.sum == 0L,
      s"append-only history grew markers: ${hs.legMarkerRows}")
    // a delete whose range spans EVERY segment: all 21 are candidates,
    // but the newest-first chunked probe (chunk = probeChunkSegs) finds
    // an instance in the first chunk and early-exits — never one union
    // plan over the whole history
    hs.delete(Seq(5L, 80L)) // range [5,80] intersects all segments
    assert(hs.livenessSegmentsProbed > 0L, "overlapping delete never probed")
    assert(hs.livenessSegmentsProbed <= hs.probeChunkSegs.toLong,
      s"delete probed ${hs.livenessSegmentsProbed} segments — more than " +
        s"one chunk (${hs.probeChunkSegs}); early exit not engaging")
    // correctness under the bounded probe: both ids are masked
    val ids = hs.search(queryVec = Some(qv)).collect().map(_.getLong(0)).toSet
    assert(!ids.contains(5L) && !ids.contains(80L),
      s"bounded probe lost a delete: ${ids.intersect(Set(5L, 80L))}")
    assert(ids == ((0L until 84L).toSet -- Set(5L, 80L)),
      s"live set wrong after bounded-probe delete")
    hs.close()
  }

  test("ADVERSARIAL id layout (r17 ask #5): interleaved per-segment " +
       "ranges make every segment a candidate for every mutation — the " +
       "probe still costs AT MOST TWO plans per mutation (newest chunk, " +
       "then one union over the rest), reads every candidate ONLY for a " +
       "truly-false answer, and stays correct") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("advprobe").toString
    val cfg = Hybrid.Config(k = 1000, fusion = Hybrid.Rrf)
    val hs = new HybridStore(spark, root, cfg,
      incrementalPq = Some(HybridStore.PqSpec(m = 2, ksub = 4, maxIter = 3,
        refineFactor = 1000)))
    // segment k holds ids {k, 500+k}: its range [k, 500+k] overlaps every
    // other segment's range AND any batch inside [19, 500] — range
    // pruning is structurally useless here
    def seg(k: Long) = Seq((k, vecOf(k)), (500L + k, vecOf(500L + k)))
      .toDF("id", "vector")
    hs.append(seg(0L))
    val qv = Seq((0L, vecOf(7L))).toDF("qid", "qvec")
    assert(hs.search(queryVec = Some(qv)).count() > 0) // seed the pq log
    (1L until 20L).foreach { k =>
      val plansBefore = hs.livenessProbePlans
      hs.append(seg(k))
      // every prior segment is a candidate (ranges all overlap), the
      // batch's ids exist nowhere else → truly-false verdict, read all,
      // but NEVER more than two plans
      assert(hs.livenessProbePlans - plansBefore <= 2,
        s"append $k ran ${hs.livenessProbePlans - plansBefore} probe plans")
    }
    assert(hs.legMarkerRows.values.sum == 0L,
      s"false verdicts wrote markers: ${hs.legMarkerRows}")
    // newest-chunk HIT: id 19 lives in the NEWEST segment while every
    // segment's range [k, 500+k] contains 19 — all 20 are candidates,
    // yet the recency-first chunk answers in one plan, ≤ one chunk read
    var plans0 = hs.livenessProbePlans
    var probed0 = hs.livenessSegmentsProbed
    hs.delete(Seq(19L))
    assert(hs.livenessProbePlans - plans0 == 1,
      "a newest-chunk hit must answer from the first plan")
    assert(hs.livenessSegmentsProbed - probed0 <= hs.probeChunkSegs.toLong,
      s"newest-chunk hit read ${hs.livenessSegmentsProbed - probed0} segments")
    // OLDEST-segment hit (id 500 only in segment 0): the newest chunk
    // misses, the union fallback finds it — exactly two plans, all 20
    // segments read (the honest price of a hit the recency heuristic
    // cannot reach)
    plans0 = hs.livenessProbePlans
    probed0 = hs.livenessSegmentsProbed
    hs.delete(Seq(500L))
    assert(hs.livenessProbePlans - plans0 == 2,
      s"oldest-hit delete ran ${hs.livenessProbePlans - plans0} plans")
    assert(hs.livenessSegmentsProbed - probed0 == 20L,
      s"oldest-hit delete read ${hs.livenessSegmentsProbed - probed0}")
    // truly-FALSE: absent ids spanning every range — two plans, all read
    plans0 = hs.livenessProbePlans
    hs.delete(Seq(-1L, 1000L))
    assert(hs.livenessProbePlans - plans0 == 2,
      s"miss-path delete ran ${hs.livenessProbePlans - plans0} plans")
    // correctness: exactly the two deleted ids are masked
    val ids = hs.search(queryVec = Some(qv)).collect().map(_.getLong(0)).toSet
    val expected = ((0L until 20L) ++ (500L until 520L)).toSet -- Set(19L, 500L)
    assert(ids == expected, s"live set wrong under adversarial layout: $ids")
    hs.close()
  }
}
