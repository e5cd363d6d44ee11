package graft

import graft.vector._
import org.apache.spark.sql.DataFrame

/** The HNSW leg's small-candidate-set path: a shard holding fewer live
  * members of an [[IdSet]] than the beam width scores them exactly instead
  * of running a beam that could never stop early. Pins exactness across
  * filter selectivities, embedded/distributed parity, the distance-count
  * bound, soft-delete and replace semantics, and that any other predicate
  * still runs the beam. */
class HnswFilteredExactSpec extends SparkSpec {

  private val n = 2000
  private val dim = 16

  /** 2,000 vectors around 20 Gaussian cluster centres; doc i is id i. */
  private lazy val vecs: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    val centres = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian().toFloat * 4f))
    Array.tabulate(n) { i =>
      val c = centres(i % centres.length)
      Array.tabulate(dim)(j => c(j) + rnd.nextGaussian().toFloat)
    }
  }

  private lazy val data: DataFrame = {
    val s = spark
    import s.implicits._
    vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "vector")
  }

  private lazy val idx: Hnsw.Index = Hnsw.buildRouted(data, 4, m = 16)

  private lazy val queries: Seq[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(6) {
      val base = vecs(rnd.nextInt(n))
      base.map(x => x + rnd.nextGaussian().toFloat * 0.5f)
    }
  }

  /** A seeded random `share` of the ids. */
  private def sample(share: Double, seed: Int): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).filter(_ => rnd.nextDouble() < share).toArray
  }

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    math.sqrt(s)
  }

  /** Flat exact filtered top-k over `vs`, ordered by (distance, id). */
  private def exact(vs: Long => Option[Array[Float]], cands: Iterable[Long],
                    q: Array[Float], k: Int): Seq[(Long, Double)] =
    cands.iterator.flatMap(id => vs(id).map(v => (id, l2(v, q)))).toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  private def assertSame(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
                         what: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$what: $got != $want")
    got.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, b), s"$what: $a vs $b")
    }
  }

  private def original(id: Long): Option[Array[Float]] =
    if (id >= 0 && id < n) Some(vecs(id.toInt)) else None

  test("filtered search equals flat exact filtered top-k at 1%, 5%, 20% " +
       "and 60% selectivity, ordered by (distance, id)") {
    val serving = Hnsw.serve(idx)
    Seq(0.01, 0.05, 0.20, 0.60).zipWithIndex.foreach { case (share, s) =>
      val cands = sample(share, 100 + s)
      val set = IdSet(cands)
      queries.zipWithIndex.foreach { case (q, qi) =>
        assertSame(serving.search(q, 10, 200, set),
          exact(original, cands, q, 10), s"share $share query $qi")
      }
    }
  }

  test("distributed searchIndex with a candidate frame equals the " +
       "embedded IdSet search row for row") {
    val s = spark
    import s.implicits._
    val serving = Hnsw.serve(idx)
    val qf = queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
      .toDF("qid", "qvec")
    Seq(0.01, 0.05, 0.60).zipWithIndex.foreach { case (share, si) =>
      val cands = sample(share, 200 + si)
      val dist = Hnsw.searchIndex(idx, qf, 10, 200,
          candidates = Some(cands.toSeq.toDF("id")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
      queries.indices.foreach { qi =>
        val local = serving.search(queries(qi), 10, 200, IdSet(cands))
        val remote = dist.getOrElse(qi.toLong, Array.empty)
          .map(r => (r._2, r._3)).toSeq.sortBy { case (id, d) => (d, id) }
        assert(local == remote, s"share $share query $qi: $local vs $remote")
      }
    }
  }

  test("a 5% filter evaluates at most one distance per candidate; an " +
       "unfiltered query stays in the graph regime") {
    val serving = Hnsw.serve(idx)
    val cands = sample(0.05, 300)
    val set = IdSet(cands)
    queries.foreach { q =>
      val e0 = serving.distEvals
      assert(serving.search(q, 10, 200, set).nonEmpty)
      val delta = serving.distEvals - e0
      assert(delta <= cands.length,
        s"$delta distance evaluations for ${cands.length} candidates")
    }
    // ef=32: at the default 200 the beam is wide against 500-node shards
    val e0 = serving.distEvals
    assert(serving.search(queries.head, 10, 32).size == 10)
    val delta = serving.distEvals - e0
    assert(delta > 0 && delta < n / 2,
      s"an unfiltered ef=32 search evaluated $delta of $n distances")
  }

  test("soft-deleted and replaced ids never come back from the exact path") {
    val s = spark
    import s.implicits._
    val cands = sample(0.05, 400)
    val q = queries.head
    val before = exact(original, cands, q, 10).map(_._1)
    // delete the two best candidates; move the next two far away
    val gone = before.take(2)
    val moved = before.slice(2, 4)
    val far = Array.fill(dim)(1000f)
    val after = Hnsw.add(Hnsw.softDelete(idx, gone),
      moved.map(id => (id, far)).toDF("id", "vector"))
    val current: Long => Option[Array[Float]] = id =>
      if (gone.contains(id)) None
      else if (moved.contains(id)) Some(far)
      else original(id)
    val serving = Hnsw.serve(after)
    val res = serving.search(q, 10, 200, IdSet(cands))
    assert(res.forall { case (id, _) => !gone.contains(id) })
    assert(res.forall { case (id, _) => !moved.contains(id) })
    assertSame(res, exact(current, cands, q, 10), "after delete/replace")
    // k beyond the live candidates: every live candidate once, the moved
    // ones at their NEW distance
    val all = serving.search(q, cands.length + 5, 200, IdSet(cands))
    assertSame(all, exact(current, cands, q, cands.length + 5), "all live")
    assert(all.map(_._1).distinct.size == cands.length - gone.size)
  }

  test("a plain lambda predicate still runs the beam and admits only " +
       "matching ids") {
    val serving = Hnsw.serve(idx)
    val cands = sample(0.05, 500)
    val set = cands.toSet
    val e0 = serving.distEvals
    val res = serving.search(queries.head, 10, 200, (id: Long) => set(id))
    val delta = serving.distEvals - e0
    assert(res.nonEmpty && res.forall { case (id, _) => set(id) })
    assert(delta > cands.length,
      s"the beam should walk past the ${cands.length} candidates; it " +
        s"evaluated $delta distances")
  }
}
