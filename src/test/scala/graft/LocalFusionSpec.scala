package graft

import graft.hybrid.Hybrid
import graft.hybrid.Hybrid.{Config, MaxF, MinF, Rrf, WeightedSum}
import org.scalatest.funsuite.AnyFunSuite

/** Embedded fusion on primitive arrays ([[Hybrid.LocalFusion]]) against
  * the Map-of-tuples fusion it replaced, copied here as the model: the same
  * formulas and tie-breaks, bit for bit, over random leg outputs with tied
  * scores and with overlapping and disjoint ids. */
class LocalFusionSpec extends AnyFunSuite {

  // ---- the model: the four map-based fusions and the final tuple sort

  private def localWeighted(v: Seq[(Long, Double)], t: Seq[(Long, Double)],
                            vw: Double, tw: Double): Seq[(Long, Double)] = {
    val vm = v.toMap; val tm = t.toMap
    (vm.keySet ++ tm.keySet).toSeq.map(id =>
      (id, vm.getOrElse(id, 0.0) * vw + tm.getOrElse(id, 0.0) * tw))
  }
  private def localRrf(v: Seq[(Long, Double)], t: Seq[(Long, Double)],
                       k: Double): Seq[(Long, Double)] = {
    val vr = v.sortBy { case (id, s) => (s, id) }
      .zipWithIndex.map { case ((id, _), r) => id -> r }.toMap
    val tr = t.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), r) => id -> r }.toMap
    (vr.keySet ++ tr.keySet).toSeq.map { id =>
      (id, vr.get(id).map(r => 1.0 / (k + r)).getOrElse(0.0) +
           tr.get(id).map(r => 1.0 / (k + r)).getOrElse(0.0))
    }
  }
  private def localMax(v: Seq[(Long, Double)],
                       t: Seq[(Long, Double)]): Seq[(Long, Double)] = {
    val vm = v.toMap; val tm = t.toMap
    (vm.keySet ++ tm.keySet).toSeq.map { id =>
      (vm.get(id), tm.get(id)) match {
        case (Some(a), Some(b)) => (id, math.max(a, b))
        case (Some(a), None)    => (id, a)
        case (None, b)          => (id, b.get)
      }
    }
  }
  private def localMin(v: Seq[(Long, Double)],
                       t: Seq[(Long, Double)]): Seq[(Long, Double)] = {
    val tm = t.toMap
    v.flatMap { case (id, a) => tm.get(id).map(b => (id, math.min(a, b))) }
  }
  private def finalTop(fused: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    fused.sortBy { case (id, s) => (-s, id) }.take(k)

  private def model(v: Seq[(Long, Double)], t: Seq[(Long, Double)],
                    cfg: Config): Seq[(Long, Double)] = finalTop(cfg.fusion match {
    case WeightedSum => localWeighted(v, t, cfg.vectorWeight, cfg.textWeight)
    case Rrf         => localRrf(v, t, cfg.rrfK)
    case MaxF        => localMax(v, t)
    case MinF        => localMin(v, t)
  }, cfg.k)

  // ---- random legs

  /** A leg of up to 20 distinct ids from [base, base + span), with scores
    * drawn from a few values (ties) or from a continuous range. */
  private def leg(rnd: scala.util.Random, base: Long, span: Int,
                  tied: Boolean): Seq[(Long, Double)] = {
    val size = rnd.nextInt(math.min(20, span) + 1)
    rnd.shuffle((0 until span).toList).take(size).map { o =>
      val s = if (tied) rnd.nextInt(4) * 0.25 else rnd.nextDouble() * 3.0
      (base + o, s)
    }
  }

  private val configs: Seq[Config] = for {
    kind <- Seq(WeightedSum, Rrf, MaxF, MinF)
    k <- Seq(0, 1, 5, 10, 50)
    (vw, tw, rrfK) <- Seq((1.0, 1.0, 60.0), (0.3, 0.7, 1.0), (2.0, 0.0, 10.0))
  } yield Config(k = k, fusion = kind, vectorWeight = vw, textWeight = tw,
    rrfK = rrfK)

  test("fuse == the map-based model for every fusion kind, k and weight " +
       "set, over overlapping, disjoint and tied legs") {
    val rnd = new scala.util.Random(5)
    var overlaps = 0
    for (trial <- 0 until 300) {
      val tied = trial % 2 == 0
      val v = leg(rnd, 0L, 30, tied)
      // every third trial draws the text leg from a disjoint id range
      val t = leg(rnd, if (trial % 3 == 0) 1000L else 0L, 30, tied)
      if (v.map(_._1).toSet.intersect(t.map(_._1).toSet).nonEmpty) overlaps += 1
      configs.foreach { cfg =>
        assert(Hybrid.LocalFusion.fuse(v, t, cfg) == model(v, t, cfg),
          s"trial $trial, $cfg, v=$v, t=$t")
      }
    }
    assert(overlaps > 100) // the draw really exercises shared ids
  }

  test("top == the final sort of one leg: score descending, id ascending") {
    val rnd = new scala.util.Random(6)
    for (trial <- 0 until 200; k <- Seq(0, 1, 10, 50)) {
      val xs = leg(rnd, 0L, 40, tied = trial % 2 == 0)
      assert(Hybrid.LocalFusion.top(xs, k) == finalTop(xs, k), s"trial $trial, k $k")
    }
  }

  test("empty legs fuse to empty or to the other leg's order") {
    val t = Seq(3L -> 0.5, 1L -> 0.5, 2L -> 0.9)
    val cfg = Config(k = 10, fusion = MaxF)
    assert(Hybrid.LocalFusion.fuse(Seq.empty, t, cfg) == Seq(2L -> 0.9, 1L -> 0.5, 3L -> 0.5))
    assert(Hybrid.LocalFusion.fuse(Seq.empty, t, cfg.copy(fusion = MinF)).isEmpty)
    assert(Hybrid.LocalFusion.fuse(Seq.empty, Seq.empty, cfg).isEmpty)
  }
}
