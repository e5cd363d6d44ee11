package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def docKey(d: Doc) = (d.id, d.vector.toSeq, d.text, d.cat, d.price)
  private def queryKey(q: Query) = (q.kind, q.vec.map(_.toSeq), q.text, q.filt)

  test("the same seed gives identical inputs") {
    val (a, b) = (new Gen(42), new Gen(42))
    assert(a.docs("corpus", 0, 500).map(docKey).toSeq == b.docs("corpus", 0, 500).map(docKey).toSeq)
    assert(a.queries("q", 300).map(queryKey).toSeq == b.queries("q", 300).map(queryKey).toSeq)
    assert(a.sample("del", 0L until 1000L, 50) == b.sample("del", 0L until 1000L, 50))
    val corpus = a.docs("corpus", 0, 500)
    val (ca, pa) = a.nearDuplicates(corpus, 20, 500)
    val (cb, pb) = b.nearDuplicates(corpus, 20, 500)
    assert(ca.map(docKey).toSeq == cb.map(docKey).toSeq && pa == pb)
  }

  test("different seeds and streams give different inputs") {
    val g = new Gen(1)
    assert(g.docs("x", 0, 10).map(_.text).toSeq != new Gen(2).docs("x", 0, 10).map(_.text).toSeq)
    assert(g.docs("x", 0, 10).map(_.text).toSeq != g.docs("y", 0, 10).map(_.text).toSeq)
  }

  test("metadata selectivities and the query mix are as stated") {
    val docs = new Gen(7).docs("corpus", 0, 20000)
    val cat = docs.count(_.cat == "c03") / docs.length.toDouble
    assert(math.abs(cat - 0.05) < 0.01)
    val range = PriceRange(1000, 1000 + Gen.PriceWidth - 1)
    assert(math.abs(docs.count(range.matches) / docs.length.toDouble - 0.05) < 0.01)
    val qs = new Gen(7).queries("q", 60)
    assert(qs.map(_.kind).toSeq == Seq.fill(10)(Gen.QueryKinds).flatten)
    assert(qs.flatMap(_.text).forall(t => Gen.words(t).size >= 2 && Gen.words(t).size <= 4))
    val lengths = docs.map(d => Gen.words(d.text).size)
    assert(lengths.min >= Gen.MinTokens && lengths.max <= Gen.MaxTokens)
  }

  test("planted near-duplicates differ in raw text but not in words") {
    val g = new Gen(3)
    val corpus = g.docs("corpus", 0, 200)
    val (copies, pairs) = g.nearDuplicates(corpus, 10, 200)
    assert(pairs.map(_._1).distinct.size == 10)
    pairs.zip(copies).foreach { case ((orig, copy), c) =>
      assert(copy == c.id)
      assert(c.text != corpus(orig.toInt).text)
      assert(Gen.words(c.text) == Gen.words(corpus(orig.toInt).text))
    }
  }
}
