package perfbench

import graft.filter.{Filter, FilterGroup}

/** One generated document. `cat` has [[Gen.Cats]] equally likely values
  * (5% selectivity each); `price` is uniform over [0, [[Gen.PriceMax]]). */
final case class Doc(id: Long, vector: Array[Float], text: String,
                     cat: String, price: Int)

/** A query's metadata filter, kept in the benchmark's own form so results
  * can be checked against the generated metadata without the library. */
sealed trait Filt {
  def groups: Seq[FilterGroup]
  def matches(d: Doc): Boolean
}
/** Equality on one of the 20 categories: values repeat across queries. */
final case class CatEq(cat: String) extends Filt {
  def groups: Seq[FilterGroup] = Seq(FilterGroup(Seq(Filter.Eq("cat", cat))))
  def matches(d: Doc): Boolean = d.cat == cat
}
/** Inclusive price range of width [[Gen.PriceWidth]]: distinct per query. */
final case class PriceRange(lo: Int, hi: Int) extends Filt {
  def groups: Seq[FilterGroup] =
    Seq(FilterGroup(Seq(Filter.Between("price", lo, hi))))
  def matches(d: Doc): Boolean = d.price >= lo && d.price <= hi
}

/** `kind` names the query's shape; `vec`/`text`/`filt` are its parts. */
final case class Query(kind: String, vec: Option[Array[Float]],
                       text: Option[String], filt: Option[Filt])

/** Seeded inputs for every workload. Each stream draws from its own
  * generator derived from (seed, stream name), so the same seed gives the
  * same inputs and adding a stream never shifts another. Only the
  * generated values reach the library. */
final class Gen(val seed: Long) {
  import Gen._

  def rng(stream: String): java.util.Random = {
    var h = seed * 0x9E3779B97F4A7C15L
    stream.foreach(c => h = (h ^ c) * 0x100000001B3L)
    new java.util.Random(h)
  }

  /** Cluster centres of the vector space. */
  val centers: Array[Array[Float]] = {
    val r = rng("centers")
    Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  private def clustered(r: java.util.Random): Array[Float] = {
    val c = centers(r.nextInt(Clusters))
    Array.tabulate(Dim)(i => c(i) + (Spread * r.nextGaussian()).toFloat)
  }

  private def zipfTerm(r: java.util.Random): String =
    term(Gen.zipfRank(r.nextDouble()))

  /** `n` documents with ids `firstId until firstId + n`, drawn from the
    * named stream. `marker`, when set, is appended to every text so a
    * search for it finds exactly this batch. */
  def docs(stream: String, firstId: Long, n: Int,
           marker: Option[String] = None): Array[Doc] = {
    val r = rng(stream)
    Array.tabulate(n) { i =>
      val len = MinTokens + r.nextInt(MaxTokens - MinTokens + 1)
      val words = Array.fill(len)(zipfTerm(r)) ++ marker
      Doc(firstId + i, clustered(r), words.mkString(" "),
        f"c${r.nextInt(Cats)}%02d", r.nextInt(PriceMax))
    }
  }

  /** Near-duplicates of `n` distinct docs of `corpus`: the same words in
    * upper case with extra punctuation, so raw text differs while the
    * normalised word sequence matches, and the vector moved slightly so no
    * distance ties. Returns the copies and the planted (original id, copy
    * id) pairs. */
  def nearDuplicates(corpus: Array[Doc], n: Int,
                     firstId: Long): (Array[Doc], Seq[(Long, Long)]) = {
    val r = rng("duplicates")
    val picks = r.ints(0, corpus.length).distinct().limit(n).toArray
    val copies = picks.zipWithIndex.map { case (p, i) =>
      val src = corpus(p)
      src.copy(id = firstId + i, vector = src.vector.map(_ + 0.01f),
        text = src.text.toUpperCase(java.util.Locale.ROOT)
          .replace(" ", " , ") + " !")
    }
    (copies, picks.toSeq.zip(copies).map { case (p, c) => (corpus(p).id, c.id) })
  }

  /** The fixed query stream: position `i` has kind `QueryKinds(i % 6)`, so
    * every run sees the same mix. Category filters cycle through all
    * categories and repeat; price ranges are drawn per query. */
  def queries(stream: String, n: Int): Array[Query] = {
    val r = rng(stream)
    Array.tabulate(n) { i =>
      val vec = clustered(r)
      val text = Array.fill(2 + r.nextInt(3))(zipfTerm(r)).mkString(" ")
      val cat = CatEq(f"c${r.nextInt(Cats)}%02d")
      val lo = r.nextInt(PriceMax - PriceWidth)
      val range = PriceRange(lo, lo + PriceWidth - 1)
      QueryKinds(i % QueryKinds.size) match {
        case k @ "vector" => Query(k, Some(vec), None, None)
        case k @ "text" => Query(k, None, Some(text), None)
        case k @ "hybrid" => Query(k, Some(vec), Some(text), None)
        case k @ "hybrid_cat" => Query(k, Some(vec), Some(text), Some(cat))
        case k @ "hybrid_price" => Query(k, Some(vec), Some(text), Some(range))
        case k @ "vector_cat" => Query(k, Some(vec), None, Some(cat))
      }
    }
  }

  /** `n` query vectors for batch kNN. */
  def vectors(stream: String, n: Int): Array[Array[Float]] = {
    val r = rng(stream)
    Array.fill(n)(clustered(r))
  }

  /** `n` ids drawn without replacement from `live`. */
  def sample(stream: String, live: Seq[Long], n: Int): Seq[Long] = {
    val r = rng(stream)
    val a = live.toArray
    var i = 0
    while (i < math.min(n, a.length)) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(n).toSeq
  }
}

object Gen {
  val Dim = 64
  val Clusters = 32
  /** Per-coordinate standard deviation around a cluster centre. */
  val Spread = 0.6
  val Vocab = 30000
  val MinTokens = 15
  val MaxTokens = 35
  val Cats = 20
  val PriceMax = 10000
  /** 5% of the price domain. */
  val PriceWidth = 500
  val QueryKinds: Seq[String] =
    Seq("vector", "text", "hybrid", "hybrid_cat", "hybrid_price", "vector_cat")

  def term(rank: Int): String = s"w$rank"

  /** Zipf(s = 1) cumulative weights over the vocabulary. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Rank whose cumulative weight first reaches `u` in [0, 1). */
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Vocab - 1)
  }

  /** Lower-case `[a-z0-9]+` words: how the library's simple tokenizer and
    * shingler read text. */
  def words(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq
}
