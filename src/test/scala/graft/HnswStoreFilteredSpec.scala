package graft

import graft.filter.{Filter, FilterGroup}
import graft.hybrid.Hybrid
import graft.store.HybridStore
import org.scalatest.BeforeAndAfterAll

/** Filtered queries on an HNSW-legged [[HybridStore]]: the embedded
  * `serve()` handle answers them like the distributed `search`, and a
  * selective category filter is scored exactly over its candidates, so
  * the vector leg evaluates no more distances than the filter keeps. */
class HnswStoreFilteredSpec extends SparkSpec with BeforeAndAfterAll {

  private val n = 2000
  private val dim = 16
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  /** id, 16-d clustered vector, 3-word text, one of 20 categories (5%
    * each) and a price. */
  private lazy val docs: Seq[(Long, Array[Float], String, String, Double)] = {
    val rnd = new scala.util.Random(5)
    val centres = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian().toFloat * 4f))
    (0 until n).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      (i.toLong, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian().toFloat),
        Seq.fill(3)(words(rnd.nextInt(words.length))).mkString(" "),
        s"c${i % 20}", rnd.nextDouble() * 100)
    }
  }

  private var store: HybridStore = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val s = spark
    import s.implicits._
    store = new HybridStore(spark,
      java.nio.file.Files.createTempDirectory("hnswfilt").toString,
      Hybrid.Config(k = 10, fusion = Hybrid.Rrf),
      incrementalHnsw = Some(HybridStore.HnswSpec(efConstruction = 40,
        persist = false)))
    store.append(docs.toDF("id", "vector", "text", "category", "price"))
  }

  override def afterAll(): Unit = {
    if (store != null) store.close()
    super.afterAll()
  }

  private def query(i: Int): Array[Float] = {
    val rnd = new scala.util.Random(100 + i)
    docs(rnd.nextInt(n))._2.map(x => x + rnd.nextGaussian().toFloat * 0.5f)
  }

  private def category(c: Int) = Seq(FilterGroup(Seq(Filter.Eq("category", s"c$c"))))
  private def priceBand(lo: Double) =
    Seq(FilterGroup(Seq(Filter.Between("price", lo, lo + 5.0))))

  private def distributed(filters: Seq[FilterGroup], qv: Array[Float],
                          text: Option[String]): Seq[(Long, Double)] = {
    val s = spark
    import s.implicits._
    store.search(filters = filters,
        queryVec = Some(Seq((0L, qv)).toDF("qid", "qvec")), queryText = text)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("filtered vector and filtered hybrid queries: serve() returns the " +
       "distributed search's ids and scores") {
    val handle = store.serve()
    (0 until 4).foreach { i =>
      Seq(category(i), priceBand(i * 20.0)).foreach { f =>
        Seq(None, Some(s"${words(i)} ${words(i + 3)}")).foreach { text =>
          val local = handle.search(f, Some(query(i)), text)
          val dist = distributed(f, query(i), text)
          assert(local.nonEmpty, s"$f $text: no results")
          assert(local.map(_._1) == dist.map(_._1),
            s"$f $text: embedded $local vs distributed $dist")
          local.zip(dist).foreach { case ((_, a), (_, b)) =>
            assert(math.abs(a - b) < 1e-9, s"$f $text: $a vs $b") }
        }
      }
    }
  }

  test("a category filter advances vecDistEvals by at most its candidate " +
       "count") {
    val handle = store.serve()
    (0 until 4).foreach { i =>
      val cands = docs.count(_._4 == s"c$i")
      val e0 = handle.vecDistEvals.get
      assert(handle.search(category(i), Some(query(i)), None).size == 10)
      val delta = handle.vecDistEvals.get - e0
      assert(delta <= cands,
        s"category c$i: $delta distance evaluations for $cands candidates")
    }
  }
}
