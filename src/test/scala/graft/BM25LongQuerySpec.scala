package graft

import graft.text.BM25
import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet}

/** A document-sized query must not inline thousands of literals into the
  * plan: past [[BM25.MaxLiteralTerms]] distinct terms,
  * `BM25Corpus.scoreTerms` scores through the broadcast-join `score()`
  * path, with the same rows. */
class BM25LongQuerySpec extends SparkSpec {

  test("a 6000-term query scores like score() over the same terms and " +
       "its optimized plan holds no IN list longer than the bound") {
    val s = spark
    import s.implicits._
    val vocab = (0 until 6000).map(i => s"w$i")
    val docs = (0 until 300).map { d =>
      (d.toLong, (0 until 40).map(j => vocab((d * 37 + j * 151) % 6000))
        .mkString(" "))
    }.toDF("id", "text")
    val corpus = BM25.build(docs)
    assert(vocab.distinct.size >= 5000)

    val got = corpus.scoreTerms(vocab)
    val want = corpus.score(vocab.toDF("term"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
        .sortBy(_._1).toSeq
    val g = rows(got)
    assert(g.size == 300, s"every doc matches some term, got ${g.size}")
    assert(g == rows(want), "long-query scores diverged from score()")

    def longestIn(e: Expression): Int = {
      val here = e match {
        case in: In     => in.list.size
        case is: InSet  => is.hset.size
        case _          => 0
      }
      (here +: e.children.map(longestIn)).max
    }
    val plan = got.queryExecution.optimizedPlan
    val longest = plan.collect { case p => p.expressions.map(longestIn) }
      .flatten.foldLeft(0)(math.max)
    assert(longest <= BM25.MaxLiteralTerms,
      s"optimized plan inlines an IN list of $longest literals")

    // a short query still takes the literal-IN path
    val short = corpus.scoreTerms(vocab.take(3)).queryExecution.optimizedPlan
    assert(short.collect { case p => p.expressions.map(longestIn) }
      .flatten.exists(_ > 0), "short queries should keep the literal IN")
  }
}
