package graft

import graft.filter.{Filter, Filters}
import graft.filter.Filter._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `NotIn` with a null in its value list: comet's `allDocs ANDNOT
  * union(values)` keeps every doc equal to no listed value (a null value
  * matches no doc, and a doc missing the field qualifies), and both the
  * compiled Column and the local evaluator must say so. */
class NotInNullSpec extends SparkSpec {

  /** 40 rows: `qty` is null on every seventh row, else 0..9; `tag` is null
    * on every fifth row, else one of four strings. */
  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 40).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(i % 10),
        if (i % 5 == 0) None else Some(Seq("a", "b", "c", "d")(i % 4)))
    }.toDF("id", "qty", "tag")
  }

  private lazy val rows: Array[Row] = frame.collect()

  private def viaColumn(f: Filter): Set[Long] =
    frame.filter(Filters.compile(f)).select("id").collect().map(_.getLong(0)).toSet

  /** The ids each compiled Column keeps, every filter evaluated as one
    * projected column of a single query (a null predicate keeps no row, as
    * in `filter`). */
  private def viaColumns(fs: Seq[Filter]): Seq[Set[Long]] = {
    val got = frame.select(col("id") +: fs.indices.map(i =>
      Filters.compile(fs(i)).as(s"f$i")): _*).collect()
    fs.indices.map(i => got.filter(r => !r.isNullAt(i + 1) && r.getBoolean(i + 1))
      .map(_.getLong(0)).toSet)
  }

  private def viaLocal(f: Filter): Set[Long] = {
    val names = frame.schema.fieldNames.zipWithIndex.toMap
    rows.filter { r =>
      Filters.matchesLocal(f, name => names.get(name).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).orNull)
    }.map(_.getLong(0)).toSet
  }

  test("NotIn(qty, [null, 1]) keeps every row whose qty is not 1") {
    val f = NotIn("qty", Seq(null, 1))
    assert(viaColumn(f).size == 37) // qty is 1 on rows 1, 11 and 31
    assert(viaColumn(f) == viaLocal(f))
  }

  test("property: the Column equals matchesLocal for NotIn, Not(In) and In " +
       "over value lists holding nulls") {
    val rnd = new scala.util.Random(3)
    def list(values: => Any): Seq[Any] = {
      val xs = Seq.fill(rnd.nextInt(4))(values)
      // at least one null, at a random position
      rnd.shuffle(null +: xs)
    }
    val cases = (0 until 40).flatMap { trial =>
      val qtys = list(rnd.nextInt(12))
      val tags = list(Seq("a", "b", "c", "x")(rnd.nextInt(4)))
      for ((field, vs) <- Seq("qty" -> qtys, "tag" -> tags);
           f <- Seq[Filter](NotIn(field, vs), Not(In(field, vs)), In(field, vs)))
        yield (trial, f)
    }
    val columns = viaColumns(cases.map(_._2))
    cases.zip(columns).foreach { case ((trial, f), ids) =>
      assert(ids == viaLocal(f), s"trial $trial: $f")
    }
  }
}
