package graft

import graft.filter.{Filter, FilterGroup, Filters}
import graft.filter.Filter._
import graft.hybrid.Hybrid
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** A literal of another kind than its field — a string against a number,
  * a number against a string, a Boolean against either — matches nothing
  * through the schema-aware Column, as through [[Filters.matchesLocal]]
  * and comet, whose strings and numbers live in different indexes
  * (metadata_index.go:135-164); the complements match everything. The
  * Column casts no such literal, so a non-numeric string does not throw. */
class FilterKindMismatchSpec extends SparkSpec {

  /** 40 rows: `qty` null on every seventh row, else 0..9; `price` null on
    * every sixth, else qty / 2; `name` null on every fifth, else a digit
    * string or a word; `tags` null on every fourth. */
  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 40).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(i % 10),
        if (i % 6 == 0) None else Some((i % 10) / 2.0),
        if (i % 5 == 0) None else Some(Seq("3", "10", "abc", "2.5")(i % 4)),
        if (i % 4 == 0) None else Some(Seq("3", "x").take(1 + i % 2)))
    }.toDF("id", "qty", "price", "name", "tags")
  }

  private lazy val rows: Array[Row] = frame.collect()

  private def viaLocal(f: Filter): Set[Long] = {
    val names = frame.schema.fieldNames.zipWithIndex.toMap
    rows.filter { r =>
      Filters.matchesLocal(f, name => names.get(name).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).orNull)
    }.map(_.getLong(0)).toSet
  }

  /** The ids each schema-aware Column keeps, all filters projected in one
    * query (a null predicate keeps no row, as in `filter`). */
  private def viaColumns(fs: Seq[Filter]): Seq[Set[Long]] = {
    val got = frame.select(col("id") +: fs.indices.map(i =>
      Filters.compile(fs(i), frame.schema).as(s"f$i")): _*).collect()
    fs.indices.map(i => got.filter(r => !r.isNullAt(i + 1) && r.getBoolean(i + 1))
      .map(_.getLong(0)).toSet)
  }

  test("Gt(qty, \"3\") matches no row through the distributed hybrid path, " +
       "and a non-numeric string does not throw") {
    def ids(f: Filter): Seq[Long] =
      Hybrid.searchWith(frame, Seq(FilterGroup(Seq(f))), None, None, None,
        None, Hybrid.Config(k = 100)).collect().map(_.getLong(0)).toSeq
    assert(ids(Gt("qty", "3")).isEmpty)
    assert(ids(Eq("qty", "abc")).isEmpty)
    assert(ids(Eq("name", 3)).isEmpty)
    assert(ids(NotIn("qty", Seq("3"))).size == 40)
    // a matching-kind literal still compares
    assert(ids(Gt("qty", 7)).size == viaLocal(Gt("qty", 7)).size)
  }

  test("property: the schema-aware Column equals matchesLocal for literals " +
       "of another kind than their field") {
    val rnd = new scala.util.Random(17)
    val numbers: Seq[Any] = Seq(3, 3L, 2.5, 0.0, 10.toShort)
    val strings: Seq[Any] = Seq("3", "10", "abc", "2.5", "")
    def pick(xs: Seq[Any]): Any = xs(rnd.nextInt(xs.size))
    val fields = Seq("qty", "price", "name", "tags")
    def filter(): Filter = {
      val field = fields(rnd.nextInt(fields.size))
      val own = if (field == "qty" || field == "price") numbers else strings
      val other = (if (own eq numbers) strings else numbers) :+ true
      val v = pick(other)
      val mixed = Seq.fill(1 + rnd.nextInt(3))(if (rnd.nextBoolean()) pick(own) else pick(other))
      if (field == "tags") {
        if (rnd.nextBoolean()) AnyIn(field, mixed) else NoneIn(field, mixed)
      } else rnd.nextInt(11) match {
        case 0  => Eq(field, v)
        case 1  => Ne(field, v)
        case 2  => Gt(field, v)
        case 3  => Gte(field, v)
        case 4  => Lt(field, v)
        case 5  => Lte(field, v)
        case 6  => if (rnd.nextBoolean()) Between(field, v, pick(own))
                   else Between(field, pick(own), v)
        case 7  => In(field, mixed)
        case 8  => NotIn(field, mixed)
        case 9  => Not(In(field, mixed))
        case _  => Not(Between(field, v, pick(own)))
      }
    }
    val fs = Seq.fill(300)(filter())
    fs.grouped(50).foreach { batch =>
      viaColumns(batch).zip(batch).foreach { case (got, f) =>
        assert(got == viaLocal(f), s"Column/local divergence on $f")
      }
    }
  }
}
