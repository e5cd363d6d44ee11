package graft.hybrid

import graft.filter.{Filter, FilterGroup, Filters}
import graft.filter.Filter._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The embedded handle's metadata index answers every filter with the ids
  * [[Filters.matchesGroups]] accepts over the same rows, id for id: random
  * DNF filter lists over integral, floating, string, Boolean and list
  * columns with nulls, with literals of the column's own kind and of every
  * other kind. No Spark session: the handle is built from in-memory rows. */
class FilterIndexSpec extends AnyFunSuite {

  private val longs: Seq[Any] = Seq(Long.MinValue, -5L, -1L, 0L, 1L, 2L, 3L, 7L,
    100L, 1L << 53, (1L << 53) + 1, Long.MaxValue - 1, Long.MaxValue)
  private val ints: Seq[Any] = Seq(Int.MinValue, -1, 0, 1, 2, 3, Int.MaxValue)
  private val doubles: Seq[Any] = Seq(Double.NaN, -0.0, 0.0, -1.5, 1.0, 2.0, 3.0,
    9.007199254740992e15, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, Double.MinPositiveValue)
  private val floats: Seq[Any] = Seq(Float.NaN, -0.0f, 0.0f, 1.0f, 2.5f, 3.0f)
  // non-BMP strings sort by UTF-16 code unit, below "\uFFFF"
  private val strings: Seq[Any] = Seq("", "a", "ab", "b", "3", "10",
    "\uD83D\uDE00", "\uD83D\uDE00x", "\uFFFF", "z\u00E9")
  /** Literals of other kinds than any column: mismatches for every field. */
  private val others: Seq[Any] = Seq(null, true, false, "abc", "2",
    java.lang.Short.valueOf(2.toShort), java.lang.Byte.valueOf(3.toByte),
    java.math.BigDecimal.valueOf(2), BigDecimal(1.5), 2.0f, 3L, 2, -0.0,
    Double.NaN)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("tags", ArrayType(StringType))))

  /** Field name -> (the values its rows draw from, the literals its
    * filters draw from besides `others`). */
  private val pools: Map[String, Seq[Any]] = Map(
    "l" -> longs, "i" -> ints, "d" -> doubles, "f" -> floats, "s" -> strings,
    "b" -> Seq(true, false), "tags" -> strings, "id" -> longs.take(6),
    "nope" -> longs.take(3))

  private def rows(rnd: scala.util.Random, n: Int): Array[Row] = {
    def pick(xs: Seq[Any]): Any = xs(rnd.nextInt(xs.size))
    def orNull(x: => Any): Any = if (rnd.nextInt(5) == 0) null else x
    // ids in random order, a few repeated with other metadata
    val ids = rnd.shuffle((0 until n).map(_.toLong)).map(id =>
      if (rnd.nextInt(20) == 0) (id + 1) % n else id)
    ids.map { id =>
      Row(id, orNull(pick(longs)), orNull(pick(ints)), orNull(pick(doubles)),
        orNull(pick(floats)), orNull(pick(strings)), orNull(pick(Seq(true, false))),
        orNull(Seq.fill(rnd.nextInt(3))(pick(strings))))
    }.toArray
  }

  private def filter(rnd: scala.util.Random, fields: Seq[String]): Filter = {
    val field = fields(rnd.nextInt(fields.size))
    def literal(): Any = {
      val xs = if (rnd.nextInt(10) < 7) pools(field) else others
      xs(rnd.nextInt(xs.size))
    }
    def literals(): Seq[Any] = Seq.fill(rnd.nextInt(4))(literal())
    rnd.nextInt(15) match {
      case 0  => Eq(field, literal())
      case 1  => Ne(field, literal())
      case 2  => Gt(field, literal())
      case 3  => Gte(field, literal())
      case 4  => Lt(field, literal())
      case 5  => Lte(field, literal())
      case 6  => Between(field, literal(), literal())
      case 7  => In(field, literals())
      case 8  => NotIn(field, literals())
      case 9  => Exists(field)
      case 10 => NotExists(field)
      case 11 => AnyIn(field, literals())
      case 12 => NoneIn(field, literals())
      case _  => Not(filter(rnd, Seq(field)))
    }
  }

  private def groups(rnd: scala.util.Random, fields: Seq[String]): Seq[FilterGroup] =
    Seq.fill(1 + rnd.nextInt(3))(FilterGroup(
      Seq.fill(rnd.nextInt(4))(filter(rnd, fields)), and = rnd.nextBoolean()))

  /** The ids `matchesGroups` accepts, ascending. */
  private def reference(gs: Seq[FilterGroup], rs: Array[Row],
                        sch: StructType): Seq[Long] = {
    val idx = sch.fieldNames.zipWithIndex.toMap
    rs.filter(r => Filters.matchesGroups(gs, name => idx.get(name)
        .map(i => if (r.isNullAt(i)) null else r.get(i)).orNull))
      .map(_.getLong(0)).distinct.sorted.toSeq
  }

  private def answer(h: Hybrid.LocalHybrid, gs: Seq[FilterGroup]): Seq[Long] =
    h.search(gs, None, None).map(_._1)

  test("the index answers 600 random DNF filter lists as matchesGroups " +
       "does, and each field gets its representation") {
    val rnd = new scala.util.Random(11)
    val rs = rows(rnd, 400)
    val h = new Hybrid.LocalHybrid(MetaIndex(schema, rs), None, None,
      Hybrid.Config(k = rs.length))
    assert(Seq("id", "l", "i", "d", "f", "s", "b", "tags", "nope")
      .map(h.metaKind) == Seq(Some("long"), Some("long"), Some("long"),
        Some("double"), Some("double"), Some("string"), Some("boxed"),
        Some("boxed"), None))
    assert(!h.packedMeta)
    val fields = pools.keys.toSeq.sorted
    var nonEmpty = 0
    (1 to 600).foreach { t =>
      val gs = groups(rnd, fields)
      val want = reference(gs, rs, schema)
      if (want.nonEmpty && want.size < rs.length) nonEmpty += 1
      assert(answer(h, gs) == want, s"list $t: $gs")
    }
    // the draw is not degenerate: most lists select a proper subset
    assert(nonEmpty > 200, s"only $nonEmpty lists selected a proper subset")
  }

  test("single filters on every field and every literal kind, one by one") {
    val rnd = new scala.util.Random(5)
    val rs = rows(rnd, 300)
    val h = new Hybrid.LocalHybrid(MetaIndex(schema, rs), None, None,
      Hybrid.Config(k = rs.length))
    for {
      field <- pools.keys.toSeq.sorted
      v <- pools(field) ++ others
      f <- Seq(Eq(field, v), Ne(field, v), Gt(field, v), Gte(field, v),
        Lt(field, v), Lte(field, v), Between(field, v, 3L),
        Between(field, -1, v), In(field, Seq(v, v)), NotIn(field, Seq(v)),
        Not(Between(field, v, v)))
    } {
      val gs = Seq(FilterGroup(Seq(f)))
      assert(answer(h, gs) == reference(gs, rs, schema), s"$f")
    }
  }

  test("the memo tells apart literals that Scala's == equates but cmp does not") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("l", LongType), StructField("d", DoubleType)))
    val rs = Array(Row(1L, Long.MaxValue - 1, -0.0), Row(2L, Long.MaxValue, 0.0))
    val h = new Hybrid.LocalHybrid(MetaIndex(sch, rs), None, None,
      Hybrid.Config(k = 10))
    def ids(f: Filter): Seq[Long] = answer(h, Seq(FilterGroup(Seq(f))))
    // each pair is == in Scala and hashes alike, so it shares a bucket
    assert(ids(Eq("d", -0.0)) == Seq(1L))
    assert(ids(Eq("d", 0.0)) == Seq(2L))
    assert(ids(Eq("l", Long.MaxValue)) == Seq(2L))
    assert(ids(Eq("l", Long.MaxValue.toDouble)) == Seq(1L, 2L))
    assert(ids(Eq("l", Long.MaxValue)) == Seq(2L))
  }

  test("an id-only handle holds its ids as one column and answers id filters") {
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 500L).map(_ * 3 - 700)).toArray
    val h = new Hybrid.LocalHybrid(MetaIndex.ofIds(ids), None, None,
      Hybrid.Config(k = ids.length))
    assert(h.packedMeta && h.metaKind("id").contains("long"))
    val sch = StructType(Seq(StructField("id", LongType)))
    val rs = ids.map(Row(_))
    (1 to 200).foreach { _ =>
      val gs = groups(rnd, Seq("id", "nope"))
      assert(answer(h, gs) == reference(gs, rs, sch), s"$gs")
    }
  }
}
