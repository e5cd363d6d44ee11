package graft.hybrid

import graft.filter.{Filter, FilterGroup, Filters}
import graft.filter.Filter._
import graft.vector.IdSet
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The embedded serving handle's metadata index: one typed column per
  * field, so a new filter is answered from sorted columns instead of a
  * pass of [[Filters.matchesGroups]] over boxed rows — the in-process
  * counterpart of comet's metadata index, roaring postings keyed
  * `"field:value"` for categories and bit-sliced indexes for number
  * ranges (metadata_index.go:77-88, :351-388).
  *
  * Rows are held in id order; a row's position is its index in [[ids]].
  * Each field gets one representation, chosen from its Spark type:
  *  - integral (`Byte`, `Short`, `Int`, `Long`): the non-null values in
  *    ascending order with their row positions;
  *  - `Float`/`Double`: the same, ordered by `java.lang.Double.compare`,
  *    which is [[Filters.matchesLocal]]'s order (NaN last, -0.0 before
  *    0.0);
  *  - `String`: a dictionary sorted by `String.compareTo` and one
  *    ascending posting list of row positions per dictionary entry;
  *  - any other type (Boolean, lists, decimal, dates): the boxed values,
  *    evaluated row by row with [[Filters.matchesLocal]].
  * A row that holds no value in a sorted column is null there.
  *
  * [[select]] gives exactly the ids `matchesGroups` accepts, which stays
  * the semantic reference: a comparison is two binary searches for the
  * bounds of the matching values, a complement (`NotIn`, `NotExists`,
  * `NoneIn`, `Not(Between)`) is taken against every row, so missing
  * fields qualify, and a literal `cmp` cannot compare with the column's
  * values matches no row. AND-groups intersect and OR-groups unite sorted
  * position arrays. */
private[graft] final class MetaIndex private (
    val ids: Array[Long], columns: Map[String, MetaIndex.Column]) {
  import MetaIndex._

  def size: Int = ids.length

  /** The representation `field` got — "long", "double", "string" or
    * "boxed" — or None when the handle holds no such field. */
  def kind(field: String): Option[String] = columns.get(field).map(_.kind)

  /** True when `id` is the only field. */
  def idOnly: Boolean = columns.keySet == Set("id")

  /** The ids of the rows `groups` accepts. Empty groups and an empty group
    * list accept every row. */
  def select(groups: Seq[FilterGroup]): IdSet = {
    val rows =
      if (groups.isEmpty) all
      else groups.iterator.map(group).reduce(union)
    IdSet.sorted(rows.map(ids))
  }

  private def all: Array[Int] = Array.range(0, size)

  private def group(g: FilterGroup): Array[Int] =
    if (g.filters.isEmpty) all
    else if (g.and) {
      var acc = rowsOf(g.filters.head)
      val it = g.filters.iterator.drop(1)
      while (acc.nonEmpty && it.hasNext) acc = intersect(acc, rowsOf(it.next()))
      acc
    } else g.filters.iterator.map(rowsOf).reduce(union)

  private def rowsOf(f: Filter): Array[Int] = {
    val name = fieldOf(f)
    columns.get(name) match {
      case Some(c: Sorted) => sorted(c, f)
      case Some(c: Boxed)  => scan(f, name, c.values)
      // an absent field reads null on every row, so all rows agree
      case None => if (Filters.matchesLocal(f, _ => null)) all else Empty
    }
  }

  private def sorted(c: Sorted, f: Filter): Array[Int] = {
    val nn = c.count
    // the first slot whose value compares >= v (upper: > v), -1 when cmp
    // cannot compare v with this column's values
    def lo(v: Any): Int = c.bound(v, upper = false)
    def hi(v: Any): Int = c.bound(v, upper = true)
    def slots(ranges: Int*): Array[Int] = gather(c.order, ranges.toArray, size)
    f match {
      case Eq(_, v)  => val a = lo(v); if (a < 0) Empty else slots(a, hi(v))
      case Ne(_, v)  => val a = lo(v); if (a < 0) Empty else slots(0, a, hi(v), nn)
      case Gt(_, v)  => val b = hi(v); if (b < 0) Empty else slots(b, nn)
      case Gte(_, v) => val a = lo(v); if (a < 0) Empty else slots(a, nn)
      case Lt(_, v)  => val a = lo(v); if (a < 0) Empty else slots(0, a)
      case Lte(_, v) => val b = hi(v); if (b < 0) Empty else slots(0, b)
      case Between(_, x, y) =>
        val (a, b) = (lo(x), hi(y))
        if (a < 0 || b < 0) Empty else slots(a, math.max(a, b))
      case In(_, vs) =>
        slots(vs.flatMap { v => val a = lo(v); if (a < 0) Nil else Seq(a, hi(v)) }: _*)
      case Exists(_) => slots(0, nn)
      case AnyIn(_, _) => Empty // a scalar is no list
      // the complements hold every row their positive form rejects,
      // nulls included (matchesLocal's bitmap-complement semantics)
      case NotIn(n, vs)   => complement(sorted(c, In(n, vs)), size)
      case NotExists(n)   => complement(sorted(c, Exists(n)), size)
      case NoneIn(n, vs)  => complement(sorted(c, AnyIn(n, vs)), size)
      case Not(b: Between) => complement(sorted(c, b), size)
      case Not(inner)     => sorted(c, Filter.invert(inner))
    }
  }

  /** Row-by-row [[Filters.matchesLocal]] over a boxed column. */
  private def scan(f: Filter, name: String, values: Array[Any]): Array[Int] = {
    var row = 0
    val get: String => Any = n => if (n == name) values(row) else null
    val b = new scala.collection.mutable.ArrayBuilder.ofInt
    while (row < values.length) {
      if (Filters.matchesLocal(f, get)) b += row
      row += 1
    }
    b.result()
  }
}

private[graft] object MetaIndex {

  private val Empty = new Array[Int](0)

  /** An id-only index: the ids are the one column, held once. Takes
    * `ids` and sorts it in place. */
  def ofIds(ids: Array[Long]): MetaIndex = {
    java.util.Arrays.sort(ids)
    new MetaIndex(ids, Map("id" -> new Longs(ids, Array.range(0, ids.length))))
  }

  /** The index of `rows` under `schema`, which must have a numeric `id`
    * field. A field name the schema repeats keeps its last column. */
  def apply(schema: StructType, rows: Array[Row]): MetaIndex = {
    val idIdx = schema.fieldIndex("id")
    val rawIds = rows.map(_.get(idIdx) match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(s"non-numeric id $other")
    })
    val byId = Array.range(0, rows.length).sortBy(rawIds(_))
    val n = rows.length
    val columns = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val value: Int => Any = p => {
        val r = rows(byId(p))
        if (r.isNullAt(i)) null else r.get(i)
      }
      val present = (0 until n).filter(value(_) != null).toArray
      f.name -> (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val v = Array.tabulate(n)(p => if (value(p) == null) 0L
            else value(p).asInstanceOf[java.lang.Number].longValue())
          val order = present.sortBy(v(_))
          new Longs(order.map(v), order)
        case FloatType | DoubleType =>
          val v = Array.tabulate(n)(p => if (value(p) == null) 0.0
            else value(p).asInstanceOf[java.lang.Number].doubleValue())
          val order = present.sortBy(v(_))(Ordering.Double.TotalOrdering)
          new Doubles(order.map(v), order)
        case _: StringType =>
          val order = present.sortBy(value(_).asInstanceOf[String])
          val words = order.map(value(_).asInstanceOf[String])
          // one dictionary entry per run of equal words
          val firsts = words.indices.filter(i => i == 0 || words(i) != words(i - 1))
          new Strings(firsts.map(words).toArray, (firsts :+ words.length).toArray,
            order)
        case _ => new Boxed(Array.tabulate(n)(value))
      })
    }.toMap
    new MetaIndex(byId.map(rawIds), columns)
  }

  private[hybrid] sealed abstract class Column { def kind: String }

  private final class Boxed(val values: Array[Any]) extends Column {
    def kind = "boxed"
  }

  /** A column whose non-null values are held in ascending order. Slot `s`
    * holds the `s`-th smallest value; `order(s)` is its row position (ties
    * in row order). */
  private sealed abstract class Sorted(val order: Array[Int]) extends Column {
    /** Non-null rows. */
    def count: Int
    /** The first slot whose value `cmp` puts at or above `v` (`upper`:
      * strictly above), `count` when none is; -1 when `cmp` cannot compare
      * `v` with this column's values. */
    def bound(v: Any, upper: Boolean): Int
  }

  private final class Longs(values: Array[Long], order: Array[Int])
      extends Sorted(order) {
    def kind = "long"
    def count: Int = values.length
    def bound(v: Any, upper: Boolean): Int = v match {
      case y: java.lang.Number if Filters.integral(y) =>
        val t = y.longValue()
        search(count, upper, s => java.lang.Long.compare(values(s), t))
      case y: java.lang.Number =>
        // long -> double is monotone, so the order still holds
        val t = y.doubleValue()
        search(count, upper, s => java.lang.Double.compare(values(s).toDouble, t))
      case _ => -1
    }
  }

  private final class Doubles(values: Array[Double], order: Array[Int])
      extends Sorted(order) {
    def kind = "double"
    def count: Int = values.length
    def bound(v: Any, upper: Boolean): Int = v match {
      case y: java.lang.Number =>
        val t = y.doubleValue()
        search(count, upper, s => java.lang.Double.compare(values(s), t))
      case _ => -1
    }
  }

  /** `dict(d)`'s postings are slots `starts(d)` until `starts(d + 1)`. */
  private final class Strings(dict: Array[String], starts: Array[Int],
                              order: Array[Int]) extends Sorted(order) {
    def kind = "string"
    def count: Int = starts(dict.length)
    def bound(v: Any, upper: Boolean): Int = v match {
      case y: String => starts(search(dict.length, upper, d => dict(d).compareTo(y)))
      case _ => -1
    }
  }

  /** The first `s` in `[0, n)` with `c(s) >= 0` (`upper`: `> 0`), or `n`;
    * `c` must be non-decreasing in `s`. */
  private def search(n: Int, upper: Boolean, c: Int => Int): Int = {
    var (lo, hi) = (0, n)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val x = c(mid)
      if (x > 0 || (!upper && x == 0)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** The row positions (ascending, distinct) at the slots of `ranges`,
    * `(from, until)` pairs over `order`, among `n` rows: each is set in a
    * bitmap of the rows, which is read back in order. */
  private def gather(order: Array[Int], ranges: Array[Int], n: Int): Array[Int] = {
    val bits = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < ranges.length) {
      var s = ranges(i)
      while (s < ranges(i + 1)) { val p = order(s); bits(p >>> 6) |= 1L << p; s += 1 }
      i += 2
    }
    var count = 0
    bits.foreach(w => count += java.lang.Long.bitCount(w))
    val out = new Array[Int](count)
    var k = 0
    var w = 0
    while (w < bits.length) {
      var x = bits(w)
      while (x != 0) {
        out(k) = (w << 6) + java.lang.Long.numberOfTrailingZeros(x)
        k += 1
        x &= x - 1
      }
      w += 1
    }
    out
  }

  /** Positions in `[0, n)` missing from `a` (ascending, distinct). */
  private def complement(a: Array[Int], n: Int): Array[Int] = {
    val out = new Array[Int](n - a.length)
    var (i, j, k) = (0, 0, 0)
    while (i < n) {
      if (j < a.length && a(j) == i) j += 1 else { out(k) = i; k += 1 }
      i += 1
    }
    out
  }

  private def intersect(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](math.min(a.length, b.length))
    var (i, j, k) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { out(k) = a(i); k += 1; i += 1; j += 1 }
    }
    java.util.Arrays.copyOf(out, k)
  }

  private def union(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var (i, j, k) = (0, 0, 0)
    while (i < a.length || j < b.length) {
      if (j == b.length || (i < a.length && a(i) < b(j))) { out(k) = a(i); i += 1 }
      else if (i == a.length || b(j) < a(i)) { out(k) = b(j); j += 1 }
      else { out(k) = a(i); i += 1; j += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** The field a filter reads. */
  private def fieldOf(f: Filter): String = f match {
    case Eq(c, _)         => c
    case Ne(c, _)         => c
    case Gt(c, _)         => c
    case Gte(c, _)        => c
    case Lt(c, _)         => c
    case Lte(c, _)        => c
    case Between(c, _, _) => c
    case In(c, _)         => c
    case NotIn(c, _)      => c
    case Exists(c)        => c
    case NotExists(c)     => c
    case AnyIn(c, _)      => c
    case NoneIn(c, _)     => c
    case Not(inner)       => fieldOf(inner)
  }
}
