package graft.filter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, NumericType, StringType, StructType}

/** Metadata filter algebra.
  *
  * Reference semantics: comet's bitmap/BSI filter engine
  * (`/root/reference/metadata_index.go:258-393`, operators enumerated at
  * `metadata_index.go:414-435`) and its DNF group evaluator
  * (`metadata_index_search.go:193-250`).
  *
  * Spark-first design: a filter is DATA (a small ADT), compiled to one
  * Catalyst `Column` predicate. Catalyst then gives us everything comet
  * hand-implements with roaring bitmaps for free at scale: predicate
  * pushdown into the parquet scan, constant folding, empty-relation
  * propagation (comet's early-exit on empty intersection,
  * `metadata_index_search.go:179-181`), and NOT-inversion
  * (`metadata_index.go:518-543`).
  *
  * Numeric fixed-point: comet stores float metadata ×100 as int64 (2-decimal
  * fixed point, `metadata_index.go:142-143`). [[Filters.compileFixedPoint]]
  * reproduces that quantization for bit-parity; [[Filters.compile]] uses
  * exact numeric comparison (the sane default for a SQL engine).
  */
sealed trait Filter
object Filter {
  final case class Eq(field: String, value: Any) extends Filter
  final case class Ne(field: String, value: Any) extends Filter
  final case class Gt(field: String, value: Any) extends Filter
  final case class Gte(field: String, value: Any) extends Filter
  final case class Lt(field: String, value: Any) extends Filter
  final case class Lte(field: String, value: Any) extends Filter
  /** Inclusive on both ends (comet BSI RANGE, metadata_index.go:379-388). */
  final case class Between(field: String, lo: Any, hi: Any) extends Filter
  final case class In(field: String, values: Seq[Any]) extends Filter
  final case class NotIn(field: String, values: Seq[Any]) extends Filter
  final case class Exists(field: String) extends Filter
  final case class NotExists(field: String) extends Filter
  final case class Not(inner: Filter) extends Filter
  /** IN over a LIST-VALUED field (comet's `[]string` tag lists,
    * node.go:130,150 — every list element is posted to the metadata index,
    * metadata_index.go:279-296, so a query-side IN matches a doc when ANY
    * of its tags is in the query set). */
  final case class AnyIn(field: String, values: Seq[Any]) extends Filter
  /** Complement of [[AnyIn]]: no element of the doc's list is in the query
    * set. Like [[NotIn]], docs where the field is missing DO qualify (the
    * bitmap complement includes docs that posted nothing). */
  final case class NoneIn(field: String, values: Seq[Any]) extends Filter

  /** Operator inversion table (metadata_index.go:518-543). */
  def invert(f: Filter): Filter = f match {
    case Eq(c, v)         => Ne(c, v)
    case Ne(c, v)         => Eq(c, v)
    case Gt(c, v)         => Lte(c, v)
    case Gte(c, v)        => Lt(c, v)
    case Lt(c, v)         => Gte(c, v)
    case Lte(c, v)        => Gt(c, v)
    case Between(c, a, b) => Not(Between(c, a, b))
    case In(c, vs)        => NotIn(c, vs)
    case NotIn(c, vs)     => In(c, vs)
    case Exists(c)        => NotExists(c)
    case NotExists(c)     => Exists(c)
    case AnyIn(c, vs)     => NoneIn(c, vs)
    case NoneIn(c, vs)    => AnyIn(c, vs)
    case Not(inner)       => inner
  }
}

/** A group of filters combined with AND or OR
  * (`metadata_index_search.go:61-73`). */
final case class FilterGroup(filters: Seq[Filter], and: Boolean = true)

object Filters {
  import Filter._

  private def lv(value: Any): Column = lit(value)

  /** Compile one filter to a Column predicate. */
  def compile(f: Filter): Column = compile(f, NoSchema)

  /** Compile one filter against the frame's `schema`: a comparison whose
    * literal [[matchesLocal]] cannot compare with the field's values (a
    * string against a numeric field, a number against a string field)
    * compiles to the constant the local evaluator gives, with no cast —
    * comet keeps strings and numbers in different indexes
    * (metadata_index.go:135-164), so such a filter matches nothing and its
    * complement everything. Fields the schema does not type as number,
    * string or Boolean compile as [[compile]] does. */
  def compile(f: Filter, schema: StructType): Column = {
    // a non-null literal of another kind than the field's values
    def off(c: String, v: Any): Boolean = v != null && {
      val t = schema.fields.reverseIterator.find(_.name == c).map(_.dataType)
      t.map(kindOf).exists(k => k >= 0 && k != kindOf(v))
    }
    def offList(c: String, v: Any): Boolean = v != null && {
      val t = schema.fields.reverseIterator.find(_.name == c).map(_.dataType)
      t.collect { case ArrayType(e, _) => kindOf(e) }
        .exists(k => k >= 0 && k != kindOf(v))
    }
    f match {
      case Eq(c, v) if off(c, v)  => lit(false)
      case Ne(c, v) if off(c, v)  => lit(false)
      case Gt(c, v) if off(c, v)  => lit(false)
      case Gte(c, v) if off(c, v) => lit(false)
      case Lt(c, v) if off(c, v)  => lit(false)
      case Lte(c, v) if off(c, v) => lit(false)
      case Between(c, a, b) if off(c, a) || off(c, b) => lit(false)
      // an incomparable value matches no row: drop it from the list
      case In(c, vs) if vs.exists(off(c, _)) =>
        val keep = vs.filterNot(off(c, _))
        if (keep.isEmpty) lit(false) else compile(In(c, keep), schema)
      case NotIn(c, vs) if vs.exists(off(c, _)) =>
        val keep = vs.filterNot(off(c, _))
        if (keep.isEmpty) lit(true) else compile(NotIn(c, keep), schema)
      case AnyIn(c, vs) if vs.exists(offList(c, _)) =>
        val keep = vs.filterNot(offList(c, _))
        if (keep.isEmpty) lit(false) else compile(AnyIn(c, keep), schema)
      case NoneIn(c, vs) if vs.exists(offList(c, _)) =>
        val keep = vs.filterNot(offList(c, _))
        if (keep.isEmpty) lit(true) else compile(NoneIn(c, keep), schema)
      case Eq(c, v)         => col(c) === lv(v)
      case Ne(c, v)         => col(c) =!= lv(v)
      case Gt(c, v)         => col(c) > lv(v)
      case Gte(c, v)        => col(c) >= lv(v)
      case Lt(c, v)         => col(c) < lv(v)
      case Lte(c, v)        => col(c) <= lv(v)
      case Between(c, a, b) => col(c).between(lv(a), lv(b))
      case In(c, vs)        => col(c).isin(vs: _*)
      // comet's NotIn = allDocs ANDNOT union(values) — docs where the field is
      // missing DO qualify (metadata_index.go:311-323). SQL NOT IN is
      // null-rejecting, so add the isNull branch explicitly, and drop null
      // values: a null in the list would make `isin` null on every row it
      // does not match, and a null value's bitmap holds no doc.
      case NotIn(c, vs)     =>
        col(c).isNull || !col(c).isin(vs.filter(_ != null): _*)
      case Exists(c)        => col(c).isNotNull
      case NotExists(c)     => col(c).isNull
      case AnyIn(c, vs)     => arrays_overlap(col(c), array(vs.map(lv): _*))
      // complement semantics mirror NotIn: a missing list qualifies, and
      // arrays_overlap is null-valued on a null array, so spell both branches
      case NoneIn(c, vs)    =>
        col(c).isNull || !arrays_overlap(col(c), array(vs.map(lv): _*))
      // NOT via comet's inversion table rather than Catalyst NOT — identical
      // result, but keeps null semantics aligned with the bitmap complement
      // (complement of a bitmap includes docs lacking the field)
      case Not(b: Between)  => col(b.field).isNull || !compile(b, schema)
      case Not(inner)       => compile(Filter.invert(inner), schema)
    }
  }

  private val NoSchema = new StructType()

  /** The kind [[cmp]] compares within: 0 numbers, 1 strings, 2 Booleans,
    * -1 anything else (a Spark type or a literal). */
  private def kindOf(x: Any): Int = x match {
    case _: NumericType | _: java.lang.Number   => 0
    case _: StringType | _: String              => 1
    case BooleanType | _: java.lang.Boolean     => 2
    case _                                      => -1
  }

  /** Numeric comparisons under comet's ×100 fixed-point quantization
    * (metadata_index.go:142-143, :396-408 — `int64(f * 100)`, i.e.
    * truncation toward zero). Only meaningful for floating-point fields. */
  def fixedPoint(c: Column): Column =
    (c.cast("double") * 100.0).cast("long")

  def compileFixedPoint(f: Filter): Column = f match {
    case Eq(c, v)         => fixedPoint(col(c)) === fixedPoint(lv(v))
    case Ne(c, v)         => fixedPoint(col(c)) =!= fixedPoint(lv(v))
    case Gt(c, v)         => fixedPoint(col(c)) > fixedPoint(lv(v))
    case Gte(c, v)        => fixedPoint(col(c)) >= fixedPoint(lv(v))
    case Lt(c, v)         => fixedPoint(col(c)) < fixedPoint(lv(v))
    case Lte(c, v)        => fixedPoint(col(c)) <= fixedPoint(lv(v))
    case Between(c, a, b) =>
      fixedPoint(col(c)).between(fixedPoint(lv(a)), fixedPoint(lv(b)))
    case other            => compile(other)
  }

  /** AND-fold a filter list (comet `WithFilters`,
    * metadata_index_search.go:162-189); empty list = match-all
    * (metadata_index_search.go:143-146). */
  def compileAll(fs: Seq[Filter]): Column =
    fs.map(compile).reduceOption(_ && _).getOrElse(lit(true))

  /** OR-of-groups DNF (comet filter groups,
    * metadata_index_search.go:193-250); within a group AND/OR by flag;
    * empty group = match-all. */
  def compileGroups(groups: Seq[FilterGroup]): Column =
    compileGroups(groups, NoSchema)

  /** [[compileGroups]] against the frame's `schema`, each filter compiled
    * by the schema-aware [[compile]]. */
  def compileGroups(groups: Seq[FilterGroup], schema: StructType): Column =
    groups.map { g =>
      val cols = g.filters.map(compile(_, schema))
      if (cols.isEmpty) lit(true)
      else if (g.and) cols.reduce(_ && _)
      else cols.reduce(_ || _)
    }.reduceOption(_ || _).getOrElse(lit(true))

  // --------------------------------------------- local (embedded) evaluator

  /** [[cmp]]'s "no comparison" result. No comparator it calls returns it:
    * number and Boolean compares return -1/0/1, and `String.compareTo`
    * returns a char or length difference. */
  private final val NoCmp = Int.MinValue

  private[graft] def integral(v: Any): Boolean = v.isInstanceOf[java.lang.Long] ||
    v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Short] ||
    v.isInstanceOf[java.lang.Byte]

  /** Three-way compare with SQL null semantics: [[NoCmp]] when either side
    * is null or the types are incomparable. Integral pairs compare as long,
    * any other numeric pair as double — matching Catalyst's promotion for
    * the types a metadata row can carry. Allocation-free: it runs once per
    * row and filter on a memo miss. */
  private def cmp(a: Any, b: Any): Int = a match {
    case null => NoCmp
    case x: java.lang.Number => b match {
      case y: java.lang.Number =>
        if (integral(x) && integral(y))
          java.lang.Long.compare(x.longValue(), y.longValue())
        else java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case _ => NoCmp
    }
    case x: String => b match {
      case y: String => x.compareTo(y)
      case _         => NoCmp
    }
    case x: java.lang.Boolean => b match {
      case y: java.lang.Boolean => x.compareTo(y)
      case _                    => NoCmp
    }
    case _ => NoCmp
  }

  // NoCmp is below every real result, so only the tests that accept a
  // negative result must exclude it
  private def isEq(c: Int): Boolean = c == 0
  private def isNe(c: Int): Boolean = c != 0 && c != NoCmp
  private def isLt(c: Int): Boolean = c < 0 && c != NoCmp
  private def isLe(c: Int): Boolean = c <= 0 && c != NoCmp

  private def anyEq(x: Any, vs: Seq[Any]): Boolean = {
    val it = vs.iterator
    while (it.hasNext) if (isEq(cmp(x, it.next()))) return true
    false
  }

  /** Evaluate ONE filter against a local row — the embedded-serving twin of
    * [[compile]], with identical null handling (comparisons are false on a
    * missing field; the complements NotIn/NoneIn/NotExists/Not(Between)
    * are true on it, the bitmap-complement semantics). `get` returns the
    * field value or null. Spec-pinned equal to the compiled Column in
    * FiltersSpec. */
  def matchesLocal(f: Filter, get: String => Any): Boolean = f match {
    case Eq(c, v)         => isEq(cmp(get(c), v))
    case Ne(c, v)         => isNe(cmp(get(c), v))
    case Gt(c, v)         => cmp(get(c), v) > 0
    case Gte(c, v)        => cmp(get(c), v) >= 0
    case Lt(c, v)         => isLt(cmp(get(c), v))
    case Lte(c, v)        => isLe(cmp(get(c), v))
    case Between(c, a, b) =>
      val x = get(c)
      cmp(x, a) >= 0 && isLe(cmp(x, b))
    case In(c, vs)        => anyEq(get(c), vs)
    case NotIn(c, vs)     =>
      val x = get(c)
      x == null || !anyEq(x, vs)
    case Exists(c)        => get(c) != null
    case NotExists(c)     => get(c) == null
    case AnyIn(c, vs)     => get(c) match {
      case s: scala.collection.Seq[_] => s.exists(anyEq(_, vs))
      case _ => false
    }
    case NoneIn(c, vs)    => get(c) match {
      case s: scala.collection.Seq[_] => !s.exists(anyEq(_, vs))
      case _ => true // missing list qualifies, like NotIn
    }
    case Not(inner)       => inner match {
      // mirror compileNot: the bitmap complement of Between includes docs
      // lacking the field — matchesLocal(Between) is already false there,
      // so plain negation reproduces isNull || !between
      case b: Between => !matchesLocal(b, get)
      case other      => matchesLocal(Filter.invert(other), get)
    }
  }

  /** DNF-group evaluation against a local row — the embedded twin of
    * [[compileGroups]]. Empty groups / group lists match all. */
  def matchesGroups(groups: Seq[FilterGroup], get: String => Any): Boolean =
    groups.isEmpty || groups.exists { g =>
      g.filters.isEmpty ||
        (if (g.and) g.filters.forall(matchesLocal(_, get))
         else g.filters.exists(matchesLocal(_, get)))
    }
}

/** Fluent DNF builder — the reference's Where/And/Or chain
  * (metadata_index_search.go:287-345) as an immutable Scala builder:
  *
  * {{{
  *   FilterBuilder.where(Eq("brand", "B1")).and(Lt("size", 10))
  *     .orWhere(Eq("type", "PROMO")).and(Gt("price", 995.0))
  *     .groups()   // Seq[FilterGroup] — or .compile() for the Column
  * }}}
  *
  * `where`/`orWhere` open AND-groups; `anyOf` opens an OR-logic group
  * (comet's Logic flag, metadata_index_search.go:61-73). */
final class FilterBuilder private (done: Vector[FilterGroup],
                                   cur: Vector[Filter], curAnd: Boolean) {
  /** Add a conjunct (disjunct for an `anyOf` group) to the open group. */
  def and(f: Filter): FilterBuilder =
    new FilterBuilder(done, cur :+ f, curAnd)

  /** Close the open group and open a new AND-group (DNF alternative). */
  def orWhere(f: Filter): FilterBuilder =
    new FilterBuilder(done :+ FilterGroup(cur, curAnd), Vector(f), true)

  /** Close the open group and open an OR-logic group. */
  def orAnyOf(fs: Filter*): FilterBuilder =
    new FilterBuilder(done :+ FilterGroup(cur, curAnd), fs.toVector, false)

  def groups(): Seq[FilterGroup] = done :+ FilterGroup(cur, curAnd)

  def compile(): Column = Filters.compileGroups(groups())
}

object FilterBuilder {
  def where(f: Filter): FilterBuilder =
    new FilterBuilder(Vector.empty, Vector(f), true)
  def anyOf(fs: Filter*): FilterBuilder =
    new FilterBuilder(Vector.empty, fs.toVector, false)
}
