package graft.predicates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a PNode tree to a Catalyst Column with the reference evaluator's
  * exact two-valued semantics (PredicateEvaluator.java:45-221):
  *
  *  - a NULL field matches only `EQ` with a Null comparand
  *    (PredicateEvaluator.java:82-84); everything else is false — Spark's
  *    three-valued logic is collapsed at every leaf via when/otherwise so
  *    AND/OR never see SQL NULL.
  *  - the first comparand's type picks the comparison lane: IntVal compares
  *    as i64 (field truncated via longValue, :148-166), FloatVal as f64
  *    (:167-186); mixed-type IN members of other lanes never match.
  *  - a lane applies only to fields of its type — numeric for IntVal and
  *    FloatVal, string for TextVal, boolean for BoolVal — decided from the
  *    field's `DataType`; any other pairing is false (the evaluator's type
  *    mismatch), never a cast that throws or coerces.
  *  - MATCHES is a full match (Pattern.matches, :207) — compiled to an
  *    anchored rlike `^(?:re)$` since rlike is find()-style.
  *  - empty comparand list → false (:133).
  */
object PNodeCompiler {

  /** @param schema  the schema of the frame the Column filters, which
    *   decides each leaf's lane
    * @param resolve maps positional field indices to column names for
    *   indexed-mode predicates (the reference resolves them through
    *   MetadataLayout; `F<idx>` is its fallback naming).
    */
  def compile(node: PNode, schema: StructType,
      resolve: Int => String = i => s"F$i"): Column = node match {
    case ConjugateNode(isAnd, children) =>
      val cs = children.map(compile(_, schema, resolve))
      if (cs.isEmpty) lit(isAnd) // AND() == true, OR() == false
      else if (isAnd) cs.reduce(_ && _)
      else cs.reduce(_ || _)
    case p: PredicateNode =>
      val name = p.fieldName.getOrElse(resolve(p.field))
      leaf(col(name), schema(name).dataType, p)
  }

  /** `df` filtered by [[compile]] over its own schema. */
  def filter(df: DataFrame, node: PNode, resolve: Int => String = i => s"F$i"): DataFrame =
    df.filter(compile(node, df.schema, resolve))

  private def leaf(c: Column, dataType: DataType, p: PredicateNode): Column = {
    import Comparand._
    val hasNullComparand = p.comparands.contains(NullVal)
    val nullCase = lit(p.op == OpType.EQ && hasNullComparand)
    if (p.comparands.isEmpty) return lit(false)

    val body: Column = (dataType, p.comparands.head) match {
      case (_: NumericType, IntVal(_)) =>
        val vs = p.comparands.collect { case IntVal(v) => v }
        numericOps(c.cast("long"), p.op, vs.map(lit(_): Column))
      case (_: NumericType, FloatVal(_)) =>
        val vs = p.comparands.collect { case FloatVal(v) => v }
        numericOps(c.cast("double"), p.op, vs.map(lit(_): Column))
      case (_: StringType, TextVal(_)) =>
        val vs = p.comparands.collect { case TextVal(v) => v }
        p.op match {
          case OpType.GT => c > vs.head
          case OpType.LT => c < vs.head
          case OpType.GE => c >= vs.head
          case OpType.LE => c <= vs.head
          case OpType.EQ => c === vs.head
          case OpType.NE => c =!= vs.head
          case OpType.IN => c.isin(vs: _*)
          case OpType.MATCHES => c.rlike("^(?:" + vs.head + ")$")
        }
      case (BooleanType, BoolVal(v)) =>
        p.op match {
          case OpType.EQ => c === v
          case OpType.NE => c =!= v
          case _         => lit(false) // bool supports only EQ/NE (:215-221)
        }
      // a field/lane type mismatch, a NULL comparand on a present value
      // (:82-84 only handles the null-field side) or a bytes comparand (the
      // evaluator has no bytes comparisons, :131-221)
      case _ => lit(false)
    }
    when(c.isNull, nullCase).otherwise(coalesce(body, lit(false)))
  }

  private def numericOps(f: Column, op: OpType, vs: Seq[Column]): Column = op match {
    case OpType.GT => f > vs.head
    case OpType.LT => f < vs.head
    case OpType.EQ => f === vs.head
    case OpType.NE => f =!= vs.head
    case OpType.GE => f >= vs.head
    case OpType.LE => f <= vs.head
    case OpType.IN => if (vs.isEmpty) lit(false) else f.isin(vs: _*)
    case OpType.MATCHES => lit(false) // MATCHES is text-only (:207)
  }
}

/** Driver-side row evaluator with identical semantics — the analogue of
  * PredicateEvaluator.matches for Map-shaped records; used for point lookups
  * and as the differential-test oracle for the Column compiler.
  */
object PNodeEvaluator {

  /** Row-direct evaluation (no per-row Map construction — the hot path for
    * per-query predicate joins): field lookup via the Row's own schema.
    */
  def matchesRow(node: PNode, row: org.apache.spark.sql.Row,
      resolve: Int => String = i => s"F$i"): Boolean =
    node match {
      case ConjugateNode(true, cs)  => cs.forall(matchesRow(_, row, resolve))
      case ConjugateNode(false, cs) => cs.exists(matchesRow(_, row, resolve))
      case p: PredicateNode =>
        val name = p.fieldName.getOrElse(resolve(p.field))
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) p.op == OpType.EQ && p.comparands.contains(Comparand.NullVal)
        else leaf(row.get(i), p)
    }

  /** `node` bound to `schema`: [[matchesRow]]'s answer over an InternalRow
    * of that schema. Each field name resolves to its ordinal once, each
    * leaf's lane is chosen once from the field's type and its comparands
    * are unpacked once, so a row costs no name lookup, Row conversion or
    * boxing. A field `schema` lacks fails here, as [[matchesRow]]'s
    * lookup does per row.
    */
  def bind(node: PNode, schema: StructType, resolve: Int => String = i => s"F$i"): BoundPNode =
    node match {
      case ConjugateNode(isAnd, cs) =>
        new BoundConjugate(isAnd, cs.map(bind(_, schema, resolve)).toArray)
      case p: PredicateNode =>
        import Comparand._
        val i = schema.fieldIndex(p.fieldName.getOrElse(resolve(p.field)))
        val nullMatches = p.op == OpType.EQ && p.comparands.contains(NullVal)
        (schema(i).dataType, p.comparands.headOption) match {
          case (t: NumericType, Some(IntVal(_))) =>
            new LongLeaf(i, nullMatches, t, p.op, p.comparands.collect { case IntVal(x) => x }.toArray)
          case (t: NumericType, Some(FloatVal(_))) =>
            new DoubleLeaf(i, nullMatches, t, p.op,
              p.comparands.collect { case FloatVal(x) => x }.toArray)
          case (_: StringType | _: CharType | _: VarcharType, Some(TextVal(_))) =>
            new TextLeaf(i, nullMatches, p.op, p.comparands.collect { case TextVal(x) => x }.toArray)
          case (BooleanType, Some(BoolVal(v))) => new BoolLeaf(i, nullMatches, p.op, v)
          // a type mismatch, a NULL or bytes comparand, or no comparand
          case _ => new NeverLeaf(i, nullMatches)
        }
    }

  def matches(node: PNode, record: Map[String, Any], resolve: Int => String = i => s"F$i"): Boolean =
    node match {
      case ConjugateNode(true, cs)  => cs.forall(matches(_, record, resolve))
      case ConjugateNode(false, cs) => cs.exists(matches(_, record, resolve))
      case p: PredicateNode =>
        val name = p.fieldName.getOrElse(resolve(p.field))
        record.getOrElse(name, null) match {
          case null => p.op == OpType.EQ && p.comparands.contains(Comparand.NullVal)
          case v    => leaf(v, p)
        }
    }

  private def leaf(v: Any, p: PredicateNode): Boolean = {
    import Comparand._
    if (p.comparands.isEmpty) return false
    (v, p.comparands.head) match {
      case (n: Number, IntVal(_)) =>
        val fv = n.longValue()
        val vs = p.comparands.collect { case IntVal(x) => x }
        cmp(p.op, fv.compareTo(vs.head), vs.contains(fv))
      case (n: Number, FloatVal(_)) =>
        val fv = n.doubleValue()
        val vs = p.comparands.collect { case FloatVal(x) => x }
        cmp(p.op, fv.compareTo(vs.head), vs.contains(fv))
      case (s: String, TextVal(first)) =>
        val vs = p.comparands.collect { case TextVal(x) => x }
        p.op match {
          case OpType.MATCHES => java.util.regex.Pattern.matches(first, s)
          case OpType.IN      => vs.contains(s)
          case op             => cmp(op, s.compareTo(first), vs.contains(s))
        }
      case (b: Boolean, BoolVal(cv)) =>
        p.op match {
          case OpType.EQ => b == cv
          case OpType.NE => b != cv
          case _         => false
        }
      case _ => false // type mismatch between field and comparand lane
    }
  }

  private def cmp(op: OpType, c: Int, in: => Boolean): Boolean =
    if (op == OpType.IN) in else BoundLeaf.holds(op, c)
}

/** A PNode tree bound to one schema by [[PNodeEvaluator.bind]]. */
sealed trait BoundPNode {
  def matches(row: InternalRow): Boolean
}

/** AND (every child, left to right) or OR (any child) of bound trees. */
private final class BoundConjugate(isAnd: Boolean, children: Array[BoundPNode])
    extends BoundPNode {
  def matches(row: InternalRow): Boolean = {
    var i = 0
    while (i < children.length) {
      if (children(i).matches(row) != isAnd) return !isAnd
      i += 1
    }
    isAnd
  }
}

/** One comparison of field `ordinal`, [[PNodeEvaluator]]'s leaf: a null
  * field matches only EQ with a Null comparand (`nullMatches`), a present
  * one goes to the lane chosen from the field's type.
  */
private abstract class BoundLeaf(ordinal: Int, nullMatches: Boolean) extends BoundPNode {
  final def matches(row: InternalRow): Boolean =
    if (row.isNullAt(ordinal)) nullMatches else present(row)
  protected def present(row: InternalRow): Boolean
}

private object BoundLeaf {
  /** Whether an ordering op holds for a comparison's sign; MATCHES never. */
  def holds(op: OpType, c: Int): Boolean = op match {
    case OpType.GT => c > 0
    case OpType.LT => c < 0
    case OpType.EQ => c == 0
    case OpType.NE => c != 0
    case OpType.GE => c >= 0
    case OpType.LE => c <= 0
    case _         => false
  }

  /** 0-6 for byte, short, int, long, float, double and decimal fields. */
  def numberKind(t: DataType): Int = t match {
    case ByteType       => 0
    case ShortType      => 1
    case IntegerType    => 2
    case LongType       => 3
    case FloatType      => 4
    case DoubleType     => 5
    case _: DecimalType => 6
    case other => throw new IllegalArgumentException(s"unsupported numeric field type: $other")
  }
}

/** The IntVal lane: the field's Number.longValue against the comparands. */
private final class LongLeaf(i: Int, nullMatches: Boolean, t: DataType, op: OpType,
    vs: Array[Long]) extends BoundLeaf(i, nullMatches) {
  private val kind = BoundLeaf.numberKind(t)
  protected def present(row: InternalRow): Boolean = {
    val v = kind match {
      case 0 => row.getByte(i).toLong
      case 1 => row.getShort(i).toLong
      case 2 => row.getInt(i).toLong
      case 3 => row.getLong(i)
      case 4 => row.getFloat(i).toLong
      case 5 => row.getDouble(i).toLong
      case _ =>
        val d = t.asInstanceOf[DecimalType]
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.longValue()
    }
    if (op == OpType.IN) {
      var j = 0
      while (j < vs.length && vs(j) != v) j += 1
      j < vs.length
    } else BoundLeaf.holds(op, java.lang.Long.compare(v, vs(0)))
  }
}

/** The FloatVal lane: the field's Number.doubleValue against the comparands. */
private final class DoubleLeaf(i: Int, nullMatches: Boolean, t: DataType, op: OpType,
    vs: Array[Double]) extends BoundLeaf(i, nullMatches) {
  private val kind = BoundLeaf.numberKind(t)
  protected def present(row: InternalRow): Boolean = {
    val v = kind match {
      case 0 => row.getByte(i).toDouble
      case 1 => row.getShort(i).toDouble
      case 2 => row.getInt(i).toDouble
      case 3 => row.getLong(i).toDouble
      case 4 => row.getFloat(i).toDouble
      case 5 => row.getDouble(i)
      case _ =>
        val d = t.asInstanceOf[DecimalType]
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue()
    }
    if (op == OpType.IN) {
      var j = 0
      while (j < vs.length && vs(j) != v) j += 1
      j < vs.length
    } else BoundLeaf.holds(op, java.lang.Double.compare(v, vs(0)))
  }
}

/** The TextVal lane over a string field; MATCHES is a full match. */
private final class TextLeaf(i: Int, nullMatches: Boolean, op: OpType, vs: Array[String])
    extends BoundLeaf(i, nullMatches) {
  private lazy val pattern = java.util.regex.Pattern.compile(vs(0))
  protected def present(row: InternalRow): Boolean = {
    val s = row.getUTF8String(i).toString
    op match {
      case OpType.MATCHES => pattern.matcher(s).matches()
      case OpType.IN      => vs.contains(s)
      case _              => BoundLeaf.holds(op, s.compareTo(vs(0)))
    }
  }
}

/** The BoolVal lane: only EQ and NE. */
private final class BoolLeaf(i: Int, nullMatches: Boolean, op: OpType, v: Boolean)
    extends BoundLeaf(i, nullMatches) {
  protected def present(row: InternalRow): Boolean = op match {
    case OpType.EQ => row.getBoolean(i) == v
    case OpType.NE => row.getBoolean(i) != v
    case _         => false
  }
}

/** A leaf no present value matches. */
private final class NeverLeaf(i: Int, nullMatches: Boolean) extends BoundLeaf(i, nullMatches) {
  protected def present(row: InternalRow): Boolean = false
}
