package graft.predicates

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, NumericType, StringType, StructType}

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

  private def cmp(op: OpType, c: Int, in: => Boolean): Boolean = op match {
    case OpType.GT => c > 0
    case OpType.LT => c < 0
    case OpType.EQ => c == 0
    case OpType.NE => c != 0
    case OpType.GE => c >= 0
    case OpType.LE => c <= 0
    case OpType.IN => in
    case OpType.MATCHES => false
  }
}
