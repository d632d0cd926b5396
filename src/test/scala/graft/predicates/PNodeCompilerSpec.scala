package graft.predicates

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Differential test: the compiled Catalyst Column must agree row-for-row
  * with the reference-parity row evaluator (PNodeEvaluator) over a table
  * containing nulls, numeric edge values and assorted strings, for
  * comparands of every type against every field.
  */
class PNodeCompilerSpec extends SparkSpec {
  import Comparand._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("num", LongType, nullable = true),
    StructField("dbl", DoubleType, nullable = true),
    StructField("str", StringType, nullable = true),
    StructField("flag", BooleanType, nullable = true)))

  private val rnd = new scala.util.Random(5)
  private val rows: Seq[Row] = (0 until 300).map { i =>
    Row(
      i.toLong,
      if (rnd.nextInt(5) == 0) null else rnd.nextInt(20).toLong,
      if (rnd.nextInt(5) == 0) null else (rnd.nextInt(400) - 200) / 10.0,
      if (rnd.nextInt(5) == 0) null else Seq("alpha", "beta", "gamma", "Alpha", "a1")(rnd.nextInt(5)),
      if (rnd.nextInt(5) == 0) null else rnd.nextBoolean())
  }

  private lazy val df = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 4), schema).cache()

  private def check(tree: PNode): Unit = {
    val got = PNodeCompiler.filter(df, tree)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = rows.filter { r =>
      PNodeEvaluator.matches(tree, Map(
        "num" -> r.get(1), "dbl" -> r.get(2), "str" -> r.get(3), "flag" -> r.get(4)))
    }.map(_.getLong(0)).toSet
    assert(got == want, s"tree: $tree")
  }

  /** Comparands of one lane, drawn whatever the field's type; with
    * `withNull`, sometimes a lone Null comparand.
    */
  private def randComparands(withNull: Boolean = false): Seq[Comparand] =
    if (withNull && rnd.nextInt(8) == 0) Seq(NullVal) else rnd.nextInt(4) match {
    case 0 => Seq.fill(1 + rnd.nextInt(3))(IntVal(rnd.nextInt(20).toLong))
    case 1 => Seq.fill(1 + rnd.nextInt(3))(FloatVal((rnd.nextInt(400) - 200) / 10.0))
    case 2 => Seq.fill(1 + rnd.nextInt(3))(TextVal(Seq("alpha", "beta", "gamma", "a.*")(rnd.nextInt(4))))
    case 3 => Seq(BoolVal(rnd.nextBoolean()))
  }

  private val Fields = Seq("num", "dbl", "str", "flag")

  private def randLeaf(fields: Seq[String], withNull: Boolean): PredicateNode = {
    val field = fields(rnd.nextInt(fields.size))
    val op = OpType.values(rnd.nextInt(OpType.values.size))
    PredicateNode.namedTyped(field, op, randComparands(withNull): _*)
  }

  private def randTree(depth: Int, fields: Seq[String] = Fields,
      withNull: Boolean = false): PNode =
    if (depth == 0 || rnd.nextInt(3) == 0) randLeaf(fields, withNull)
    else ConjugateNode(rnd.nextBoolean(),
      Seq.fill(1 + rnd.nextInt(3))(randTree(depth - 1, fields, withNull)))

  test("compiled Column matches reference evaluator on 400 random trees") {
    (0 until 400).foreach(_ => check(randTree(2)))
  }

  test("null field matches only EQ with null comparand (PredicateEvaluator.java:82-84)") {
    check(PredicateNode.namedTyped("num", OpType.EQ, NullVal))
    check(PredicateNode.namedTyped("num", OpType.NE, NullVal))
    check(PredicateNode.namedTyped("num", OpType.EQ, IntVal(5)))
    check(PredicateNode.namedTyped("str", OpType.EQ, NullVal))
  }

  test("MATCHES is a full match, not find()") {
    // 'a.*' full-matches "alpha" and "a1" but NOT "gamma" (find() would hit)
    check(PredicateNode.namedTyped("str", OpType.MATCHES, TextVal("a.*")))
    check(PredicateNode.namedTyped("str", OpType.MATCHES, TextVal("lph")))
  }

  test("IntVal lane truncates double fields like Number.longValue()") {
    check(PredicateNode.namedTyped("dbl", OpType.EQ, IntVal(1L)))
    check(PredicateNode.namedTyped("dbl", OpType.GE, IntVal(-1L)))
  }

  test("a comparand whose type does not match the field's never matches") {
    check(PredicateNode.namedTyped("str", OpType.EQ, IntVal(5)))
    check(PredicateNode.namedTyped("num", OpType.EQ, TextVal("alpha")))
    check(PredicateNode.namedTyped("str", OpType.GE, FloatVal(1.0)))
    check(PredicateNode.namedTyped("num", OpType.EQ, BoolVal(true)))
    check(PredicateNode.namedTyped("flag", OpType.MATCHES, TextVal("t.*")))
    check(PredicateNode.namedTyped("dbl", OpType.IN, TextVal("1.0"), TextVal("alpha")))
  }

  test("bool fields only support EQ/NE") {
    check(PredicateNode.namedTyped("flag", OpType.GT, BoolVal(true)))
    check(PredicateNode.namedTyped("flag", OpType.EQ, BoolVal(false)))
  }

  test("empty conjugates: AND()==true, OR()==false") {
    check(ConjugateNode(isAnd = true, Nil))
    check(ConjugateNode(isAnd = false, Nil))
  }

  // every field type a lane reads, and one no lane reads
  private val wide = StructType(Seq(
    StructField("b", ByteType), StructField("s", ShortType), StructField("i", IntegerType),
    StructField("num", LongType), StructField("f", FloatType), StructField("dbl", DoubleType),
    StructField("dec", DecimalType(10, 2)), StructField("str", StringType),
    StructField("flag", BooleanType), StructField("day", DateType)))

  private lazy val wideRows: Seq[Row] = (0 until 300).map { _ =>
    def orNull(v: => Any): Any = if (rnd.nextInt(5) == 0) null else v
    val x = (rnd.nextInt(400) - 200) / 10.0
    new GenericRowWithSchema(Array[Any](
      orNull(rnd.nextInt(20).toByte), orNull(rnd.nextInt(20).toShort), orNull(rnd.nextInt(20)),
      orNull(rnd.nextInt(20).toLong), orNull(x.toFloat), orNull(x),
      orNull(new java.math.BigDecimal(rnd.nextInt(4000) - 2000).movePointLeft(2)),
      orNull(Seq("alpha", "beta", "gamma", "Alpha", "a1")(rnd.nextInt(5))),
      orNull(rnd.nextBoolean()), orNull(java.sql.Date.valueOf("2024-01-01"))), wide)
  }

  /** The bound tree's answer on each row's InternalRow is matchesRow's. */
  private def agree(tree: PNode): Unit = {
    val toRow = CatalystTypeConverters.createToCatalystConverter(wide)
    val bound = PNodeEvaluator.bind(tree, wide)
    wideRows.foreach { r =>
      assert(bound.matches(toRow(r).asInstanceOf[InternalRow]) ==
        PNodeEvaluator.matchesRow(tree, r), s"tree: $tree row: $r")
    }
  }

  test("bound trees agree with matchesRow on 400 random trees over every field type") {
    (0 until 400).foreach(_ => agree(randTree(2, wide.fieldNames.toSeq, withNull = true)))
  }

  test("bound leaves agree with matchesRow for every lane, op and field type, nulls included") {
    for (f <- wide.fieldNames; op <- OpType.values;
         cs <- Seq(Seq(IntVal(1), IntVal(3)), Seq(FloatVal(1.5), FloatVal(-2.0)),
           Seq(TextVal("a.*"), TextVal("beta")), Seq(BoolVal(true)), Seq(NullVal), Nil))
      agree(PredicateNode.namedTyped(f, op, cs: _*))
  }

  test("a bound IntVal leaf truncates a double field; a type mismatch is false") {
    val row = new GenericRowWithSchema(Array[Any](null, null, null, null, null, 1.9, null,
      "alpha", null, null), wide)
    val internal = CatalystTypeConverters.createToCatalystConverter(wide)(row)
      .asInstanceOf[InternalRow]
    assert(PNodeEvaluator.bind(PredicateNode.namedTyped("dbl", OpType.EQ, IntVal(1)), wide)
      .matches(internal))
    assert(!PNodeEvaluator.bind(PredicateNode.namedTyped("str", OpType.NE, IntVal(1)), wide)
      .matches(internal))
    intercept[IllegalArgumentException](
      PNodeEvaluator.bind(PredicateNode.namedTyped("nope", OpType.EQ, IntVal(1)), wide))
  }
}
