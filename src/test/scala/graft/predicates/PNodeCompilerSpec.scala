package graft.predicates

import org.apache.spark.sql.Row
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

  /** Comparands of one lane, drawn whatever the field's type. */
  private def randComparands(): Seq[Comparand] = rnd.nextInt(4) match {
    case 0 => Seq.fill(1 + rnd.nextInt(3))(IntVal(rnd.nextInt(20).toLong))
    case 1 => Seq.fill(1 + rnd.nextInt(3))(FloatVal((rnd.nextInt(400) - 200) / 10.0))
    case 2 => Seq.fill(1 + rnd.nextInt(3))(TextVal(Seq("alpha", "beta", "gamma", "a.*")(rnd.nextInt(4))))
    case 3 => Seq(BoolVal(rnd.nextBoolean()))
  }

  private def randLeaf(): PredicateNode = {
    val field = Seq("num", "dbl", "str", "flag")(rnd.nextInt(4))
    val op = OpType.values(rnd.nextInt(OpType.values.size))
    PredicateNode.namedTyped(field, op, randComparands(): _*)
  }

  private def randTree(depth: Int): PNode =
    if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
    else ConjugateNode(rnd.nextBoolean(), Seq.fill(1 + rnd.nextInt(3))(randTree(depth - 1)))

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
}
