package graft.predicates

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TagFilterSpec extends SparkSpec {
  import spark.implicits._

  private val items = Seq(
    (1L, Map("speed" -> "fast", "color" -> "blue")),
    (2L, Map("speed" -> "slow")),
    (3L, Map("color" -> "bluegreen")),
    (4L, Map.empty[String, String])).toDF("id", "tags")

  test("parse: separators, bare names, quoted regex values") {
    val f = TagFilter.parse("speed=fast color:'blue.*', shape")
    assert(f.entries == Seq(
      "speed" -> Some("fast"), "color" -> Some("blue.*"), "shape" -> None))
  }

  test("Column predicate: name presence + full-match regex value") {
    def ids(spec: String): Set[Long] =
      items.filter(TagFilter.parse(spec).predicate(col("tags")))
        .collect().map(_.getLong(0)).toSet
    assert(ids("speed") == Set(1L, 2L))
    assert(ids("speed=fast") == Set(1L))
    assert(ids("color='blue.*'") == Set(1L, 3L))
    assert(ids("color=blue") == Set(1L)) // full match, not find()
    assert(ids("speed=fast color=blue") == Set(1L))
    assert(ids("speed=.*") == Set(1L, 2L))
  }

  test("driver-side matcher explains decisions") {
    val f = TagFilter.parse("speed=fast")
    val (ok, log) = f.matches(Map("speed" -> "slow"))
    assert(!ok && log.exists(_.contains("does not match")))
    val (ok2, log2) = f.matches(Map("speed" -> "fast"))
    assert(ok2 && log2.exists(_.startsWith("MATCH")))
    assert(!f.matches(Map("color" -> "red"))._1)
  }

  test("CQL renderer parity shapes (PNodeCqlCodec)") {
    import Comparand._
    val flat = ConjugateNode.and(
      PredicateNode.namedTyped("age", OpType.GT, IntVal(5)),
      PredicateNode.namedTyped("name", OpType.IN, TextVal("a"), TextVal("b")))
    assert(PNodeSql.cql(flat) == "age > 5 AND name IN ('a', 'b')")
    assert(PNodeSql.cql(PredicateNode.namedTyped("t", OpType.MATCHES, TextVal("x.*"))) ==
      "t /* MATCHES */ 'x.*'")
    assert(PNodeSql.cql(PredicateNode.indexed(2, OpType.LE, 9L)) == "F2 <= 9")
  }
}
