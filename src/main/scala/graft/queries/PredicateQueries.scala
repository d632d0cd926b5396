package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.predicates._

/** Predicate-tree pipeline queries (SURVEY.md P4/P5/P6): each query builds a
  * PNode tree, round-trips it through the reference binary wire format
  * (encode → decode), compiles the decoded tree to a Catalyst Column, and
  * filters a table with it. The oracle SQL's WHERE clause is generated by
  * PNodeSql.duckdb from the SAME tree — so codec, compiler and renderer are
  * all differentially tested by the driver's gate.
  */
object PredicateQueries {
  import Comparand._

  private def viaWire(tree: PNode, mode: PNodeCodec.Mode): PNode =
    PNodeCodec.decodeFramed(PNodeCodec.encodeFramed(tree, mode))

  // (c_mktsegment = 'BUILDING' OR c_mktsegment = 'AUTOMOBILE') AND c_acctbal > 1000.0
  private val custTree: PNode = ConjugateNode.and(
    ConjugateNode.or(
      PredicateNode.namedTyped("c_mktsegment", OpType.EQ, TextVal("BUILDING")),
      PredicateNode.namedTyped("c_mktsegment", OpType.EQ, TextVal("AUTOMOBILE"))),
    PredicateNode.namedTyped("c_acctbal", OpType.GT, FloatVal(1000.0)))

  // (p_type MATCHES 'PROMO.*' AND p_size IN (1,5,9)) OR p_brand = 'Brand#13'
  private val partTree: PNode = ConjugateNode.or(
    ConjugateNode.and(
      PredicateNode.namedTyped("p_type", OpType.MATCHES, TextVal("PROMO.*")),
      PredicateNode.namedTyped("p_size", OpType.IN, IntVal(1), IntVal(5), IntVal(9))),
    PredicateNode.namedTyped("p_brand", OpType.EQ, TextVal("Brand#13")))

  // indexed legacy-i64 dialect with positional fields resolved through a
  // layout, incl. i64-lane truncation of a double field (value):
  // (F0 >= 20 AND F0 < 80) OR F1 = 42   with F0 -> user_id, F1 -> value
  private val eventsTree: PNode = ConjugateNode.or(
    ConjugateNode.and(
      PredicateNode.indexed(0, OpType.GE, 20L),
      PredicateNode.indexed(0, OpType.LT, 80L)),
    PredicateNode.indexed(1, OpType.EQ, 42L))
  private val eventsLayout: Int => String = Map(0 -> "user_id", 1 -> "value")

  val all: Seq[GQuery] = Seq(
    GQuery(
      "q02_pnode_typed_filter",
      s"""SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
         |FROM customer WHERE ${PNodeSql.duckdb(custTree)}""".stripMargin) { (s, dir) =>
      val decoded = viaWire(custTree, PNodeCodec.Mode.NamedTyped)
      PNodeCompiler.filter(Tables.customer(s, dir), decoded)
        .select(col("c_custkey"), col("c_mktsegment"), round(col("c_acctbal"), 2).as("c_acctbal"))
    },

    GQuery(
      "q08_pnode_matches_in",
      s"""SELECT p_partkey, p_brand, p_size
         |FROM part WHERE ${PNodeSql.duckdb(partTree)}""".stripMargin) { (s, dir) =>
      val decoded = viaWire(partTree, PNodeCodec.Mode.NamedTyped)
      PNodeCompiler.filter(Tables.part(s, dir), decoded)
        .select("p_partkey", "p_brand", "p_size")
    },

    GQuery(
      "q10_pnode_indexed_filter",
      s"""SELECT event_id, user_id
         |FROM events WHERE ${PNodeSql.duckdb(eventsTree, eventsLayout)}""".stripMargin) { (s, dir) =>
      val decoded = viaWire(eventsTree, PNodeCodec.Mode.Indexed)
      PNodeCompiler.filter(Tables.events(s, dir), decoded, eventsLayout)
        .select("event_id", "user_id")
    },

    // JSON dialect (predicate_format_v1.md) end-to-end: parse → compile.
    GQuery(
      "q16_pnode_json_filter", {
        val t = PNodeJson.parse(
          """{"op":"AND","nodes":[
            |  {"field":"o_orderstatus","op":"EQ","values":["O"]},
            |  {"field":"o_totalprice","op":"GE","values":[150000.0]}
            |]}""".stripMargin)
        s"""SELECT o_orderkey, o_custkey FROM orders WHERE ${PNodeSql.duckdb(t)}"""
      }) { (s, dir) =>
      val tree = PNodeJson.parse(
        """{"op":"AND","nodes":[
          |  {"field":"o_orderstatus","op":"EQ","values":["O"]},
          |  {"field":"o_totalprice","op":"GE","values":[150000.0]}
          |]}""".stripMargin)
      PNodeCompiler.filter(Tables.orders(s, dir), tree)
        .select("o_orderkey", "o_custkey")
    },
  )
}
