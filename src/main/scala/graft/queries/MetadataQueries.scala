package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.metadata._
import graft.predicates._

/** The full §3.2 hybrid-predicate path as one oracled query: typed rows →
  * MNode binary blobs (encode) → blob decode under a MetadataLayout →
  * compiled PNode filter — against a plain-SQL oracle on the source table.
  * Every byte of the metadata pipeline (29-tag codec, layout decode,
  * evaluator semantics) sits between the parquet scan and the output.
  */
object MetadataQueries {
  import Comparand._

  private val layout = MetadataLayout(Seq(
    FieldDescriptor("c_custkey", FieldType.IntT),
    FieldDescriptor("c_mktsegment", FieldType.EnumT,
      Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")),
    FieldDescriptor("c_acctbal", FieldType.FloatT)))

  // c_mktsegment IN ('HOUSEHOLD','FURNITURE') AND c_acctbal <= 2500.0
  private val tree: PNode = ConjugateNode.and(
    PredicateNode.namedTyped("c_mktsegment", OpType.IN,
      TextVal("HOUSEHOLD"), TextVal("FURNITURE")),
    PredicateNode.namedTyped("c_acctbal", OpType.LE, FloatVal(2500.0)))

  val all: Seq[GQuery] = Seq(
    GQuery(
      "q19_mnode_content_filter",
      s"""SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
         |FROM customer WHERE ${PNodeSql.duckdb(tree)}""".stripMargin) { (s, dir) =>
      val blobs = MetadataTables.encodeContent(
        Tables.customer(s, dir), layout, ordinalCol = "c_custkey")
      val decoded = MetadataTables.decodeContent(blobs, layout)
      PNodeCompiler.filter(decoded, tree, layout.resolve)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
    },
  )
}
