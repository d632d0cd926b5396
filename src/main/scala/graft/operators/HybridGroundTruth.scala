package graft.operators

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

import graft.predicates.{BoundPNode, ConjugateNode, PNode, PNodeCodec, PNodeEvaluator, PredicateNode}

/** Hybrid-query ground truth with PER-QUERY predicate trees (SURVEY.md J2,
  * §3.2; reference specs/ordinal_predicate_writers_v1.md:23-30: "Predicate
  * index 0 corresponds to query vector 0" — each query ordinal carries its
  * own predicate, and its neighbor set is restricted to base records whose
  * metadata matches that predicate).
  *
  * Spark shape: the query side carries framed PNode blobs; the base side
  * carries its metadata columns as a struct. [[perQuery]] is the one seam
  * every hybrid search (exact, IVF, adaptive, routed, binary, graph and
  * IVF-PQ) reads its trees from: each distinct blob is decoded once on the
  * driver and the query side carries an int index into the decoded trees.
  * The per-pair filter is one native expression, `query_predicate`, that
  * binds the trees once per task to the metadata struct's field ordinals
  * and reads the struct's InternalRow: no executor decodes a blob or
  * builds a `Row`. The exact form runs it inside [[Knn.knn]]'s scoring
  * aggregate, before each pair is scored.
  */
object HybridGroundTruth {

  /** The column [[perQuery]] adds to the query side: 0 for a null blob
    * (unfiltered), i >= 1 for the i-th distinct tree.
    */
  val PredicateIndex = "_pred_idx"

  /** The query side's distinct predicate trees, decoded on the driver. */
  final class QueryPredicates private[HybridGroundTruth] (trees: Array[PNode])
      extends Serializable {

    /** Whether the metadata row passes the predicate of index `i`: 0 is
      * unfiltered, i >= 1 is the i-th distinct tree.
      */
    def matches(i: Int, meta: Row): Boolean =
      i == 0 || PNodeEvaluator.matchesRow(trees(i - 1), meta)

    /** The trees bound to the metadata struct `schema`, index i - 1 for
      * predicate index i.
      */
    def bind(schema: StructType): Array[BoundPNode] = trees.map(PNodeEvaluator.bind(_, schema))

    /** [[matches]] as a per-pair filter over the query's index column and
      * the candidate's metadata struct: a native expression over the
      * struct's InternalRow, the trees bound once per task to its field
      * ordinals. It generates no code of its own, so a plan's generated
      * code is the same on every call; only the trees differ.
      */
    def filter(index: Column, meta: Column): Column =
      Bridge.column(QueryPredicate(Bridge.expression(index), Bridge.expression(meta), this))

    /** Fails, before any job reads a candidate, when a tree names a field
      * that is not in `columns`: the reference's missing-field-behaves-as-
      * null semantics would silently produce an empty "ground truth" when
      * the caller forgets a metadata column.
      */
    def requireFields(columns: Seq[String]): Unit = {
      val missing = trees.flatMap(fieldsOf).distinct.filterNot(columns.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"predicate references fields ${missing.mkString(",")} not present in " +
          s"metadataCols ${columns.mkString("[", ",", "]")}")
    }

    private def fieldsOf(n: PNode): Seq[String] = n match {
      case ConjugateNode(_, cs) => cs.flatMap(fieldsOf)
      case p: PredicateNode     => Seq(p.effectiveName)
    }
  }

  /** [[QueryPredicates.filter]]'s expression: true for index 0, else
    * whether the struct `right` passes the tree of index `left`.
    */
  private case class QueryPredicate(left: Expression, right: Expression, preds: QueryPredicates)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "query_predicate"
    override protected def stringArgs: Iterator[Any] = Iterator(left, right)

    @transient private lazy val bound = preds.bind(right.dataType.asInstanceOf[StructType])

    // evaluated per candidate pair: the children are read here rather than
    // through BinaryExpression.eval's call sites, which every binary
    // expression shares
    override def eval(input: InternalRow): Any = {
      val index = left.eval(input)
      if (index == null) null
      else if (index.asInstanceOf[Int] == 0) true
      else {
        val meta = right.eval(input)
        if (meta == null) null
        else bound(index.asInstanceOf[Int] - 1).matches(meta.asInstanceOf[InternalRow])
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): QueryPredicate =
      copy(left = newLeft, right = newRight)
  }

  /** Decode each distinct predicate blob of `queries` once, on the driver
    * (the query side is broadcast-sized by contract), and check every
    * field the trees name against `metadataCols`.
    *
    * @return `queries` plus the int column [[PredicateIndex]], and the
    *   decoded trees that index points into
    */
  def perQuery(queries: DataFrame, predicateCol: String,
      metadataCols: Seq[String]): (DataFrame, QueryPredicates) = {
    val blob = col(predicateCol).cast("binary")
    val blobs = queries.select(blob).collect()
      .flatMap(r => Option(r.getAs[Array[Byte]](0)))
      .map(b => ArraySeq.unsafeWrapArray(b)).distinct
    val preds = new QueryPredicates(blobs.map(b => PNodeCodec.decodeFramed(b.toArray)))
    preds.requireFields(metadataCols)
    val index = blobs.zipWithIndex.map { case (b, i) => b -> (i + 1) }.toMap
    val lookup = udf { (b: Array[Byte]) =>
      if (b == null) 0
      else index.getOrElse(ArraySeq.unsafeWrapArray(b), throw new IllegalStateException(
        "a predicate blob changed after it was decoded: the query side must be deterministic"))
    }
    (queries.withColumn(PredicateIndex, lookup(blob)), preds)
  }

  /** Top-k per query restricted by the query's own predicate over the base
    * metadata columns. Delegates the physical plan to Knn.knn, whose
    * scoring aggregate evaluates the filter per (query, base row) pair.
    *
    * @param queries (idCol, vecCol, predicateCol BINARY — framed PNode; null = unfiltered)
    * @param base    (idCol, vecCol, metadataCols...)
    * @return (query_id, neighbor_id, rank, dist)
    */
  def knnWithPerQueryPredicates(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      predicateCol: String = "predicate",
      metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val (qs, preds) = perQuery(queries, predicateCol, metadataCols)
    val metaStruct = struct(metadataCols.map(c => col(s"b_$c").as(c)): _*)
    Knn.knn(qs, base, k, metric, idCol, vecCol,
      queryExtra = Seq(PredicateIndex),
      baseExtra = metadataCols,
      pairPredicate = Some(preds.filter(col(s"q_$PredicateIndex"), metaStruct)),
      excludeSelf = excludeSelf)
  }

  /** Build the predicate-dataset facets (§3.2's logical tables) from a
    * computed ground truth: `predicates` (ordinal, blob) and
    * `result_indices` (ordinal, neighbor array). Facets share the query
    * ordinal positionally — a query with NO matching neighbors still gets
    * its row (empty array), preserving the zip-join discipline.
    */
  def buildPackage(
      queries: DataFrame,
      groundTruth: DataFrame,
      idCol: String = "vec_id",
      predicateCol: String = "predicate"): (DataFrame, DataFrame) = {
    val predicates = queries.select(
      col(idCol).cast("long").as("ordinal"), col(predicateCol).as("blob"))
    val nonEmpty = groundTruth
      .groupBy(col("query_id").as("ordinal"))
      .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id"))))
        .getField("neighbor_id").as("neighbors"))
    val resultIndices = predicates.select("ordinal")
      .join(nonEmpty, Seq("ordinal"), "left")
      .select(col("ordinal"),
        coalesce(col("neighbors"), array().cast("array<bigint>")).as("neighbors"))
    (predicates, resultIndices)
  }
}
