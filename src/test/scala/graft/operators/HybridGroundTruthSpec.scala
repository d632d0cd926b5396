package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.predicates._

class HybridGroundTruthSpec extends SparkSpec {
  import graft.predicates.Comparand._

  private lazy val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("per-query predicates restrict each query's neighbor set independently") {
    val evenTree = PredicateNode.namedTyped("label", OpType.LE, IntVal(4))
    val oddTree = PredicateNode.namedTyped("label", OpType.GE, IntVal(5))
    val blobUdf = udf((qid: Long) =>
      PNodeCodec.encodeFramed(if (qid % 2 == 0) evenTree else oddTree,
        PNodeCodec.Mode.NamedTyped))
    val queries = emb.filter(col("vec_id") < 10).withColumn("predicate", blobUdf(col("vec_id")))

    val gt = HybridGroundTruth.knnWithPerQueryPredicates(
      queries, emb, k = 8, metadataCols = Seq("label"), excludeSelf = true)

    // every neighbor must satisfy its query's predicate
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    gt.collect().foreach { r =>
      val qid = r.getLong(0); val nid = r.getLong(1)
      if (qid % 2 == 0) assert(labels(nid) <= 4, s"q$qid n$nid label=${labels(nid)}")
      else assert(labels(nid) >= 5, s"q$qid n$nid label=${labels(nid)}")
    }
    assert(gt.count() == 80)
  }

  test("null predicate blob means unfiltered (matches plain KNN)") {
    val queries = emb.filter(col("vec_id") < 5)
      .withColumn("predicate", lit(null).cast("binary"))
    val hybrid = HybridGroundTruth.knnWithPerQueryPredicates(
        queries, emb, k = 5, metadataCols = Seq("label"), excludeSelf = true)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = Knn.knn(queries, emb, k = 5, excludeSelf = true)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hybrid == plain)
  }

  test("package round trip: stored result_indices reproduce recomputed ground truth") {
    val tree = PredicateNode.namedTyped("label", OpType.IN,
      IntVal(1), IntVal(3), IntVal(7))
    val blob = PNodeCodec.encodeFramed(tree, PNodeCodec.Mode.NamedTyped)
    val queries = emb.filter(col("vec_id") < 12)
      .withColumn("predicate", lit(blob))
    val gt = HybridGroundTruth.knnWithPerQueryPredicates(
      queries, emb, k = 6, metadataCols = Seq("label"), excludeSelf = true)

    val (predicates, resultIndices) = HybridGroundTruth.buildPackage(queries, gt)
    assert(predicates.count() == 12)

    // reload: decode each stored predicate, recompute, compare to stored
    val storedPred = predicates.collect().map(r =>
      r.getLong(0) -> PNodeCodec.decodeFramed(r.getAs[Array[Byte]](1))).toMap
    assert(storedPred.values.forall(_ == tree))
    val stored = resultIndices.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    val recomputed = gt.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id"))))
        .getField("neighbor_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(stored == recomputed)
    // ordered by rank = ascending distance (self-consistency with J1 zip discipline)
    stored.values.foreach(n => assert(n.nonEmpty && n.size <= 6))
  }

  test("zero-match queries keep their ordinal with an empty neighbor list") {
    val impossible = PNodeCodec.encodeFramed(
      PredicateNode.namedTyped("label", OpType.GE, IntVal(100)),
      PNodeCodec.Mode.NamedTyped)
    val queries = emb.filter(col("vec_id") < 4).withColumn("predicate", lit(impossible))
    val gt = HybridGroundTruth.knnWithPerQueryPredicates(
      queries, emb, k = 5, metadataCols = Seq("label"), excludeSelf = true)
    assert(gt.count() == 0)
    val (_, resultIndices) = HybridGroundTruth.buildPackage(queries, gt)
    val rows = resultIndices.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L))
    assert(rows.values.forall(_.isEmpty))
  }
}
