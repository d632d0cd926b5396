package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The production ANN paths: KMeans-trained coarse quantizer and
  * random-hyperplane bucketing — quality guards, not just plumbing.
  */
class AnnProductionSpec extends SparkSpec {

  private lazy val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()

  test("KMeans-trained IVF achieves high recall at partial probe") {
    val centroids = Ann.trainCentroids(spark, emb, nList = 8)
    assert(centroids.count() == 8)
    val index = Ann.ivfIndex(emb, centroids)
    val queries = emb.filter(col("vec_id") < 20)

    val truth = Knn.knn(queries, emb, k = 10, excludeSelf = true)
    val approx = Ann.ivfSearch(queries, index, centroids, k = 10, nProbe = 4,
      excludeSelf = true)
    val recall = Knn.avgRecall(approx, truth, k = 10).collect()(0).getDouble(0)
    // probing half the cells of a trained quantizer must recover most
    // true neighbors (random-data floor is ~nProbe/nList = 0.5)
    assert(recall >= 0.6, s"recall@10 with nProbe=4/8 was $recall")

    // full probe is exact regardless of centroid quality
    val full = Ann.ivfSearch(queries, index, centroids, k = 10, nProbe = 8,
      excludeSelf = true)
    assert(Knn.avgRecall(full, truth, k = 10).collect()(0).getDouble(0) == 1.0)
  }

  test("avgRecall averages over the truth's queries, zero-hit ones included") {
    import spark.implicits._
    val truth = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (2L, 6L),
      (3L, 7L), (3L, 8L), (3L, 9L)).toDF("query_id", "neighbor_id")
    // query 1 hits 2 of 3, query 2 none, query 3 returns nothing, and
    // query 4 is not in the truth
    val predicted = Seq((1L, 1L), (1L, 2L), (1L, 10L), (2L, 11L), (2L, 12L),
      (4L, 1L)).toDF("query_id", "neighbor_id")
    def recall(p: org.apache.spark.sql.DataFrame): Double =
      Knn.avgRecall(p, truth, k = 3).collect()(0).getDouble(0)
    assert(recall(predicted) == 0.2222)
    assert(recall(truth) == 1.0)
    assert(Knn.avgRecall(truth.limit(0), truth.limit(0), k = 3).collect()(0).isNullAt(0))
  }

  test("hyperplane buckets: deterministic, and identical vectors share buckets") {
    val b1 = emb.select(col("vec_id"),
      Ann.hyperplaneBucket(col("embedding"), dim = 64, nBits = 8).as("bucket"))
    val b2 = emb.select(col("vec_id"),
      Ann.hyperplaneBucket(col("embedding"), dim = 64, nBits = 8).as("bucket"))
    assert(b1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      b2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // duplicate a vector under a new id: must land in the same bucket
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val buckets = emb.unionByName(dup)
      .select(col("vec_id"), Ann.hyperplaneBucket(col("embedding"), 64, 8).as("bucket"))
      .filter(col("vec_id") === 0 || col("vec_id") === 10000)
      .collect().map(_.getLong(1)).toSet
    assert(buckets.size == 1)

    // buckets spread: with 8 bits over 500 random vectors expect many distinct
    val distinct = b1.select("bucket").distinct().count()
    assert(distinct > 20, s"only $distinct distinct buckets")
  }

  test("matryoshka recall: full-width prefix is exactly 1.0, all widths in [0,1]") {
    import org.apache.spark.sql.functions._
    val card = Ann.matryoshkaRecall(emb.filter(col("vec_id") < 10), emb,
        dims = Seq(4, 16, 64), k = 5, excludeSelf = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(card(64L) == 1.0, s"full-dim truncation must equal truth: $card")
    assert(card.values.forall(v => v >= 0.0 && v <= 1.0), card.toString)
    assert(card.keySet == Set(4L, 16L, 64L))
  }
}
