package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.predicates._
import graft.sources.XvecSpec
import graft.sources.xvec.{XvecFormat, XvecIO}

/** The operators an xvec scan feeds give the same answer however many
  * splits the scan plans: one split (`spark.sql.leafNodeDefaultParallelism`
  * = 1) against the session default (several splits of a 10.4 MB base).
  * Seeded training over a sample is the exception: it repeats at a fixed
  * split count, and the spec records whether the two split counts agree.
  */
class XvecSplitKnnSpec extends SparkSpec with BeforeAndAfterAll {
  import graft.predicates.Comparand._

  private val N = 40000
  private val Dim = 64

  private lazy val dir = Files.createTempDirectory("xvsplit")
  private lazy val basePath: String = {
    val path = dir.resolve("base.fvec").toString
    val rnd = new scala.util.Random(7)
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      Iterator.fill(N)(Seq.fill(Dim)(rnd.nextGaussian().toFloat)))
    path
  }

  private def base: DataFrame = XvecIO.read(spark, basePath)
    .select(col("ordinal").as("vec_id"), col("vector").as("embedding"),
      (col("ordinal") % 10).as("label"), ((col("ordinal") / 10).cast("long") % 100).as("score"))

  private def queries: DataFrame = {
    val blob = udf((qid: Long) => PNodeCodec.encodeFramed(ConjugateNode.and(
      PredicateNode.namedTyped("label", OpType.IN, IntVal(qid % 10), IntVal((qid + 3) % 10)),
      PredicateNode.namedTyped("score", OpType.GE, IntVal(qid * 7 % 50))),
      PNodeCodec.Mode.NamedTyped))
    base.filter(col("vec_id") % 5000 === 11).withColumn("predicate", blob(col("vec_id")))
  }

  override def afterAll(): Unit = {
    Files.deleteIfExists(dir.resolve("base.fvec"))
    Files.deleteIfExists(dir)
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** (planned scan splits, exact KNN, hybrid KNN, per-dim profile). */
  private def run(): (Int, Seq[Row], Seq[Row], Seq[Row]) = (
    XvecSpec.plannedRanges(XvecIO.read(spark, basePath)).size,
    sorted(Knn.knn(queries.select("vec_id", "embedding"), base, 25, "COSINE")),
    sorted(HybridGroundTruth.knnWithPerQueryPredicates(queries, base, 25, "COSINE",
      metadataCols = Seq("label", "score"))),
    ProfileStats.perDimStats(XvecIO.read(spark, basePath), "vector").orderBy("dim")
      .collect().toSeq)

  test("seeded trainCentroids repeats at a fixed split count; records P = 1 vs the default") {
    val key = "spark.sql.leafNodeDefaultParallelism"
    def train(): Seq[Row] = Ann.trainCentroids(spark, base, nList = 8, sampleFraction = 0.05)
      .orderBy("vec_id").collect().toSeq
    val (one1, one2) = try { spark.conf.set(key, "1"); (train(), train()) }
      finally spark.conf.unset(key)
    val (many1, many2) = (train(), train())
    assert(one1.size == 8 && many1.size == 8)
    assert(one1 == one2, "two seeded runs on one split trained different centroids")
    assert(many1 == many2, "two seeded runs on the default splits trained different centroids")
    // sample(fraction, seed) draws per partition, so the split count may
    // change the sample and the centroids (XvecScan scaladoc)
    info(s"P = 1 and the default split count train " +
      (if (one1 == many1) "identical" else "different") + " centroids")
  }

  test("the PQ and RVQ trainers fit KMeans over the scan itself") {
    // KMeans reads its input twice in one task; a DSv2 scan keeps one
    // reader per task, so each trainer must fit over rows it materialized
    val pq = Pq.trainCodebooks(base, m = 4, ksub = 8, sampleFraction = 0.05)
    assert(pq.count() == 4 * 8)
    val rvq = Rvq.trainStageCodebooks(base, stages = 2, k = 8, sampleFraction = 0.05)
    assert(rvq.count() == 2 * 8)
  }

  test("KNN, hybrid KNN and the profile agree on one split and on several") {
    val key = "spark.sql.leafNodeDefaultParallelism"
    val (oneSplit, exact1, hybrid1, prof1) =
      try { spark.conf.set(key, "1"); run() } finally spark.conf.unset(key)
    val (splits, exactN, hybridN, profN) = run()

    assert(oneSplit == 1)
    assert(splits > 1, s"default parallelism planned $splits split(s)")
    assert(exact1.size == 8 * 25 && hybrid1.size == 8 * 25)
    // top-k ties break by (dist, id) and partial heaps merge exactly: the
    // rows, dist doubles included, are identical
    assert(exactN == exact1)
    assert(hybridN == hybrid1)
    // per-dim sums only change float addition order
    assert(profN.size == Dim && prof1.size == Dim)
    prof1.zip(profN).foreach { case (a, b) =>
      assert(a.getAs[Any]("dim") == b.getAs[Any]("dim"))
      Seq("min", "max", "cnt").foreach(c => assert(a.getAs[Any](c) == b.getAs[Any](c), c))
      Seq("mean", "std").foreach { c =>
        assert(math.abs(a.getAs[Double](c) - b.getAs[Double](c)) <= 1e-12, s"$c: $a vs $b")
      }
    }
  }
}
