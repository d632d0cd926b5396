package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.functions.{DistanceKernels, KnnTopK}

/** Differential spec of `Knn.knn`'s scoring aggregate against a driver-side
  * brute force: `DistanceKernels.compute` per pair, then each query id's
  * pairs sorted by (dist, id). Distances compare by their bits.
  */
class KnnKernelSpec extends SparkSpec {

  /** One row of either side; a null id or vector where the case needs it. */
  private case class V(id: java.lang.Long, vec: Array[Double], label: Int)

  private val Metrics = Seq("COSINE", "EUCLIDEAN", "L1", "DOT_PRODUCT")

  private def frame(rows: Seq[V], elem: DataType): DataFrame =
    spark.createDataFrame(rows.map(v => Row(v.id,
      if (v.vec == null) null else if (elem == FloatType) v.vec.toSeq.map(_.toFloat) else v.vec.toSeq,
      v.label)).asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(elem)),
        StructField("label", IntegerType))))

  /** Random rows with ids from `ids`; doubles that are not floats, so an
    * array<double> side shows the float cast.
    */
  private def rows(ids: Seq[java.lang.Long], dim: Int, seed: Int): Seq[V] = {
    val rnd = new scala.util.Random(seed)
    ids.map(id => V(id, Array.fill(dim)(rnd.nextGaussian()), rnd.nextInt(3)))
  }

  private type Hit = (Option[Long], Long, Int, Long)

  private def sorted(hits: Seq[Hit]): Seq[Hit] =
    hits.sortBy(h => (h._1.fold(Long.MinValue)(identity), h._3, h._2))

  private def brute(qs: Seq[V], bs: Seq[V], k: Int, metric: String, excludeSelf: Boolean,
      pred: (Int, Int) => Boolean): Seq[Hit] = {
    val m = DistanceKernels.metricId(metric)
    def floats(v: Array[Double]) = new GenericArrayData(v.map(_.toFloat))
    val pairs = for {
      q <- qs; b <- bs
      if b.id != null && q.vec != null && b.vec != null && pred(q.label, b.label)
      if !(excludeSelf && (q.id == null || q.id.longValue == b.id.longValue))
    } yield (Option(q.id).map(_.longValue), DistanceKernels.compute(floats(q.vec), floats(b.vec), m),
      b.id.longValue)
    sorted(pairs.groupBy(_._1).toSeq.flatMap { case (qid, ps) =>
      ps.map(p => (p._2, p._3))
        .sortWith((x, y) => x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))
        .take(k).zipWithIndex
        .map { case ((d, id), r) => (qid, id, r + 1, java.lang.Double.doubleToLongBits(d)) }
    })
  }

  private def got(df: DataFrame): Seq[Hit] =
    sorted(df.collect().toSeq.map(r => (Option(r.getAs[java.lang.Long]("query_id")).map(_.longValue),
      r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("dist")))))

  private val anyPair: (Int, Int) => Boolean = (_, _) => true

  /** 60 base rows, one of them a zero vector, one with a null vector and
    * one with a null id; the queries repeat base ids and hold a zero
    * vector, a null vector, a null id and an id on two vectors.
    */
  private lazy val base: Seq[V] = {
    val rs = rows((0L until 60L).map(Long.box), 8, seed = 3)
    rs.updated(5, rs(5).copy(vec = Array.fill(8)(0.0)))
      .updated(9, rs(9).copy(vec = null))
      .updated(13, rs(13).copy(id = null))
  }
  private lazy val queries: Seq[V] = {
    val rs = rows(Seq(2L, 5L, 7L, 11L, 20L, 20L, 31L, 0L).map(Long.box), 8, seed = 4)
    rs.updated(1, base(5).copy(id = 5L)).updated(2, rs(2).copy(vec = null)) :+
      V(null, rows(Seq(0L), 8, seed = 5).head.vec, 1) :+ base(40)
  }

  private def check(qs: Seq[V], bs: Seq[V], elem: DataType, k: Int, metric: String,
      excludeSelf: Boolean, pred: (Int, Int) => Boolean = anyPair,
      pairPredicate: Option[org.apache.spark.sql.Column] = None): Unit = {
    val df = Knn.knn(frame(qs, elem), frame(bs, elem), k, metric,
      queryExtra = pairPredicate.fold(Seq.empty[String])(_ => Seq("label")),
      baseExtra = pairPredicate.fold(Seq.empty[String])(_ => Seq("label")),
      pairPredicate = pairPredicate, excludeSelf = excludeSelf)
    val want = brute(qs, bs, k, metric, excludeSelf, pred)
    assert(want.nonEmpty)
    assert(got(df) == want, s"$metric k=$k excludeSelf=$excludeSelf")
  }

  test("every metric matches the brute force bit for bit, with and without excludeSelf") {
    for (metric <- Metrics; excludeSelf <- Seq(false, true))
      check(queries, base, FloatType, k = 5, metric, excludeSelf)
  }

  test("array<double> sides take the float cast of VectorFunctions.distance") {
    Metrics.foreach(m => check(queries, base, DoubleType, k = 4, m, excludeSelf = true))
  }

  test("k larger than the base returns every scored pair") {
    Metrics.foreach(m => check(queries, base, FloatType, k = 100, m, excludeSelf = false))
  }

  test("the q23 and q154 pair predicates filter before the heap") {
    check(queries, base, FloatType, k = 5, "COSINE", excludeSelf = true, (q, b) => b == q,
      Some(col("b_label") === col("q_label")))
    check(queries, base, FloatType, k = 5, "COSINE", excludeSelf = true, (q, b) => b != q,
      Some(col("b_label") =!= col("q_label")))
  }

  test("more queries than one block holds, an id on two vectors across them") {
    val n = KnnTopK.BlockSize + 44
    val qs = rows((0L until n.toLong).map(i => Long.box(i % (n - 3))), 4, seed = 6)
    val bs = rows((0L until 40L).map(Long.box), 4, seed = 7)
    check(qs, bs, FloatType, k = 3, "EUCLIDEAN", excludeSelf = false)
    check(qs, bs, FloatType, k = 3, "COSINE", excludeSelf = true)
  }

  test("a dimension mismatch throws the kernel's IllegalArgumentException") {
    val ex = intercept[Exception] {
      Knn.knn(frame(rows(Seq(Long.box(0L)), 3, seed = 8), FloatType),
        frame(rows(Seq(Long.box(1L)), 4, seed = 9), FloatType), k = 1).collect()
    }
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage == "vector dimension mismatch: 3 vs 4"), ex.toString)
  }

  test("an empty query side gives no rows and the (query_id, neighbor_id, rank, dist) schema") {
    val df = Knn.knn(frame(Nil, FloatType), frame(base, FloatType), k = 3)
    assert(df.collect().isEmpty)
    assert(df.schema.map(f => f.name -> f.dataType) == Seq("query_id" -> LongType,
      "neighbor_id" -> LongType, "rank" -> IntegerType, "dist" -> DoubleType))
  }
}
