package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Matryoshka (nested-prefix) embedding evaluation (Kusupati et al. 2022
  * — public literature): measure how much retrieval quality survives when
  * vectors are truncated to their first d dimensions. MRL-trained models
  * put the information head-first, so serving can cut index size 4–16×;
  * this card tells a pipeline WHICH prefix is safe for its corpus by
  * sweeping recall@k of truncated-vector exact search against the
  * full-dimension ground truth.
  *
  * Spark shape: truncation is `slice` on the array column (codegen'd, no
  * UDF); each sweep point is the repo's exact KNN (broadcast + bounded
  * heap — never a global sort) plus the left-semi recall join. The
  * full-dim truth is computed ONCE and materialized across sweep
  * points. Cost scales linearly in |dims| — at corpus scale run the
  * sweep on a query SAMPLE, which is the standard methodology.
  */
object Matryoshka {

  /** Recall@k per prefix dimension: (dims, avg_recall) for each d in
    * `dims`, measured over `queries` against `base` (self-matches
    * excluded by the caller's id spaces, as in [[Knn.knn]]).
    */
  def recallCurve(queries: DataFrame, base: DataFrame, dims: Seq[Int],
      k: Int, metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "recallCurve: need at least one dim")
    val spark = queries.sparkSession
    import spark.implicits._

    // slice() clamps past the end of the array, so a dims value larger
    // than the vector dimension would silently sweep the FULL vector and
    // report recall 1.0 for a prefix that does not exist — probe the
    // actual dimension once and fail loudly instead. An EMPTY query frame
    // has no dimension to check (and no recall to measure): return the
    // empty curve rather than throwing from head()
    val fullDimOpt = queries.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0))
    if (fullDimOpt.isEmpty)
      return Seq.empty[(Int, Double)].toDF("dims", "avg_recall")
    val fullDim = fullDimOpt.get
    require(dims.forall(d => d >= 1 && d <= fullDim),
      s"recallCurve: dims must be within [1, $fullDim] (the vector " +
        s"dimension) — got ${dims.filterNot(d => d >= 1 && d <= fullDim).mkString(", ")}")

    val truth = Materialize.view(Knn.knn(queries, base, k, metric, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id")))

    // sweep points are independent given the materialized truth — submit
    // all of them concurrently (the SCC coloring trick; measured ~2x on
    // the 4-point q318 sweep at local[32])
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val futures = dims.map { d =>
      Future {
        val qd = queries.withColumn(vecCol, slice(col(vecCol), 1, d))
        val bd = base.withColumn(vecCol, slice(col(vecCol), 1, d))
        val pred = Knn.knn(qd, bd, k, metric, idCol, vecCol)
        (d, Knn.avgRecall(pred, truth, k).head().getDouble(0))
      }
    }
    val rows = futures.map(Await.result(_, Duration.Inf))
    Materialize.free(truth)
    rows.toDF("dims", "avg_recall")
  }
}
