package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
  * standard hybrid-retrieval combiner: given per-query rankings from
  * heterogeneous retrievers (lexical BM25, dense cosine, quantized
  * Hamming, …), score every candidate Σ 1/(c + rank) over the lists it
  * appears in and re-rank. Rank-based, so no score calibration across
  * retrievers is needed — the reason RRF is the default fusion in hybrid
  * search.
  *
  * Scale shape: a union of the ranking relations + ONE (query, id)-keyed
  * aggregate + the bounded top-k heap ([[graft.functions.TopKPairs]]) —
  * no window, no per-query collect. Engine-neutral: scores round to 6
  * before the final (score desc, id asc) ranking, so an oracle replays
  * the fusion exactly.
  */
object Fusion {

  /** Fuse rankings (each `(query_id, neighbor_id, rank)`) into a top-k:
    * `(query_id, neighbor_id, rank, rrf_score)`.
    */
  def rrf(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(k > 0 && c >= 0, s"rrf: k=$k must be > 0, c=$c must be >= 0")
    val union = rankings
      .map(_.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), col("rank").cast("long"))
        .na.drop()                 // a rankless / keyless row can't score
        .filter(col("rank") >= 1)  // ranks are 1-based by contract
        // a malformed list repeating a candidate contributes its BEST
        // rank once, not a double-counted score
        .groupBy("query_id", "neighbor_id").agg(min("rank").as("rank")))
      .reduce(_ unionAll _)
    val scored = union
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(lit(1.0) / (lit(c) + col("rank"))), 6).as("rrf_score"))
    Knn.topK(scored, -col("rrf_score"), col("neighbor_id"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("dist")).as("rrf_score"))
  }
}
