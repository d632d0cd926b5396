package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextRank keyword salience (Mihalcea & Tarau 2004 — public literature):
  * PageRank over the token co-occurrence graph. A corpus-curation
  * instrument: high-rank tokens are the corpus's load-bearing vocabulary
  * (topic terms), and a rank profile that concentrates on boilerplate
  * tokens flags templated/scraped segments the quality filters should
  * see. This is a pure COMPOSITION — the co-occurrence builder feeds the
  * existing weighted [[PageRank]]; no new iteration machinery.
  *
  * Graph: tokens co-occurring within `window` positions (distance 1..w)
  * get an undirected edge weighted by the total co-occurrence count;
  * edges below `minCount` are dropped — the noise floor that also bounds
  * the graph (vocabulary-sized nodes, sparse natural-language edges) at
  * corpus scale. Self-pairs (repeated tokens) are excluded.
  *
  * Spark shape: pair extraction is one pass of codegen'd array
  * expressions (`transform(sequence(...))` — no UDFs, no posexplode
  * self-join), one groupBy(a, b) count, then PageRank's one-join-one-
  * shuffle rounds. The co-occurrence relation shuffles (token, token)
  * pairs only — never document text.
  */
object TextRank {

  /** Positional pairs at exact distance `d` within the token array. */
  private def pairsAt(ts: Column, d: Int): Column =
    when(size(ts) >= d + 1,
      transform(sequence(lit(0), size(ts) - 1 - d),
        i => struct(element_at(ts, i + 1).as("a"),
          element_at(ts, i + 1 + d).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Undirected co-occurrence edges (src, dst, w): token pairs within
    * `window` positions, both directions, count-weighted, self-pairs
    * dropped, edges under `minCount` dropped.
    */
  def cooccurrenceEdges(docs: DataFrame, textCol: String, window: Int,
      minCount: Long): DataFrame = {
    require(window >= 1, s"cooccurrenceEdges: window >= 1, got $window")
    require(minCount >= 1, s"cooccurrenceEdges: minCount >= 1, got $minCount")
    // materialize the token ARRAY first: element_at inside the transform
    // lambdas otherwise re-evaluates the split-tokenize expression per
    // element (no cross-lambda subexpression elimination) — O(len²)
    // re-tokenization per doc, measured 7.7 s -> ~1 s at sf0.1
    val base = Materialize.view(docs.select(graft.functions.TextFunctions.tokens(
        lower(coalesce(col(textCol), lit("")))).as("ts")))
    val ts = col("ts")
    val allPairs = (1 to window).map(d => pairsAt(ts, d))
      .reduce((x, y) => concat(x, y))
    val directed = base.select(explode(allPairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    // count CANONICAL pairs once, then mirror the aggregated relation:
    // w(a→b) = c(a,b) + c(b,a) = the canonical count, so this is exactly
    // the symmetrized weight while shuffling the raw pair stream ONCE
    // (union-before-count doubled it; measured on q313 at sf0.1)
    val canon = Materialize.view(directed
      .groupBy(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .agg(count(lit(1)).cast("double").as("w"))
      .filter(col("w") >= minCount)) // both mirror legs read it — one pass
    Materialize.free(base) // canon is materialized: the token arrays are dead
    canon.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionByName(canon.select(col("y").as("src"), col("x").as("dst"), col("w")))
  }

  /** Full (token, rank) salience vector: `iters` weighted PageRank rounds
    * over the co-occurrence graph. Deterministic to float-summation order.
    */
  def tokenRanks(docs: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L, iters: Int = 10): DataFrame = {
    val edges = cooccurrenceEdges(docs, textCol, window, minCount)
    val ranks = PageRank.pageRank(edges, iters, weightCol = Some("w"))
    Materialize.free(edges) // the ranks are a materialized leaf of their own
    ranks.select(col("id").as("token"), col("rank"))
  }

  /** Top-`topK` keywords by rank (bounded TakeOrdered, ties to token). */
  def keywords(docs: DataFrame, textCol: String, topK: Int,
      window: Int = 2, minCount: Long = 5L, iters: Int = 10): DataFrame =
    tokenRanks(docs, textCol, window, minCount, iters)
      .orderBy(col("rank").desc, col("token")).limit(topK)
}
