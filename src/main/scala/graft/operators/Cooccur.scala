package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set co-occurrence within a grouping key — the bipartite-projection /
  * co-visitation primitive (standard market-basket & recsys practice:
  * "users who touched A also touched B"). Distinct from the POSITIONAL
  * co-occurrence TextRank uses: here a group is a SET of items (a user's
  * items, a document's tokens, a session's pages) and every unordered
  * pair present in a group co-occurs once.
  *
  * Scoring per pair (a < b, plus the mirrored row when `symmetric`):
  *  - `cnt`      — #groups containing both,
  *  - `jaccard`  — cnt / (n_a + n_b − cnt),
  *  - `lift`     — cnt·G / (n_a·n_b) with G = #groups (independence = 1).
  *
  * Spark shape: one distinct (group, item) projection, a per-group
  * self-join producing ordered pairs (a < b) — the pair space is
  * Σ_g |g|²/2, bounded by `maxGroupSize` which DROPS oversized groups
  * loudly-countable via the returned card rather than letting one
  * mega-group (a crawler user, a stopword) quadratically dominate the
  * shuffle — then one count aggregate and two broadcast-joined item
  * totals. All counts are exact integers; jaccard/lift are one fixed
  * expression tree each.
  */
object Cooccur {

  /** Pair scores. `minCount` floors the pair relation BEFORE scoring;
    * groups larger than `maxGroupSize` are excluded entirely (the skew
    * guard — at corpus scale a handful of degenerate groups otherwise
    * carry almost all pairs).
    */
  def pairs(df: DataFrame, groupCol: String, itemCol: String,
      minCount: Long = 1L, maxGroupSize: Long = 10000L,
      symmetric: Boolean = false): DataFrame = {
    require(minCount >= 1 && maxGroupSize >= 2,
      s"pairs: need minCount >= 1 and maxGroupSize >= 2, got $minCount/$maxGroupSize")
    val gi = Materialize.view(df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .filter(col("item").isNotNull).distinct())
    val sized = gi.groupBy("g").agg(count(lit(1)).as("gsz"))
      .filter(col("gsz") <= maxGroupSize)
    val kept = Materialize.view(gi.join(sized.select("g"), "g"))
    val nGroups = sized.count() // the group universe the pairs come from
    Materialize.free(gi) // the pairs read only `kept`
    val totals = kept.groupBy(col("item")).agg(count(lit(1)).as("n"))

    val a = kept.select(col("g"), col("item").as("a"))
    val b = kept.select(col("g").as("g2"), col("item").as("b"))
    val raw = a.join(b, col("g") === col("g2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    // item totals join: vocabulary-sized — leave the broadcast decision
    // to AQE (small vocabularies broadcast, web-scale ones shuffle)
    val scored = raw
      .join(totals.select(col("item").as("a"), col("n").as("na")), "a")
      .join(totals.select(col("item").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), col("cnt"),
        (col("cnt").cast("double") / (col("na") + col("nb") - col("cnt"))).as("jaccard"),
        (col("cnt").cast("double") * nGroups / (col("na") * col("nb"))).as("lift"))
    if (symmetric)
      scored.unionByName(scored.select(col("b").as("a"), col("a").as("b"),
        col("cnt"), col("jaccard"), col("lift")))
    else scored
  }

  /** Top-k co-occurring neighbors per item by (cnt desc, neighbor asc) —
    * the serving form of an item-to-item recommender. Partitioned
    * window; never a global sort.
    */
  def topNeighbors(pairScores: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topNeighbors: k >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("cnt").desc, col("b"))
    pairScores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
