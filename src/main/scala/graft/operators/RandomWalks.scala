package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random walks + skip-gram pair extraction — the
  * DeepWalk/node2vec data-generation pass (Perozzi et al. 2014, Grover &
  * Leskovec 2016 — public literature): turn a graph (the link graph, or
  * the similarity graphs the dedup family emits) into (center, context)
  * training pairs for embedding models. This is a TRAINING-DATA operator:
  * the output is the corpus a skip-gram trainer consumes.
  *
  * Determinism (the repo-wide reproducibility discipline, same reasoning
  * as `Sampling.hash60`): the "random" neighbor choice is a pure function
  * of (walk seed, walk id, step) — a Lehmer-style congruential mix
  *   c = ((walk_id mod M)·48271 + step·B + seed·C) mod M,  idx = c mod deg
  * with M = 2³¹−1 — so walks re-run bit-identically on any cluster
  * layout, the property that makes the emitted corpus auditable and the
  * query oracle-able (the oracle replays the same integer arithmetic).
  * All operands stay < 2⁶³ (M·48271 ≈ 1.0e14), so the arithmetic is
  * exact in both engines.
  *
  * Spark shape:
  *  - [[rankedAdjacency]] is ONE window pass partitioned by src (pos =
  *    dense per-src rank of dst, deg = per-src count) — computed once,
  *    cached, reused by every step;
  *  - each step is one hash join of the frontier (walk_id, node, step —
  *    24 bytes/walk) against the ranked adjacency on (src, pos): the
  *    frontier never grows past one row per live walk, and the adjacency
  *    never re-shuffles (same join keys every round);
  *  - walks that reach a sink (no out-edges) terminate — the inner join
  *    drops them, matching the DeepWalk truncation semantics;
  *  - frames materialize per step ([[Materialize]]) to keep lineage O(1)
  *    in walk length.
  *
  * Ids must be integral (the choice mix is arithmetic on walk_id); hash
  * string ids to longs first (`xxhash64`) for host/url graphs.
  */
object RandomWalks {

  private val M = 2147483647L // 2^31 - 1
  private val A = 48271L      // Lehmer multiplier (Park–Miller)
  private val B = 1013904223L // step mix (Numerical Recipes increment)
  private val C = 69069L      // seed mix

  /** Per-source neighbor table: (src, pos, dst, deg) with pos = rank of
    * dst (ascending) within src, 0-based, and deg = out-degree. One
    * shuffle; the per-src window partitioning is the scale-safe kind.
    */
  def rankedAdjacency(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
  }

  /** The deterministic neighbor index for (walkId, step, seed) over `deg`
    * out-edges. Exposed for the spec; the SQL twin is the same tree.
    */
  private def choiceIdx(walkId: org.apache.spark.sql.Column, step: Int,
      seed: Long): org.apache.spark.sql.Column =
    pmod(pmod(walkId, lit(M)) * A + lit(step.toLong) * B + lit(seed) * C, lit(M))

  /** Truncated walks of `length` steps from every id in `starts(idCol)`:
    * output (walk_id, step, node) with step 0..length (shorter when a
    * sink truncates). walk_id = the start id.
    */
  def walks(edges: DataFrame, starts: DataFrame, length: Int,
      idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
      seed: Long = 0L): DataFrame = {
    require(length >= 1, s"walks: length must be >= 1, got $length")
    require(seed >= 0 && seed < M,
      s"walks: seed must be in [0, $M) so the mix stays exact, got $seed")
    val mat = Materialize.policy(edges.sparkSession)
    val adj = Materialize.view(rankedAdjacency(edges, srcCol, dstCol))

    var cur = mat(starts.select(col(idCol).cast("long").as("walk_id"))
      .distinct()
      .select(col("walk_id"), col("walk_id").as("node"), lit(0).as("step")))
    var acc = cur
    for (t <- 1 to length) {
      cur = mat(cur.join(adj, col("node") === col("src") &&
          col("pos") === pmod(choiceIdx(col("walk_id"), t, seed), col("deg")))
        .select(col("walk_id"), col("dst").as("node"), lit(t).as("step")))
      acc = acc.unionByName(cur)
    }
    Materialize.free(adj) // the walks read only the materialized steps
    acc
  }

  /** Skip-gram (center, context) pairs within `window` steps on the same
    * walk — both directions, center ≠ context position. Output:
    * (walk_id, step, center, context) where step is the CENTER's step.
    * Per-walk join on walk_id: the pair space is (L+1)·2w rows per walk,
    * never the global cross product.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"skipGramPairs: window must be >= 1, got $window")
    val a = walks.select(col("walk_id"), col("step"), col("node").as("center"))
    val b = walks.select(col("walk_id").as("wid2"), col("step").as("step2"),
      col("node").as("context"))
    a.join(b, col("walk_id") === col("wid2") &&
        col("step2") =!= col("step") &&
        abs(col("step2") - col("step")) <= window)
      .select(col("walk_id"), col("step"), col("center"), col("context"))
  }
}
