package graft.operators

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-radius neighborhood analysis over a directed edge list: exact
  * distance shells, the neighborhood function N(v, r), harmonic
  * centrality, and the HyperBall sketch path (Boldi & Vigna 2013 —
  * public literature) for graphs where the exact pair relation is too
  * large. These are the graph-health instruments a link-corpus curation
  * pass reads: ball growth curves separate hub-connected cores from
  * peripheral chains, and harmonic centrality is the standard
  * distance-based importance measure that — unlike closeness — handles
  * unreachable pairs gracefully (they contribute 0, not ∞).
  *
  * Exact path ([[boundedDistances]]): level-synchronous BFS. Round d
  * joins the frontier (id, other) with the edge list and anti-joins the
  * known set — one hash join + one anti-join shuffle per round, frames
  * carry (id, other) pairs only. The pair relation is Σ_v |B_R(v)| rows:
  * right for moderate R or a seed sample; at full-graph scale use
  * [[hyperBall]], whose state is one fixed-size HLL sketch per node
  * (Spark's Datasketches `hll_sketch_agg`/`hll_union_agg` — codegen'd
  * aggregates, no UDFs) and whose per-round cost is ONE (dst-grouped)
  * sketch-union shuffle, the same shape as a PageRank round.
  *
  * Both paths prepare their edges once ([[GraphLoop.prepare]]) and
  * materialize per round: the exact path materializes each round's SHELL
  * once and keeps the visited set as a lazy union over those materialized
  * shells (the anti-join re-reads cached blocks; no per-round copy of the
  * whole set), the sketch path materializes its state frame —
  * PageRank.scala's 2^T lineage guard. Both ACCUMULATE their rounds into
  * the output, so they keep every round's frame; the Bellman–Ford path
  * replaces its state and runs through [[GraphLoop.iterate]].
  *
  * Distances follow OUT-edges: d(v, u) = length of the shortest directed
  * path v → u. For undirected semantics pass symmetrized edges
  * ([[LabelProp.symmetrize]]).
  */
object Neighborhoods {

  /** Exact (id, other, dist) pairs for 1 ≤ dist ≤ radius. Deterministic
    * (set semantics; no floats). Self-pairs (dist 0) are excluded.
    */
  def boundedDistances(edges: DataFrame, radius: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(radius >= 1, s"boundedDistances: radius >= 1, got $radius")
    Using.resource(GraphLoop.prepare(edges, srcCol, dstCol, dropLoops = true,
        rounds = radius)) { g =>
      // `known` is a LAZY union of the already-materialized shells: every
      // leg is a LogicalRDD, so the anti-join re-reads cached blocks and
      // the per-round "copy the whole visited set into a fresh
      // materialization" job (O(Σ shells) per round — quadratic in total
      // across rounds) is gone. Same BFS set semantics, one materialization
      // per round instead of two.
      var known = g.shared(g.ids.distinct().select(col("id"), col("id").as("other")))
      var frontier = known
      var acc: DataFrame = null
      for (d <- 1 to radius) {
        val next = g.mat(frontier.join(g.e, col("other") === col("src"))
          .select(col("id"), col("dst").as("other")).distinct()
          .join(known, Seq("id", "other"), "left_anti"))
        val shell = next.withColumn("dist", lit(d))
        acc = if (acc == null) shell else acc.unionByName(shell)
        known = known.unionByName(next)
        frontier = next
      }
      g.result(acc)
    }
  }

  /** Ball shell sizes per node: (id, dist, cnt) = |{u : d(id,u) = dist}|
    * for 1..radius, plus the cumulative ball size |B_dist(id)| — the
    * exact HyperBall neighborhood function. Nodes whose shell is empty at
    * some dist simply have no row there (cnt 0).
    */
  def neighborhoodFunction(edges: DataFrame, radius: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val shells = boundedDistances(edges, radius, srcCol, dstCol)
      .groupBy(col("id"), col("dist")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("dist")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    shells.withColumn("ball", sum(col("cnt")).over(w))
  }

  /** Harmonic centrality within `radius`:
    * H(v) = Σ_{u ≠ v, d(v,u) ≤ radius} 1 / d(v,u). One fixed expression
    * per pair — deterministic to float summation order.
    */
  def harmonicCentrality(edges: DataFrame, radius: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    boundedDistances(edges, radius, srcCol, dstCol)
      .groupBy(col("id"))
      .agg(sum(lit(1.0) / col("dist")).as("harmonic"))

  /** Bounded-hop weighted shortest paths from a seed set (Bellman–Ford
    * relaxation rounds): dist(v) = min cost of a directed path of at most
    * `rounds` edges from any seed. Weights must be ≥ 0. Each round is one
    * hash join + one (id, min dist) partial-agg shuffle — the frame
    * carries only REACHED nodes (16 bytes each) and is materialized per
    * round. Integer-valued weights make the result exact; the oracle
    * unrolls the same relaxation. Output: (id, dist) with dist = 0.0 on
    * seeds.
    */
  def boundedWeightedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int,
      srcCol: String = "src", dstCol: String = "dst", weightCol: String = "w",
      seedIdCol: String = "id"): DataFrame = {
    require(rounds >= 1, s"boundedWeightedDistances: rounds >= 1, got $rounds")
    Using.resource(GraphLoop.prepare(edges, srcCol, dstCol, Some(weightCol),
        dropLoops = true, costs = true, rounds = rounds)) { g =>
      // the distance frame is read twice per round (relaxation + union)
      GraphLoop.iterate(g, seeds.select(col(seedIdCol).as("id")).distinct()
          .select(col("id"), lit(0.0).as("dist")), rounds, 2) { d =>
        val relax = d.join(g.e, col("id") === col("src"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
        d.unionByName(relax).groupBy("id").agg(min(col("dist")).as("dist"))
      }
    }
  }

  /** HyperBall: approximate ball sizes via per-node HLL sketches.
    * State is (id, sketch) — one fixed-size binary per node regardless of
    * ball size. Round r unions each node's sketch with its out-neighbors'
    * sketches (one join + one `hll_union_agg` shuffle) and emits the
    * estimated |B_r(v)| (the estimate INCLUDES the node itself, matching
    * N(v,r) = |{u : d ≤ r}| with d = 0 allowed). Output: (id, dist, est).
    * Estimates carry standard HLL error (~1.6% at lgK 12); the exact twin
    * above is the spec's ground truth.
    */
  def hyperBall(edges: DataFrame, radius: Int,
      srcCol: String = "src", dstCol: String = "dst", lgK: Int = 12): DataFrame = {
    require(radius >= 1, s"hyperBall: radius >= 1, got $radius")
    Using.resource(GraphLoop.prepare(edges, srcCol, dstCol, dropLoops = true,
        rounds = radius)) { g =>
      // every round's state is read by the output (its estimate column),
      // so only the initial sketches are the loop's to free
      var state = g.shared(g.ids.distinct().groupBy(col("id"))
        .agg(hll_sketch_agg(col("id"), lit(lgK)).as("sk")))
      var acc: DataFrame = null
      for (d <- 1 to radius) {
        // gather out-neighbor sketches onto src, union with own sketch
        val gathered = state.join(g.e, col("id") === col("dst"))
          .groupBy(col("src").as("gid"))
          .agg(hll_union_agg(col("sk")).as("nsk"))
        state = g.mat(state.join(gathered, col("id") === col("gid"), "left")
          .select(col("id"),
            when(col("nsk").isNull, col("sk"))
              .otherwise(hll_union(col("sk"), col("nsk"))).as("sk")))
        val est = state.select(col("id"), lit(d).as("dist"),
          hll_sketch_estimate(col("sk")).as("est"))
        acc = if (acc == null) est else acc.unionByName(est)
      }
      g.result(acc)
    }
  }
}
