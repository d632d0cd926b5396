package graft.operators

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation over a similarity graph — the semi-supervised pass
  * that spreads a SMALL curated label set (human quality ratings,
  * spam/ham seeds) across the near-dup/similarity graph the dedup family
  * already builds, so unlabeled docs inherit scores from their graph
  * neighborhood (Zhu & Ghahramani 2002 / Zhou et al. 2004 — public
  * literature; the reference engine has no graph surface). Companion to
  * [[PageRank]] (authority from structure alone) — this propagates an
  * EXTERNAL signal, anchored at the seeds.
  *
  * Update rule (random-walk normalization, seeds re-injected each round):
  *   f'(v) = α · Σ_{u→v} w(u,v)·f(u)/Σ_out w(u) + (1−α) · y(v)
  * with y the seed label (0 for unlabeled) and w ≡ 1 without `weightCol`
  * (the uniform 1/deg walk, exactly — w ≡ 1.0 is exact float
  * arithmetic). α < 1 makes the iteration a contraction, so the fixed
  * point is unique and iteration order is irrelevant. Pass symmetrized
  * edges for the undirected similarity case ([[symmetrize]] /
  * [[symmetrizeWeighted]]). Weighted edges are exactly what the dedup
  * pair emitters produce (LSH Jaccard, embedding cosine ≥ threshold) —
  * the propagation then trusts strong similarities more than borderline
  * ones. Weights must be > 0 (zero-weight edges are dropped); duplicate
  * (src, dst) rows keep the MAX weight.
  *
  * Ids are type-agnostic (longs, strings/hosts, …): every step is
  * equality joins and aggregates, no arithmetic on ids — the same
  * discipline as [[PageRank]], so host-graph propagation works directly.
  *
  * Spark shape = the [[PageRank]] discipline: edges/degrees prepared once
  * ([[GraphLoop.prepare]]); per round one hash join + one partial-agg
  * shuffle of (dst, contrib) pairs; seeds joined back as a broadcast-size
  * relation; rounds run through [[GraphLoop.iterate]], whose stride and
  * freeing rules keep lineage O(1) (default `localCheckpoint`; set
  * `spark.graft.materialize.backend=reliable` and
  * `spark.graft.materialize.dir` for reliable-storage checkpointing on a
  * real cluster).
  * State per node is one double — 16 bytes/node cluster-wide.
  */
object LabelProp {

  /** Union of both edge directions, deduped — the undirected form.
    * Id-type-agnostic (no cast): long doc graphs and string host graphs
    * both symmetrize as-is.
    */
  def symmetrize(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Weight-carrying undirected form: both directions, duplicate
    * (src, dst) rows resolved to the MAX weight (a similarity graph's
    * weight is symmetric by construction; max is the safe merge when the
    * two directions disagree — it never drops an edge below either
    * observation). Output: (src, dst, w DOUBLE).
    */
  def symmetrizeWeighted(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "w"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(max(col("w")).as("w"))
  }

  /** `iters` rounds from f₀ = y. `seeds` is (id, label DOUBLE); nodes =
    * edge endpoints ∪ seed ids. An isolated seed (no in-edges) settles at
    * (1−α)·y from round 1 — anchored, not amplified. Output:
    * (id, score DOUBLE).
    */
  def propagate(edges: DataFrame, seeds: DataFrame, iters: Int,
      alpha: Double = 0.8, srcCol: String = "src", dstCol: String = "dst",
      idCol: String = "id", labelCol: String = "label",
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"propagate: iters must be >= 1, got $iters")
    require(alpha > 0 && alpha < 1, s"propagate: alpha in (0,1), got $alpha")
    Using.resource(GraphLoop.prepare(edges, srcCol, dstCol, weightCol,
        rounds = iters)) { g =>
      val y = seeds.select(col(idCol).as("id"), col(labelCol).cast("double").as("y"))
      val yFull = g.shared(Materialize.sizedByKey(g.ids.union(y.select("id")).distinct()
        .join(y, Seq("id"), "left")
        .select(col("id"), coalesce(col("y"), lit(0.0)).as("y")), "id"))
      // the score vector is read ONCE per round (the contribution join;
      // yFull is a separate materialized base)
      GraphLoop.iterate(g, yFull.select(col("id"), col("y").as("score")), iters, 1) { prev =>
        yFull.join(g.contributions(prev, "score"), col("id") === col("cid"), "left")
          .select(col("id"), (lit(alpha) * coalesce(col("contrib"), lit(0.0))
            + lit(1.0 - alpha) * col("y")).as("score"))
      }
    }
  }
}
