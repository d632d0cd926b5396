package graft.operators

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-core extraction over an undirected edge list — the dense-community
  * instrument next to [[Triangles]]: the k-core is the maximal subgraph
  * where every node keeps degree ≥ k after everyone below is removed
  * (Seidman 1983 — public literature). On a near-dup graph the 3-core is
  * the "everything here really is mutually similar" region, where
  * transitive keep-one is safe; the 1-core minus 2-core is the chain
  * tail where it is not ([[Triangles]] measures the same risk by local
  * density; this measures it by peeling).
  *
  * Spark shape — iterative peeling with bounded rounds: each round
  * recomputes degrees over the surviving edge set (one partial-agg
  * shuffle) and drops nodes under k (one broadcast-friendly semi-join:
  * the dropped set is usually tiny). Rounds run through
  * [[GraphLoop.until]] with the survivor count as the witness — the
  * survivor relation is referenced twice (degree pass + edge filter), so
  * every round materializes; set `spark.graft.materialize.backend=reliable`
  * (and `spark.graft.materialize.dir`) for reliable-storage checkpointing
  * on a real cluster. Rounds are data-dependent but ≤ the peel depth, which on
  * power-law graphs is tiny (a planted fixture converges in ≤ 3; the
  * operator fails loudly at `maxRounds` instead of silently returning a
  * non-core — the [[Dedup.connectedComponents]] discipline).
  *
  * Cores are NESTED (k-core ⊆ (k−1)-core), so the multi-k instruments
  * peel INCREMENTALLY: each threshold starts from the previous core's
  * surviving edges, never from the original edge set — at a realistic
  * coreness sweep that saves ~|ks|× the shuffles on the biggest
  * relation. [[coreness]] is the one-pass form: peel at k = 1, 2, 3, …
  * on the shrinking survivor set and record each node's removal
  * threshold — the full core decomposition in Σ peel-depth rounds.
  *
  * Ids are type-agnostic (longs, strings/hosts): every step is equality
  * joins and counts — host-graph cores work directly.
  */
object KCore {

  /** The symmetrized, self-loop-free edge leaf — (src, dst), or with
    * `weightCol` (src, dst, w) with max-merged weights > 0 (the
    * [[LabelProp.symmetrizeWeighted]] merge).
    */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], maxRounds: Int) = {
    val w = weightCol.map(c => col(c).as("w")).toSeq
    val fwd = edges.select(Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++ w: _*)
    GraphLoop.prepare(fwd.unionByName(fwd.select(Seq(col("dst").as("src"),
        col("src").as("dst")) ++ weightCol.map(_ => col("w")): _*)),
      "src", "dst", weightCol.map(_ => "w"), dropLoops = true,
      rounds = maxRounds)
  }

  /** One peel from the materialized edge leaf `start`: drop every node
    * whose `degree` aggregate (over its surviving edges) is under
    * `threshold`, with its edges, until no edge drops. Returns (surviving
    * edges, their count, rounds used, converged); convergence enforcement
    * is the caller's (a sweep shares one budget). `startCount` (>= 0) is
    * the caller's already-known edge count of `start` — it saves the entry
    * count job on incremental sweeps. The survivor count is the
    * [[GraphLoop.until]] witness: it computes and persists each round's
    * frame, and the previous round's count is remembered.
    */
  private def peel(g: GraphLoop.Graph, start: DataFrame, degree: Column,
      threshold: Any, maxRounds: Int,
      startCount: Long = -1L): (DataFrame, Long, Int, Boolean) = {
    val count = new GraphLoop.Unchanged[Long](_.count(), Some(startCount).filter(_ >= 0))
    val (core, rounds, converged) = GraphLoop.until(start, maxRounds, g.matLazy) { cur =>
      val keep = cur.groupBy(col("src").as("id")).agg(degree.as("deg"))
        .filter(col("deg") >= threshold).select("id")
      cur.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(cur.columns.map(col).toSeq: _*)
    }(count)
    (core, count.last, rounds, converged)
  }

  private val edgeCount = count(lit(1))

  /** Surviving (src, dst) edges of the k-core (symmetrized, both
    * directions present). Returns an empty frame when nothing survives.
    */
  def kCoreEdges(edges: DataFrame, k: Int, maxRounds: Int = 50,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"kCoreEdges: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kCoreEdges: maxRounds must be >= 1, got $maxRounds")
    Using.resource(undirected(edges, srcCol, dstCol, None, maxRounds)) { g =>
      val (core, _, rounds, converged) = peel(g, g.e, edgeCount, k, maxRounds)
      require(converged,
        s"kCoreEdges: no fixpoint after $rounds rounds (maxRounds=$maxRounds) — raise maxRounds")
      core
    }
  }

  /** Per-node core membership card at the given k values: (id, max_core)
    * where max_core is the LARGEST of `ks` whose core contains the node
    * (0 if none). `ks` must be ascending; each peel starts from the
    * PREVIOUS core's surviving edges (nesting), so the sweep costs one
    * full peel plus |ks|−1 incremental ones.
    */
  def coreMembership(edges: DataFrame, ks: Seq[Int], maxRounds: Int = 50,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks,
      s"coreMembership: ks must be ascending and distinct: $ks")
    Using.resource(undirected(edges, srcCol, dstCol, None, maxRounds)) { g =>
      var cur = g.e
      var curCount = -1L
      g.result(ks.foldLeft(g.e.select(col("src").as("id")).distinct()
          .select(col("id"), lit(0).as("max_core"))) { (acc, k) =>
        val (core, coreCount, rounds, converged) =
          peel(g, cur, edgeCount, k, maxRounds, curCount)
        require(converged,
          s"coreMembership: k=$k no fixpoint after $rounds rounds — raise maxRounds")
        cur = core
        curCount = coreCount
        val members = core.select(col("src").as("id")).distinct()
        acc.join(members.withColumn("in_core", lit(1)), Seq("id"), "left")
          .select(col("id"),
            when(col("in_core").isNotNull, lit(k)).otherwise(col("max_core"))
              .as("max_core"))
      })
    }
  }

  /** Weighted (strength) core — the s-core generalization (Eidsaa &
    * Almaas 2013 — public literature): peel nodes whose incident weight
    * SUM falls under `s` until stable. On a similarity graph this keeps
    * the region that is strongly mutually similar in AGGREGATE — two
    * borderline edges don't substitute for one strong one the way the
    * unweighted 2-core pretends. Edges symmetrize with max-merged weights
    * ([[LabelProp.symmetrizeWeighted]]); weights must be > 0. Same peel
    * as [[kCoreEdges]] with the weight sum as the degree. Output:
    * surviving (src, dst, w), both directions.
    */
  def sCoreEdges(edges: DataFrame, s: Double, maxRounds: Int = 50,
      srcCol: String = "src", dstCol: String = "dst", weightCol: String = "w"): DataFrame = {
    require(s > 0, s"sCoreEdges: s must be > 0, got $s")
    require(maxRounds >= 1, s"sCoreEdges: maxRounds must be >= 1, got $maxRounds")
    Using.resource(undirected(edges, srcCol, dstCol, Some(weightCol), maxRounds)) { g =>
      val (core, _, rounds, converged) = peel(g, g.e, sum(col("w")), s, maxRounds)
      require(converged,
        s"sCoreEdges: no fixpoint after $rounds rounds (maxRounds=$maxRounds) — raise maxRounds")
      core
    }
  }

  /** Full core decomposition in ONE incremental sweep: (id, coreness INT)
    * for every node with at least one edge, coreness(v) = max{k : v is in
    * the k-core}. Peels at k = 1, 2, 3, … over the SHRINKING survivor
    * set; a node removed while peeling at threshold k survived the
    * (k−1)-peel, so its coreness is exactly k−1. Terminates when the
    * survivor set empties (the max coreness is reached); total rounds =
    * Σ_k peel-depth(k), budgeted by `maxRounds` ACROSS the sweep —
    * failing loudly on exhaustion rather than returning a partial
    * decomposition.
    */
  def coreness(edges: DataFrame, maxRounds: Int = 200,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxRounds >= 1, s"coreness: maxRounds must be >= 1, got $maxRounds")
    Using.resource(undirected(edges, srcCol, dstCol, None, maxRounds)) { g =>
      var cur = g.e
      // materialized so the later free(result) only ever touches the result
      // frame's own blocks, never a leaf shared with the live edge frame
      var result = g.mat(cur.select(col("src").as("id")).distinct()
        .select(col("id"), lit(0).as("coreness")))
      var budget = maxRounds
      var k = 1
      var n = cur.count()
      while (n > 0) {
        val (core, coreCount, rounds, converged) = peel(g, cur, edgeCount, k, budget, n)
        require(converged,
          s"coreness: k=$k exhausted the $maxRounds-round budget — raise maxRounds")
        budget -= math.max(rounds - 1, 0) // converged peels spend rounds-1 removing
        val survivors = core.select(col("src").as("id")).distinct()
        // survivors of the k-peel have coreness >= k; the k-peel's victims
        // keep their previous value (k-1 or earlier thresholds)
        val newResult = g.mat(result.join(survivors.withColumn("in_core", lit(1)), Seq("id"), "left")
          .select(col("id"),
            when(col("in_core").isNotNull, lit(k)).otherwise(col("coreness"))
              .as("coreness")))
        // once newResult is materialized the old result and the peel's start
        // edge frame are dead
        Materialize.free(result)
        Materialize.free(cur)
        result = newResult
        cur = core
        n = coreCount // peel already counted the survivors (witness fusion)
        k += 1
      }
      Materialize.free(cur)
      result
    }
  }
}
