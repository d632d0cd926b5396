package graft.operators

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Katz centrality (Katz 1953 — public literature): c(v) = Σ_k α^k ·
  * (#walks of length k ending at v), computed by the truncated iteration
  * c_t(v) = 1 + α Σ_{u→v} c_{t−1}(u). Unlike PageRank there is no
  * per-step normalization — influence attenuates by α per hop — so Katz
  * rewards being reachable by MANY short walks, the signal that
  * separates link-farm amplification (huge walk counts) from organic
  * in-links; requires α < 1/λ_max to converge (α·deg ≪ 1 in practice).
  *
  * Same per-round Spark shape as [[PageRank]]: one (ranks ⋈ edges) hash
  * join + one (dst, contrib) partial-agg shuffle, a left join back onto
  * the prepared node frame, rounds through [[GraphLoop.iterate]]; state
  * is 16 bytes/node. Truncation at `iters` leaves a geometric tail
  * ≤ (αλ)^iters — callers pick iters for the decimals they read.
  */
object Katz {

  def katz(edges: DataFrame, iters: Int, alpha: Double = 0.2,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"katz: iters must be >= 1, got $iters")
    require(alpha > 0 && alpha < 1, s"katz: alpha in (0,1), got $alpha")
    Using.resource(GraphLoop.prepare(edges, srcCol, dstCol, dropLoops = true,
        rounds = iters)) { g =>
      // the state is read ONCE per round
      GraphLoop.iterate(g, g.nodes.select(col("id"), lit(1.0).as("katz")), iters, 1) { prev =>
        val contribs = prev.join(g.e, col("id") === col("src"))
          .groupBy(col("dst").as("cid"))
          .agg(sum(col("katz")).as("contrib"))
        g.nodes.join(contribs, col("id") === col("cid"), "left")
          .select(col("id"),
            (lit(1.0) + lit(alpha) * coalesce(col("contrib"), lit(0.0))).as("katz"))
      }
    }
  }
}
