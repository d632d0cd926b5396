package graft.operators

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a directed graph — the directed twin
  * of `Dedup.connectedComponents`, and the decomposition a link-corpus
  * pass runs on its URL/host graph (the web's bow-tie structure IS an
  * SCC analysis; crawl-frontier and spam-farm heuristics read it).
  *
  * Algorithm: iterative trim + forward/backward min-label coloring (the
  * label-propagation family of parallel SCC algorithms — Slota et al.
  * 2014's MultiStep, Blelloch et al. — public literature; no Tarjan
  * stack, which does not distribute):
  *
  *  - TRIM: a node with no in-edges or no out-edges in the remaining
  *    graph is a singleton SCC — assign and remove. This is what makes
  *    the method practical on web-shaped graphs (the vast DAG periphery
  *    peels off without any fixpoint work).
  *  - COLOR: f(v) = min id that can reach v (min-label fixpoint along
  *    edges), g(v) = min id v can reach (same along reversed edges).
  *    f(v) = g(v) = m proves v ∈ SCC(m) (m reaches v and v reaches m);
  *    in particular the SCC of the globally minimal remaining id is
  *    always assigned, so every wave strictly shrinks the graph.
  *  - PEEL: remove assigned nodes, repeat.
  *
  * Wave count is bounded by the condensation's peel depth — O(1) for
  * bow-tie-shaped graphs after trimming, linear only for an adversarial
  * chain of non-trivial SCCs (maxWaves guards loudly, the repo's
  * non-convergence discipline).
  *
  * Spark shape: every step is equality joins + min aggregates on
  * (id, label) pairs — 16 bytes/node state, edges never carry payload.
  * The min-label fixpoint is convergence-stopped via a 1-row aggregate
  * of sum(label): labels are monotone non-increasing, so the sum is
  * strictly decreasing exactly until the fixpoint (summed as
  * decimal(38,0) — exact, overflow-proof at any node count). The
  * fixpoints run through [[GraphLoop.until]] (witness fusion and
  * freeing rules there); the trim and wave loops accumulate their
  * assignments and free their own superseded frames.
  *
  * Ids must be numeric (labels are compared with min); hash or
  * rank-index string ids first. Self-loops are ignored (they never
  * change SCC membership). Output: (id, scc) with scc = the component's
  * minimal id; isolated ids never appear (union them in as their own
  * scc, as with PageRank's node conventions).
  */
object Scc {

  /** Exact label sum — the monotone convergence witness. */
  private def labelSum(lab: DataFrame): BigDecimal =
    BigDecimal(lab.agg(sum(col("lab").cast("decimal(38,0)")).as("s")).head().getDecimal(0))

  /** Min-label fixpoint over `e(from, to)`: lab(v) = min id with a
    * directed path to v (including v). Each round combines the one-hop
    * edge propagation with POINTER JUMPING — adopting lab(lab(v)), valid
    * because lab(v) reaches v and lab(lab(v)) reaches lab(v), so by
    * transitivity lab(lab(v)) reaches v. When ids decrease along the
    * propagation path (lab(v) keeps pointing at a strictly farther
    * reacher), the jump composes covered reach and convergence is
    * O(log diameter) — SccSpec pins a 300-SCC chain at ≲12 rounds where
    * one-hop needs ~599. When ids ASCEND along the path, lab(v) stays v
    * until the frontier arrives and the jump has nothing to compose:
    * the worst case remains O(diameter), the bound every label-
    * propagation SCC in the literature shares (directed reachability
    * has no cheap doubling — squaring the edge relation explodes it).
    * Labels stay monotone non-increasing and bounded below by the true
    * min, and a round with no change is still exactly the fixpoint (if
    * some node had a smaller reacher, the one-hop term would fire
    * somewhere along its path), so the sum witness is unchanged.
    * `maxInner` guards the worst case loudly.
    */
  private def minLabelFixpoint(g: GraphLoop.Graph, e: DataFrame, nodes: DataFrame,
      maxInner: Int): DataFrame = {
    val (lab, _, converged) = GraphLoop.until(nodes.select(col("id"), col("id").as("lab")),
        maxInner, g.matLazy) { lab =>
      // ONE join per round: the pointer-jump term lab(lab(v)) is exactly
      // a min-label propagation over the LABEL EDGES (lab(v) → v) — lab
      // reaches v, so whatever reaches lab reaches v — so e ∪ labEdges
      // feeds a single propagation join instead of the old prop join +
      // jump self-join. Every v receives at least its own labEdge
      // contribution (the self-join-always-matches property), so the
      // least(...) below sees exactly the old three-way minimum:
      // min(lab(v), min_{u→v} lab(u), lab(lab(v))) — identical labels,
      // identical round count, identical convergence witness.
      val labEdges = lab.select(col("lab").as("from"), col("id").as("to"))
      val prop = lab.join(e.unionByName(labEdges), col("id") === col("from"))
        .groupBy(col("to").as("pid"))
        .agg(min(col("lab")).as("cand"))
      lab.join(prop, col("id") === col("pid"), "left")
        .select(col("id"), least(col("lab"), coalesce(col("cand"), col("lab"))).as("lab"))
    }(new GraphLoop.Unchanged(labelSum))
    require(converged,
      s"Scc: min-label fixpoint did not converge in $maxInner rounds — " +
        "graph diameter exceeds the bound; raise maxInner")
    lab
  }

  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
      maxInner: Int) =
    GraphLoop.prepare(edges, srcCol, dstCol, dropLoops = true,
      rounds = maxInner)

  /** SCC assignment (id, scc). */
  def scc(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxWaves: Int = 50, maxInner: Int = 200): DataFrame =
    Using.resource(prepare(edges, srcCol, dstCol, maxInner))(
      g => g.result(assign(g, maxWaves, maxInner)))

  /** The trim/color/peel waves over a prepared graph; the graph's own
    * edge and node frames stay the graph's (freed on its `close`).
    */
  private def assign(g: GraphLoop.Graph, maxWaves: Int, maxInner: Int): DataFrame = {
    val (mat, matLazy) = (g.mat, g.matLazy)
    var rem = g.e
    var nodes = g.nodes
    // empty start (all edges were self-loops / input empty) returns the
    // empty assignment with the right schema instead of null. Seeded from
    // an explicitly EMPTY frame, not limit(0) over `nodes`: the nodes
    // frame's executor blocks are freed per wave, and a limit(0) leaf
    // only stays evaluable because OptimizeLimitZero prunes it — with
    // that rule excluded the returned frame would chase freed blocks
    var result: DataFrame = {
      val idT = nodes.schema("id").dataType
      val spark = g.e.sparkSession
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idT),
          org.apache.spark.sql.types.StructField("scc", idT))))
    }
    var remaining = nodes.count()
    var wave = 0

    def accumulate(a: DataFrame): Unit =
      result = result.unionByName(a)
    def release(df: DataFrame): Unit = if (!(df eq g.e) && !(df eq g.nodes)) Materialize.free(df)

    while (remaining > 0 && wave < maxWaves) {
      wave += 1
      // TRIM to fixpoint: no out-edges or no in-edges → singleton SCC.
      // Iterated so DAG chains/tails peel completely before any coloring
      // (each removal can expose the next layer); bounded by maxInner.
      var live = nodes
      var liveE = rem
      var liveN = remaining
      var trimmed = true
      var trimIt = 0
      while (trimmed && trimIt < maxInner) {
        trimIt += 1
        // trivial = live ∖ (hasOut ∩ hasIn): one endpoint aggregate + one
        // anti-join, replacing the old 2 distincts + 2 anti-joins + union
        // + distinct — identical set (a node is non-trivial iff it occurs
        // as BOTH a source and a destination in the remaining edges)
        val bothEnds = liveE.select(col("src").as("id"), lit(0).as("_e"))
          .unionByName(liveE.select(col("dst").as("id"), lit(1).as("_e")))
          .groupBy("id").agg(count_distinct(col("_e")).as("_n"))
          .filter(col("_n") === 2).select("id")
        // witness fusion: the count below computes and persists `trivial`
        val trivial = matLazy(live.join(bothEnds, Seq("id"), "left_anti"))
        val nTrivial = trivial.count()
        if (nTrivial > 0) {
          accumulate(trivial.select(col("id"), col("id").as("scc")))
          val newLive = mat(live.join(trivial, Seq("id"), "left_anti"))
          val newE = mat(liveE
            .join(newLive.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(newLive.select(col("id").as("dst")), Seq("dst"), "left_semi"))
          // superseded trim rounds are dead; the wave-entry frames
          // (`nodes`/`rem`) are still live outer state — never freed here
          if (!(live eq nodes)) Materialize.free(live)
          if (!(liveE eq rem)) Materialize.free(liveE)
          live = newLive
          liveE = newE
          liveN -= nTrivial
        } else {
          Materialize.free(trivial)
          trimmed = false
        }
      }

      if (liveN > 0) {
        // COLOR both directions on the trimmed graph — the two fixpoints
        // are independent, so they submit their jobs CONCURRENTLY (the
        // scheduler interleaves rounds; measured ~35% off the color
        // phase on the 2-wave fixture at local[32])
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val ff = Future(minLabelFixpoint(g,
          liveE.select(col("src").as("from"), col("dst").as("to")), live, maxInner))
        val bf = Future(minLabelFixpoint(g,
          liveE.select(col("dst").as("from"), col("src").as("to")), live, maxInner))
        val f = Await.result(ff, Duration.Inf)
        val b = Await.result(bf, Duration.Inf)
        val fg = mat(f.join(
            b.select(col("id").as("gid"), col("lab").as("glab")),
            col("id") === col("gid"))
          .select(col("id"), col("lab").as("flab"), col("glab")))
        val assigned = fg.filter(col("flab") === col("glab"))
          .select(col("id"), col("flab").as("scc"))
        accumulate(mat(assigned))

        // PEEL with FW-BW partitioning (Fleischer et al. 2000 — public
        // literature): every SCC lies entirely within one (f, g) class
        // (f and g are constant on an SCC — its members all reach each
        // other), so edges CROSSING classes can never close a cycle and
        // are dropped, not just edges touching assigned nodes. A chain
        // of k small SCCs then resolves in 2 waves (wave 1 colors, the
        // class cut disconnects the chain, wave 2 assigns every piece
        // in parallel) instead of k waves peeling the minimal SCC only.
        // The f = g class is exactly the assigned set, so dropping it
        // subsumes the old anti-join peel.
        val newNodes = mat(live.join(assigned, Seq("id"), "left_anti"))
        val newRem = mat(liveE
          .join(fg.select(col("id").as("src"), col("flab").as("_fs"),
            col("glab").as("_gs")), "src")
          .join(fg.select(col("id").as("dst"), col("flab").as("_fd"),
            col("glab").as("_gd")), "dst")
          .filter(col("_fs") === col("_fd") && col("_gs") === col("_gd") &&
            col("_fs") =!= col("_gs"))
          .select(col("src"), col("dst")))
        // with the next wave's frames materialized, this wave's working
        // frames are dead (result holds only its own mat'd union legs)
        Seq(f, b, fg).foreach(Materialize.free)
        if (!(live eq nodes)) Materialize.free(live)
        if (!(liveE eq rem)) Materialize.free(liveE)
        release(nodes); release(rem)
        nodes = newNodes
        rem = newRem
      } else {
        if (!(live eq nodes)) { release(nodes); nodes = live }
        if (!(liveE eq rem)) { release(rem); rem = liveE }
      }
      remaining = nodes.count()
    }
    require(remaining == 0,
      s"Scc: $remaining nodes unassigned after $maxWaves waves — " +
        "condensation peel depth exceeds the bound; raise maxWaves")
    release(nodes); release(rem)
    result
  }

  /** Boolean reachability fixpoint: flag = 1 on `seeds`, propagated along
    * `e(from, to)` to a fixpoint. Monotone non-decreasing flag sum is the
    * convergence witness (exact long — flags are 0/1).
    */
  private def reachFlag(g: GraphLoop.Graph, e: DataFrame, seeds: DataFrame,
      maxInner: Int): DataFrame = {
    val (lab, _, converged) = GraphLoop.until(g.nodes.join(
        seeds.select(col("id"), lit(1).as("_s")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0)).as("flag")), maxInner, g.matLazy) { lab =>
      val prop = lab.filter(col("flag") === 1)
        .join(e, col("id") === col("from"))
        .select(col("to").as("pid")).distinct()
      lab.join(prop, col("id") === col("pid"), "left")
        .select(col("id"),
          greatest(col("flag"), when(col("pid").isNull, 0).otherwise(1)).as("flag"))
    }(new GraphLoop.Unchanged(_.agg(sum(col("flag"))).head().getLong(0)))
    require(converged, s"Scc.reachFlag: no fixpoint in $maxInner rounds; raise maxInner")
    lab
  }

  /** Bow-tie decomposition (Broder et al. 2000 — public literature): the
    * web-graph macro-structure around the giant SCC. Classes:
    * `core` (the largest SCC; ties by minimal component id), `in`
    * (reaches the core but is not in it), `out` (reachable from the
    * core), `other` (tendrils, tubes and disconnected mass — not split
    * further). Cost = one [[scc]] + two boolean reachability fixpoints,
    * all with the same per-round shapes. Output: (id, cls).
    */
  def bowTie(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxWaves: Int = 50, maxInner: Int = 200): DataFrame =
    Using.resource(prepare(edges, srcCol, dstCol, maxInner)) { g =>
      val waves = assign(g, maxWaves, maxInner)
      val assigned = g.pin(waves)
      Materialize.free(waves)
      val coreId = assigned.groupBy(col("scc")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("scc")).limit(1)
        .head().get(0)
      val core = assigned.filter(col("scc") === lit(coreId)).select(col("id"))

      // the two reachability fixpoints are independent — submit concurrently
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fwdF = Future(reachFlag(g, g.e.select(col("src").as("from"), col("dst").as("to")),
        core, maxInner))
      val bwdF = Future(reachFlag(g, g.e.select(col("dst").as("from"), col("src").as("to")),
        core, maxInner))
      val fwd = Await.result(fwdF, Duration.Inf)
      val bwd = Await.result(bwdF, Duration.Inf)

      g.result(g.nodes
        .join(core.select(col("id"), lit(1).as("_c")), Seq("id"), "left")
        .join(fwd.select(col("id"), col("flag").as("_f")), "id")
        .join(bwd.select(col("id"), col("flag").as("_b")), "id")
        .select(col("id"),
          when(col("_c") === 1, "core")
            .when(col("_b") === 1, "in")   // reaches the core (bwd from core)
            .when(col("_f") === 1, "out")  // reached from the core
            .otherwise("other").as("cls")))
    }

  /** Condensation DAG: edges between distinct components with multiplicity
    * — (scc_src, scc_dst, cnt), intra-component edges dropped. `assign` is
    * [[scc]]'s output (id, scc). Two hash joins against the 16-byte
    * assignment + one count aggregate; the condensation is the frame
    * bow-tie/link-structure analyses read.
    */
  def condense(edges: DataFrame, assign: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(assign.select(col("id").as("src"), col("scc").as("scc_src")), "src")
      .join(assign.select(col("id").as("dst"), col("scc").as("scc_dst")), "dst")
      .filter(col("scc_src") =!= col("scc_dst"))
      .groupBy(col("scc_src"), col("scc_dst"))
      .agg(count(lit(1)).as("cnt"))
}
