package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting and clustering coefficients over an undirected edge
  * list — the density instrumentation for the similarity graphs the
  * dedup family emits (a near-dup graph whose components are cliques
  * dedups cleanly; one with low clustering is chains of borderline pairs
  * where transitive dedup over-merges — this card is how you SEE that
  * before keep-one collapses a chain). Standard compact-forward /
  * degree-ordered algorithm (Latapy 2008; Suri & Vassilvitskii 2011 for
  * the MapReduce form — public literature; the reference has no graph
  * surface).
  *
  * Scale shape: edges are ORIENTED low→high by (degree, id) so every
  * wedge is generated exactly once at its lowest-degree apex — the
  * standard skew guard: a star of degree D contributes D·(D−1)/2 wedges
  * un-oriented but ~0 oriented (the hub outranks its leaves, so wedges
  * form only at the tiny-degree end). Then one self-join on the apex +
  * one semi-join against the oriented edge set counts each triangle
  * exactly once. Two shuffles total beyond the degree computation; the
  * join keys are (long, long).
  *
  * The shared prefix (symmetrize → degree → oriented edges) is computed
  * ONCE per public call and threaded through: `clusteringCoefficients`
  * and `densityCard` reference `ranked` from several join legs, so the
  * intermediates are materialized ([[Materialize.view]]) instead of trusting AQE's
  * ReusedExchange to dedup identical subtrees (a planner maybe, not a
  * guarantee — the PageRank materialization lesson). PlanShapeSpec
  * asserts the executed plan carries no duplicate degree aggregation.
  */
object Triangles {

  /** The once-computed prefix: (oriented edges materialized, degrees
    * materialized). Both frames are small (edge ids / node ids only) and
    * referenced from multiple join legs downstream.
    */
  private def prefix(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame) = {
    val und = LabelProp.symmetrize(edges, srcCol, dstCol)
      .filter(col("src") =!= col("dst"))
    val deg = Materialize.view(und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    // orient low -> high by (deg, id): rank(u) < rank(v)
    val ranked = Materialize.view(und
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst")))
    (ranked, deg)
  }

  /** Triangle rows from an already-materialized oriented edge frame. */
  private def trianglesFromRanked(ranked: DataFrame): DataFrame = {
    // wedges at the apex + close with an oriented edge
    val w = ranked.as("e1").join(ranked.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    // both orientations of the closing edge, columns in (b, c) POSITION
    // both times — union is positional, a name-swapped select silently
    // duplicates the first leg instead of flipping it
    w.join(ranked.select(col("src").as("b"), col("dst").as("c"))
        .union(ranked.select(col("dst").as("b"), col("src").as("c"))),
        Seq("b", "c"), "left_semi")
  }

  /** Per-node (id, deg, tri, clustering) from the shared prefix. */
  private def ccFromPrefix(ranked: DataFrame, deg: DataFrame): DataFrame = {
    val tri = trianglesFromRanked(ranked)
    val perNode = tri.select(col("a").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0))
          .otherwise(coalesce(col("tri"), lit(0L)).cast("double") * 2.0
            / (col("deg") * (col("deg") - 1)).cast("double"))
          .as("clustering"))
  }

  /** Per-triangle rows (a, b, c) — a is the orientation-lowest apex,
    * b < c by id — each triangle exactly once. `edges` is directed
    * input; it is symmetrized + deduped internally, so either or both
    * directions may be present.
    */
  def triangles(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (ranked, deg) = prefix(edges, srcCol, dstCol)
    Materialize.free(deg)
    trianglesFromRanked(ranked)
  }

  /** Per-node triangle count + local clustering coefficient
    * tri / (deg·(deg−1)/2), 0 when deg < 2. Output:
    * (id, deg, tri, clustering). Symmetrize/degree/orientation run once;
    * the triangle pass reuses the materialized prefix.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (ranked, deg) = prefix(edges, srcCol, dstCol)
    ccFromPrefix(ranked, deg)
  }

  /** WEIGHTED local clustering — Barrat et al. 2004 (public literature):
    *   C_w(i) = 1/(s_i·(k_i−1)) · Σ_{ordered pairs (j,h)} (w_ij + w_ih)/2 · a_ij·a_ih·a_jh
    *          = 1/(s_i·(k_i−1)) · Σ_{triangles {i,j,h}} (w_ij + w_ih)
    * with s_i the strength (incident weight sum) and k_i the degree — the
    * similarity-graph form of q293's card: a node whose triangles close
    * over STRONG edges scores higher than one whose triangles are
    * borderline, even at equal counts (unit weights reduce to the
    * unweighted coefficient exactly: each triangle contributes
    * w_ij + w_ih = 2 per triangle and s_i = k_i, recovering
    * 2·t_i/(k_i(k_i−1))). Same degree-oriented compact-forward
    * shape; the closing semi-join becomes an inner join carrying the
    * third weight. Output: (id, deg, strength, tri, clustering_w).
    */
  def weightedClusteringCoefficients(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = "w"): DataFrame = {
    val und = Materialize.view(LabelProp.symmetrizeWeighted(edges, srcCol, dstCol, weightCol)
      .filter(col("src") =!= col("dst")).filter(col("w") > 0))
    val deg = Materialize.view(und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"), sum(col("w")).as("strength")))
    val ranked = Materialize.view(und
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("w")))
    Materialize.free(und)
    val wedge = ranked.as("e1").join(ranked.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"),
        col("e1.w").as("w_ab"), col("e2.w").as("w_ac"))
    // the oriented edge set holds each undirected edge once, so exactly
    // one of the two flips matches a given ordered (b, c) — the inner
    // join closes the triangle AND delivers w_bc without duplication
    val closing = ranked.select(col("src").as("b"), col("dst").as("c"), col("w").as("w_bc"))
      .union(ranked.select(col("dst").as("b"), col("src").as("c"), col("w").as("w_bc")))
    val tri = wedge.join(closing, Seq("b", "c"))
    val contrib = tri.select(col("a").as("id"), (col("w_ab") + col("w_ac")).as("cw"))
      .union(tri.select(col("b").as("id"), (col("w_ab") + col("w_bc")).as("cw")))
      .union(tri.select(col("c").as("id"), (col("w_ac") + col("w_bc")).as("cw")))
      .groupBy("id").agg(sum(col("cw")).as("wtri"), count(lit(1)).as("tri"))
    deg.join(contrib, Seq("id"), "left")
      .select(col("id"), col("deg"), col("strength"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0.0))
          .otherwise(coalesce(col("wtri"), lit(0.0))
            / (col("strength") * (col("deg") - 1)))
          .as("clustering_w"))
  }

  /** Newman modularity of a node partition — the community-quality
    * instrument for the partitions the graph family produces
    * (connectedComponents clusters, thresholded LabelProp scores):
    *   Q = Σ_c [ e_c/m − (d_c/(2m))² ]
    * with m the undirected edge count, e_c the intra-community edge count
    * and d_c the community degree sum (Newman & Girvan 2004 — public
    * literature). Q ≈ 0 means the partition is no better than random
    * wiring; well-separated communities land 0.3–0.7.
    *
    * Scale shape: one symmetrize, one degree aggregate, one
    * edge ⋈ assignment join per endpoint (keys only — the exchange
    * carries (id, community)), two group-bys over |communities| rows.
    * `assignment` is (idCol, communityCol); nodes missing from it fail
    * loudly via the inner join count check rather than silently skewing
    * Q. Output: one row (n_communities, n_edges, modularity).
    */
  def modularity(edges: DataFrame, assignment: DataFrame,
      srcCol: String = "src", dstCol: String = "dst", idCol: String = "id",
      communityCol: String = "community",
      weightCol: Option[String] = None): DataFrame = {
    // weighted form (Newman 2004): Q = Σ_c [w_c/W − (s_c/2W)²] with W the
    // total undirected weight, w_c the intra-community weight, s_c the
    // community strength sum — the card that respects the similarity
    // weights the dedup emitters produce. w ≡ 1.0 (the default) reduces
    // bit-exactly to the count-based unweighted form.
    val und = Materialize.view((weightCol match {
      case None => LabelProp.symmetrize(edges, srcCol, dstCol)
        .withColumn("w", lit(1.0))
      case Some(wc) => LabelProp.symmetrizeWeighted(edges, srcCol, dstCol, wc)
    }).filter(col("src") =!= col("dst")))
    val asg = Materialize.view(assignment.select(col(idCol).as("id"),
      col(communityCol).as("community")))
    val nNodes = und.select(col("src").as("id")).distinct().count()
    val covered = und.select(col("src").as("id")).distinct()
      .join(asg, Seq("id"), "left_semi").count()
    require(covered == nNodes,
      s"modularity: assignment covers $covered of $nNodes graph nodes — " +
        "every node needs a community (unassigned nodes would silently skew Q)")
    val tagged = und
      .join(asg.select(col("id").as("src"), col("community").as("c_src")), "src")
      .join(asg.select(col("id").as("dst"), col("community").as("c_dst")), "dst")
    // W, w_c, s_c all from the DIRECTED-twice representation: und holds
    // each undirected edge in both directions, so W = Σw/2, intra weight
    // sums twice, and strength sums are exact row sums per community
    val m = und.agg(sum(col("w"))).head().getDouble(0) / 2.0
    val intra = tagged.filter(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg((sum(col("w")) / 2.0).as("e_c"))
    val degSum = tagged.groupBy(col("c_src").as("community"))
      .agg(sum(col("w")).as("d_c"))
    degSum.join(intra, Seq("community"), "left")
      .select(
        (coalesce(col("e_c"), lit(0.0)) / m
          - (col("d_c") / (2.0 * m)) * (col("d_c") / (2.0 * m))).as("q_c"))
      .agg(count(lit(1)).as("n_communities"),
        lit(m).cast("long").as("n_edges"),
        sum(col("q_c")).as("modularity"))
  }

  /** One-row graph density card: nodes, edges (undirected), triangles,
    * global clustering (3·tri / wedges) and mean local clustering. One
    * prefix + one triangle pass — the per-node card and the global
    * aggregate share them.
    */
  def densityCard(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (ranked, deg) = prefix(edges, srcCol, dstCol)
    val cc = ccFromPrefix(ranked, deg).cache()
    try {
      val nTri = trianglesFromRanked(ranked).count()
      val agg = cc.agg(
        count(lit(1)).as("n_nodes"),
        (sum(col("deg")) / 2).cast("long").as("n_edges"),
        sum((col("deg") * (col("deg") - 1)) / 2).cast("double").as("wedges"),
        avg(col("clustering")).as("mean_local"))
      Materialize.view(agg.select(col("n_nodes"), col("n_edges"), lit(nTri).as("n_triangles"),
        when(col("wedges") > 0, lit(3.0) * nTri / col("wedges"))
          .otherwise(lit(0.0)).as("global_clustering"),
        col("mean_local")))
    } finally {
      cc.unpersist()
      Materialize.free(ranked)
      Materialize.free(deg)
    }
  }

  /** In-degree distribution + log-log power-law fit: (distinct degree
    * values, least-squares slope/intercept of ln(cnt) over ln(deg) across
    * the degree histogram). Web-shaped graphs show slope ≈ −2..−3
    * (Broder et al. 2000 measured ≈ −2.1); a flat or positive slope
    * flags a non-organic (synthetic/farm) link structure. Two aggregates
    * — degree histogram then the fit moments — exchanging (deg, cnt)
    * pairs only; slope = covar/var (sample conventions cancel) with the
    * zero-variance null guard [[healthCard]] uses.
    */
  def degreeCard(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val hist = e.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
    hist.select(log(col("deg").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_degrees"),
        covar_samp(col("x"), col("y")).as("cv"),
        var_samp(col("x")).as("vx"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"))
      .select(col("n_degrees"),
        when(col("vx").isNull || col("vx") === 0, lit(null))
          .otherwise(col("cv") / col("vx")).as("slope"),
        when(col("vx").isNull || col("vx") === 0, lit(null))
          .otherwise(col("my") - (col("cv") / col("vx")) * col("mx"))
          .as("intercept"))
  }

  /** DIRECTED graph health card — the two structure diagnostics the
    * undirected [[densityCard]] can't see: `reciprocity` (fraction of
    * edges whose reverse edge exists — link-exchange/mutual-citation
    * mass) and `assortativity` (Pearson correlation across edges of
    * (out-degree(src), in-degree(dst)) — Newman 2002; negative on
    * hub-and-spoke webs, positive on social-style graphs). One self
    * left-semi join for reciprocity + two degree aggregates + one corr
    * aggregate — everything shuffles (id, count) pairs only. Pearson is
    * scale-free, so sample-vs-population moment conventions cancel and
    * the SQL twin replays `corr` exactly. Output one row:
    * (n_nodes, n_edges, reciprocity, assortativity).
    */
  def healthCard(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val e = Materialize.view(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val nNodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().count()
    val m = e.count()
    val nRecip = e.join(
      e.select(col("dst").as("src2"), col("src").as("dst2")),
      col("src") === col("src2") && col("dst") === col("dst2"), "left_semi")
      .count()
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val ind = e.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
    // Pearson as covar/(sx·sy) with an explicit zero-variance guard —
    // ANSI mode makes built-in corr THROW on constant degrees (a pure
    // out-star) instead of returning the conventional null
    e.join(outd, "src").join(ind, "dst")
      .agg(covar_samp(col("od"), col("indeg")).as("cv"),
        stddev_samp(col("od")).as("sx"), stddev_samp(col("indeg")).as("sy"))
      .select(lit(nNodes).as("n_nodes"), lit(m).as("n_edges"),
        round(lit(if (m == 0) 0.0 else nRecip.toDouble / m), 6).as("reciprocity"),
        round(when(col("sx") === 0 || col("sy") === 0, lit(null))
          .otherwise(col("cv") / (col("sx") * col("sy"))), 6).as("assortativity"))
  }
}
