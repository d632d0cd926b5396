package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale evidence for the graph family's skew handling (guide §2.5): a
  * power-law graph funnels (a) a hot SOURCE's edges into one partition of
  * the per-round rank ⋈ edge join and (b) a hot DESTINATION's
  * contributions into one reducer of the per-round aggregate. The
  * handling is structural, not bespoke:
  *
  *  - the contribution aggregate is a built-in `sum` — Spark plans a
  *    PARTIAL (map-side) aggregate before the exchange, so a hot dst
  *    receives at most one partial row per map task, never its raw
  *    in-edge stream (asserted on the physical plan here);
  *  - the per-round rank ⋈ edge join is deliberately EXCHANGE-FREE
  *    (cached eDeg + checkpointed ranks), which also means AQE's runtime
  *    skew split can never fire on it — a hot source's edges all sit in
  *    one cached partition. The scale tool is the deterministic join
  *    salt (`spark.graft.graph.joinSalt`, PageRank.attachDeg): this spec
  *    runs the salted path on a planted hot-key graph, asserts the edge
  *    frame hash-distributes by (src, salt), and compares ranks against
  *    the default path (identical pairs; float sum order is the
  *    documented ~1e-12 band, checked at 1e-9).
  */
class GraphSkewSpec extends SparkSpec {
  import spark.implicits._

  /** 1 hot source with fan-out to every node + a sparse regular tail —
    * the planted skew fixture.
    */
  private def hotGraph(n: Int) = {
    val hot = (1 until n).map(i => (0L, i.toLong))
    val tail = (1 until n).map(i => (i.toLong, ((i * 7 + 1) % n).toLong))
      .filter { case (s, d) => s != d }
    (hot ++ tail).toDF("src", "dst")
  }

  /** Recursive descent through AQE wrappers/query stages (plain
    * SparkPlan.collect stops at QueryStageExec boundaries).
    */
  private def deepCollect[A](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    val here = pf.lift(plan).toSeq
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case other => other.children
    }
    here ++ children.flatMap(c => deepCollect(c)(pf))
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // finalize the adaptive plan on THIS queryExecution
    df.queryExecution.executedPlan
  }

  test("contribution aggregate partial-aggregates map-side (hot dst never " +
      "sees its raw in-edge stream)") {
    val e = hotGraph(500)
    val ranks = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1.0 / 500).as("rank"))
    val step = PageRank.pageRankStep(e, ranks)
    // every exchange that carries contribution partials must sit ABOVE a
    // partial-mode hash aggregate
    val aggModes = deepCollect(finalPlan(step)) {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.aggregateExpressions.map(_.mode)
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        o.aggregateExpressions.map(_.mode)
    }.flatten
    assert(aggModes.contains(
      org.apache.spark.sql.catalyst.expressions.aggregate.Partial),
      s"expected a map-side partial aggregate in the step plan; modes=$aggModes")
  }

  test("salted contribution join spreads the hot source; ranks identical") {
    val n = 2000
    val e = hotGraph(n)
    val base = PageRank.pageRank(e, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val conf = spark.conf
    try {
      conf.set("spark.graft.graph.joinSalt", "4")
      // plan evidence: the deg-attached edge frame hash-distributes by
      // (src, salt) — the hot source's edge rows spread over 4 partitions
      val ranks = e.select(col("src").as("id")).distinct()
        .select(col("id"), lit(1.0 / n).as("rank"))
      val step = PageRank.pageRankStep(e, ranks)
      val saltedExchanges = deepCollect(finalPlan(step)) {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if ex.outputPartitioning.toString.contains("salt") => ex
      }
      assert(saltedExchanges.nonEmpty,
        "expected a hashpartitioning(src, salt) exchange in the salted step")

      // value evidence: identical contribution pairs, float-order band only
      val salted = PageRank.pageRank(e, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(salted.keySet == base.keySet)
      base.foreach { case (id, r) =>
        assert(math.abs(salted(id) - r) < 1e-9,
          s"rank drift beyond the float-order band at id=$id")
      }
    } finally conf.unset("spark.graft.graph.joinSalt")
  }

  test("the join salt is captured when the graph is prepared, not re-read per round") {
    // a conf change between prepare and the rounds (toggled mid-call, or
    // another thread on a shared session) must not split the computation:
    // the salted edge frame and the rank explosion use the SAME k
    val n = 2000
    val e = hotGraph(n)
    val base = PageRank.pageRank(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val conf = spark.conf
    val g = try {
      conf.set("spark.graft.graph.joinSalt", "4")
      GraphLoop.prepare(e, "src", "dst", rounds = 3)
    } finally conf.unset("spark.graft.graph.joinSalt")
    val salted = scala.util.Using.resource(g) { g =>
      assert(g.k == 4 && g.eDeg.columns.contains("salt"))
      PageRank.ranks(g, 3, 0.85).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(salted.keySet == base.keySet)
    base.foreach { case (id, r) =>
      assert(math.abs(salted(id) - r) < 1e-12, s"rank drift at id=$id: ${salted(id)} vs $r")
    }
  }
}
