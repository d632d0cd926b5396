package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.DataFrame

import graft.operators.{AsofJoin, Knn, Pq, Sq}

/** Physical-plan regression guards: the correctness suite cannot see a plan
  * silently regressing from a map-side kernel to an extra shuffle, so the
  * flagship scale shapes are pinned here. Every assertion unwraps AQE first
  * (AdaptiveSparkPlanExec is a leaf — collects on the outer plan are
  * vacuous).
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  // collect() runs df's OWN QueryExecution, so its AdaptiveSparkPlanExec
  // finalizes (a noop write would execute a separate QueryExecution and
  // leave this one un-finalized)
  private def executedPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  // count raw exchanges AND AQE-materialized shuffle stages (both are
  // LeafExecNode-wrapped after finalization, hence the string scan);
  // ReusedExchange/reused stages deliberately do not count — reuse is free
  private def shuffleCount(plan: SparkPlan): Int =
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum +
      plan.toString.linesIterator
        .count(l => l.contains("ShuffleQueryStage") && !l.contains("Reused"))

  private val dim = 16
  private def vec(i: Long): Array[Float] =
    Array.tabulate(dim)(j =>
      ((graft.functions.StableHash.fnv64(s"p:$i:$j") >>> 12).toDouble / (1L << 52) * 2 - 1).toFloat)
  private lazy val base = (0L until 256L).map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")

  test("Pq.encode executes with ZERO shuffle exchanges (pure map job)") {
    val cbs = Pq.subsetCodebooks(base.filter(col("vec_id") < 4), m = 4)
    assert(shuffleCount(executedPlan(Pq.encode(base, cbs))) == 0)
  }

  test("Sq.encode executes with ZERO shuffle exchanges") {
    val grid = Sq.fitGrid(base, dim = dim)
    assert(shuffleCount(executedPlan(Sq.encode(base, grid))) == 0)
  }

  test("Knn.knn: exactly one exchange (the k-heap partial aggregate), no sort") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.ArrayType
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case e: ShuffleExchangeExec => Seq(e)
      case q: QueryStageExec => exchanges(q.plan)
    }.flatten
    val plan = executedPlan(Knn.knn(base.limit(4), base, k = 3))
    val s = plan.toString
    // the queries reach the scoring aggregate from the driver: no pair
    // row is ever built, so no nested-loop join and no broadcast exchange
    assert(!s.contains("NestedLoopJoin") && !s.contains("BroadcastExchange"), s)
    val ex = exchanges(plan)
    assert(ex.size == 1 && shuffleCount(plan) == 1, s"not exactly one exchange:\n$s")
    // what crosses it is each block's partial heaps, never a vector or a
    // hit array
    val partial = ex.head.child match {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(e => e.mode == Partial &&
        e.aggregateFunction.isInstanceOf[graft.functions.KnnTopK])
      case _ => false
    }
    assert(partial, s"the exchange does not carry partial knn_topk heaps:\n$s")
    val arrays = ex.head.output.filter(_.dataType.isInstanceOf[ArrayType])
    assert(arrays.isEmpty, s"the exchange carries ${arrays.map(_.name).mkString(",")}:\n$s")
    // top-k comes from the bounded heaps, not a sort-based limit: a
    // regression to ordered-limit renders as TakeOrderedAndProject or a
    // SortExec ("Sort [" in the plan text)
    assert(!s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("Sort ["), s)
  }

  test("Knn.topK: every partial topk_pairs heap aggregates ids and scores, never a vector") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.ArrayType
    // AQE hides materialized stages inside leaf QueryStageExec wrappers
    def partialHeaps(p: SparkPlan): Seq[BaseAggregateExec] = p.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e => e.mode == Partial &&
          e.aggregateFunction.isInstanceOf[graft.functions.TopKPairs]) => Seq(a)
      case q: QueryStageExec => partialHeaps(q.plan)
    }.flatten
    val cents = base.filter(col("vec_id") < 8)
    val searches = Seq(
      "Knn.knnPartitioned" -> Knn.knnPartitioned(base.limit(4), base, k = 3,
        nQBlocks = 2, nBBlocks = 2),
      "Ann.ivfSearch" -> graft.operators.Ann.ivfSearch(base.limit(4),
        graft.operators.Ann.ivfIndex(base, cents), cents, k = 3, nProbe = 2),
      "Sq.binaryTopK" -> Sq.binaryTopK(base.limit(4), base, k = 3))
    searches.foreach { case (name, df) =>
      val heaps = partialHeaps(executedPlan(df))
      assert(heaps.nonEmpty, s"$name: no partial topk_pairs aggregate")
      // the score is a column before the heap: its input rows are
      // (query_id, neighbor_id, dist), not the vectors being compared
      heaps.foreach { h =>
        val arrays = h.child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.isEmpty,
          s"$name: heap input carries ${arrays.map(_.name).mkString(",")}:\n$h")
      }
    }
  }

  test("Ann.ivfSearchFiltered: the predicate Filter runs BELOW the heap aggregate") {
    import graft.predicates._
    val labeled = base.withColumn("label", pmod(col("vec_id"), lit(10)))
    val cents = labeled.filter(col("vec_id") < 8)
    val blob = PNodeCodec.encodeFramed(
      PredicateNode.namedTyped("label", OpType.GE, Comparand.IntVal(5)),
      PNodeCodec.Mode.NamedTyped)
    val q = labeled.filter(col("vec_id") < 4)
      .withColumn("predicate", udf(() => blob).apply())
    val index = graft.operators.Ann.ivfIndexWithMeta(
      labeled, cents, metaCols = Seq("label"))
    val plan = executedPlan(graft.operators.Ann.ivfSearchFiltered(
      q, index, cents, k = 3, nProbe = 2, metadataCols = Seq("label")))
    // pre-filter semantics: the predicate must evaluate in the PARTIAL
    // heap aggregate's input subtree — candidates are eliminated before the
    // bounded heap ever ranks them ("search then discard" would filter
    // above the final aggregate, silently returning < k under selective
    // predicates). Catalyst pushes the predicate all the way into the
    // cell-join condition, so the check reads the rendered tree: children
    // print AFTER parents, so the predicate line must come after the
    // partial-agg line and no predicate may appear above it.
    val lines = plan.toString.linesIterator.toIndexedSeq
    val ip = lines.indexWhere(_.contains("partial_topk_pairs"))
    val iu = lines.indexWhere(_.contains("query_predicate("))
    assert(ip >= 0, s"no partial heap aggregate in plan:\n$plan")
    assert(iu > ip,
      s"predicate not below the partial aggregate (predicate@$iu, agg@$ip):\n$plan")
    assert(!lines.take(ip).exists(_.contains("query_predicate(")),
      s"predicate above the partial aggregate:\n$plan")
  }

  test("Ann.adaptiveProbeWidths: stats join is broadcast; one bounded window") {
    import graft.predicates._
    val labeled = base.withColumn("label", pmod(col("vec_id"), lit(10)))
    val cents = labeled.filter(col("vec_id") < 8)
    val blob = PNodeCodec.encodeFramed(
      PredicateNode.namedTyped("label", OpType.GE, Comparand.IntVal(5)),
      PNodeCodec.Mode.NamedTyped)
    val q = labeled.filter(col("vec_id") < 4)
      .withColumn("predicate", udf(() => blob).apply())
    val index = graft.operators.Ann.ivfIndexWithMeta(
      labeled, cents, metaCols = Seq("label"))
    val stats = graft.operators.Ann.cellSelectivityStats(index, "label")
    val plan = executedPlan(graft.operators.Ann.adaptiveProbeWidths(
      q, cents, stats, "label", k = 3, safety = 2.0, minProbe = 1, maxProbe = 4))
    val s = plan.toString
    // the stats relation is broadcast-scale BY CONTRACT (nList × distinct
    // values) — a sort-merge join here would shuffle the probe lists on
    // cell and break the map-side planning claim
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    // exactly one Window — the cumulative walk, partitioned per query over
    // ≤ maxProbe rows (bounded by the ranked-probe construction)
    assert(s.linesIterator.count(_.contains("Window")) >= 1, s)
  }

  test("Pq.adcSearch: one exchange of partial heaps after the code-scan kernel") {
    val cbs = Pq.subsetCodebooks(base.filter(col("vec_id") < 4), m = 4)
    val codes = Pq.encode(base, cbs)
    val plan = executedPlan(Pq.adcSearch(base.limit(4), codes, cbs, k = 3))
    assert(shuffleCount(plan) <= 1, plan.toString)
  }

  test("Mixture.materialize executes with ZERO shuffle exchanges (projection + explode)") {
    val rows = (0L until 128L).map(i => (i, if (i % 2 == 0) "web" else "books"))
      .toDF("id", "domain")
    val plan = executedPlan(graft.operators.Mixture.materialize(
      rows, "domain", "id", Map("web" -> 2.5, "books" -> 0.5)))
    assert(shuffleCount(plan) == 0, plan.toString)
  }

  test("Packing: no exchange beyond the range repartition inside the RDD lineage") {
    val docs = (0L until 512L).map(i => (i, (i % 37) + 1)).toDF("id", "n")
    val coords = graft.operators.Packing.packCoordinates(docs, "id", "n", seqLen = 64)
    val plan = executedPlan(coords)
    val s = plan.toString
    // the prefix sum runs as two mapPartitions passes over ONE range
    // exchange held in the RDD lineage; the visible SQL plan on top must
    // stay a pure projection — any Exchange/Window/Join here means the
    // cumsum regressed to a shuffling form
    assert(shuffleCount(plan) == 0, s"exchange above the prefix-sum RDD:\n$s")
    assert(!s.contains("Window"), s)
    assert(!s.contains("Join"), s)
    // and the range exchange is genuinely in the lineage (not a coalesce)
    assert(coords.rdd.getNumPartitions == spark.sessionState.conf.numShufflePartitions)
  }

  test("Bm25: term-filtered postings, broadcast df/stats, TakeOrdered top-k") {
    val docs = (0L until 256L).map(i => (i, s"alpha w$i beta gamma w${i % 7}"))
      .toDF("id", "text")
    val plan = executedPlan(
      graft.operators.Bm25.bm25(docs, "id", "text", Seq("alpha", "beta"), k = 5))
    val s = plan.toString
    // df + corpus stats come back as broadcasts — never a corpus-wide join
    // (doc length rides through the postings as a grouping column)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    // top-k is TakeOrderedAndProject (local heaps + driver merge), not a
    // global Sort materialization
    assert(s.contains("TakeOrderedAndProject"), s)
    // shuffles: term-hit tf aggregate, |terms|-row df aggregate, 1-row
    // stats aggregate, per-doc score aggregate — only the first is even
    // O(term hits); none is O(corpus tokens)
    assert(shuffleCount(plan) <= 5, s)
  }

  test("AsofJoin: ONE key shuffle, no join pair space") {
    val left = (0L until 200L).map(i => (i % 5, i)).toDF("k", "t")
    val right = (0L until 400L).map(i => (i % 5, i / 2, i)).toDF("k", "t", "rid")
      .withColumn("v", col("rid") * 2)
    val plan = executedPlan(
      AsofJoin.asof(left, right, "k", "t", "rid", Seq("v")))
    val s = plan.toString
    // union + window = one exchange on the key; a regression to a range
    // join would surface as a Join node and per-key pair blowup
    assert(shuffleCount(plan) <= 1, s"more than one exchange:\n$s")
    assert(!s.contains("Join"), s"pair-space join reappeared:\n$s")
    assert(s.contains("Window"), s)
  }

  test("Dedup.minhashLshPairs: band-join exchanges carry NO array column") {
    val docs = (0L until 64L)
      .map(i => (i, s"tok${i % 8} tok${(i + 1) % 8} tok${(i + 2) % 8} alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // at production scale the band join is a shuffle join; at test scale it
    // broadcasts, so force shuffle joins (and disable AQE so executedPlan
    // exposes raw ShuffleExchangeExec nodes with their output schema)
    val priorBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the band self-join must shuffle (id, band, bucket) only, never the
      // shingle arrays (the 32×-array shuffle was the q46 scale-killer)
      graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text", n = 2, threshold = 0.5)
        .queryExecution.executedPlan
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBc)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
    }
    val bandExchanges = plan.collect {
      case e: ShuffleExchangeExec if e.output.exists(a => a.name == "bucket") => e
    }
    assert(bandExchanges.nonEmpty, s"no band exchange found:\n$plan")
    bandExchanges.foreach { e =>
      val arrayCols = e.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"band exchange carries array column(s) ${arrayCols.map(_.name).mkString(",")}:\n$e")
    }
  }

  test("Clustering.clusterSample: the cell exchange prunes the vector column") {
    val init = base.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val assigned = graft.operators.Clustering.assign(base, init)
    // the per-cell heap aggregates (cell, id) only — the vector column must
    // be pruned BEFORE the exchange (shuffling vectors to pick ids is the
    // per-cell-window anti-pattern this operator exists to avoid)
    val plan = executedPlan(graft.operators.Clustering.clusterSample(assigned, perCell = 3))
    plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      val arrayCols = e.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.forall(_.name == "topk"), // the bounded heap itself is fine
        s"cell exchange carries vector column(s) ${arrayCols.map(_.name).mkString(",")}:\n$e")
    }
  }

  test("Clustering.prototypicalityPrune: the window exchange carries scalars only") {
    val init = base.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    // scoring is a broadcast argmin (no shuffle); the per-cell rank window
    // must exchange (id, cell, proto) only — the vector column never
    // crosses a shuffle
    val plan = executedPlan(
      graft.operators.Clustering.prototypicalityPrune(base, init, 0.25))
    // AQE hides materialized exchanges inside leaf QueryStageExec wrappers —
    // recurse through them
    def allExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
      p.collect {
        case e: ShuffleExchangeExec => Seq(e)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allExchanges(q.plan)
      }.flatten
    val exchanges = allExchanges(plan)
    assert(exchanges.size == 1, s"want exactly one window exchange:\n$plan")
    exchanges.foreach { e =>
      val arrayCols = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"prune exchange carries array column(s) ${arrayCols.map(_.name).mkString(",")}:\n$e")
    }
  }

  test("Sampling.weightedSample plans a TakeOrderedAndProject bounded heap") {
    val df = (1L to 64L).map(i => (i, 1.0 + i % 5)).toDF("id", "w")
    val plan = executedPlan(graft.operators.Sampling.weightedSample(df, "id", "w", 8))
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"), s)
    // top-n must never become a global range-partitioned sort
    assert(!s.contains("rangepartitioning"), s)
  }

  test("Dedup.lineDedup: no exchange carries paragraph or document text") {
    val docs = (0L until 64L)
      .map(i => (i, s"header line\nbody ${i % 8}\nfooter line"))
      .toDF("doc_id", "text")
    // disable broadcast+AQE so the winner join shows its production shuffle
    val priorBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.operators.Dedup.lineDedup(docs, "doc_id", "text")
        .queryExecution.executedPlan
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBc)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, s"expected shuffles in lineDedup plan:\n$plan")
    // the exploded paragraph relation (per-PARAGRAPH rows, the big side)
    // must shuffle scalars only; document text may cross exactly once, on
    // the doc-keyed reassembly join
    exchanges.foreach { e =>
      val para = e.output.filter(_.name == "para")
      assert(para.isEmpty,
        s"lineDedup exchange carries paragraph column:\n$e")
    }
    val textCarrying = exchanges.filter(_.output.exists(_.name == "text"))
    assert(textCarrying.size <= 1,
      s"document text crosses ${textCarrying.size} exchanges, want <= 1:\n$plan")
  }

  test("Bpe pair-count exchange carries pair keys, not segmentations") {
    val docs = (0L until 32L).map(i => (i, s"alpha beta gamma tok${i % 4}"))
      .toDF("doc_id", "text")
    val plan = executedPlan(graft.operators.Bpe.train(docs, "text", numMerges = 1))
    // train's per-iteration aggregate is checked indirectly: train() itself
    // returns a local relation, so pin the shape on the pair-count stage the
    // iteration runs — rebuildable here as wordCounts + explode + agg
    val pairs = graft.operators.Bpe.wordCounts(docs, "text")
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, char_length(word) - 1), " +
          "i -> struct(substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r))")).as("p"))
      .groupBy(col("p.l"), col("p.r")).agg(sum(col("cnt")))
    executedPlan(pairs).collect { case e: ShuffleExchangeExec => e }.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"pair exchange carries an array column:\n$e")
    }
  }

  test("Bpe.encode executes with ZERO shuffle exchanges (broadcast-model kernel)") {
    val docs = (0L until 64L).map(i => (i, s"alpha beta tok${i % 4} gamma"))
      .toDF("doc_id", "text")
    val model = graft.operators.Bpe.fit(docs, "text", numMerges = 2)
    // the encode itself is a pure per-row kernel over a broadcast model —
    // any exchange here would mean the corpus shuffles to get tokenized
    assert(shuffleCount(executedPlan(
      graft.operators.Bpe.encode(docs, "doc_id", "text", model))) == 0)
  }

  test("Ranking.globalRank output is an InternalRow scan, codegen-capable") {
    val df = (0L until 512L).map(i => (i, (i * 2654435761L) % 997))
      .toDF("id", "score")
    // the rank pass itself stays on InternalRow (compile-time: toRdd +
    // JoinedRow in Ranking.rankWithCount) — the external-Row round trip
    // would surface here as an RDD of Rows needing per-field conversion;
    // the output must be a plain ExistingRDD scan with no object
    // serialization boundary, and downstream expressions must still fuse
    // into WholeStageCodegen over that scan
    val ranked = graft.operators.Ranking.globalRank(df, Seq("score", "id"))
    val downstream = ranked.filter(col("rank") <= 100)
      .select(col("id"), (col("rank") * 2).as("r2"))
    val s = executedPlan(downstream).toString
    assert(!s.contains("DeserializeToObject") && !s.contains("SerializeFromObject"),
      s"rank plan crosses an object-serialization boundary:\n$s")
    // the `*(n)` prefix is toString's WholeStageCodegen marker: the scan
    // and everything above it must carry it
    assert(s.linesIterator.exists(l =>
        l.contains("Scan ExistingRDD") && l.replace("+- ", "").trim.startsWith("*(")),
      s"rank scan not inside WholeStageCodegen:\n$s")
    assert(s.linesIterator.exists(l => l.trim.startsWith("*(") && l.contains("Project")),
      s"downstream of rank fell out of codegen:\n$s")
  }

  test("groupedPercentRank: no Window operator, one range exchange on the data path") {
    val df = spark.range(2000).select(col("id"),
      concat(lit("g"), pmod(col("id"), lit(3L))).as("grp"),
      (col("id") * 37 % 101).as("score"))
    val plan = executedPlan(graft.operators.Ranking
      .groupedPercentRank(df, "grp", Seq("score", "id")))
    val s = plan.toString
    // the whole point: a skewed group must never route through a
    // partitionBy window (one task per group)
    assert(!s.contains("Window"), s"grouped rank planned a Window:\n$s")
    // per-group offsets ride a broadcast; the ranked data path is the
    // shared ExistingRDD lineage (its range exchange lives inside the RDD,
    // like Packing's) and must reach the join with NO further exchange —
    // the only shuffle in this plan is the tiny per-group aggregate
    assert(s.contains("BroadcastHashJoin"), s"group offsets not broadcast:\n$s")
    assert(s.contains("Scan ExistingRDD"), s"rank lineage not reused:\n$s")
    assert(shuffleCount(plan) <= 1,
      s"data path re-shuffled beyond the group aggregate:\n$s")
  }

  test("Cms.commonTokenFraction executes with ZERO shuffle exchanges") {
    val docs = (0L until 64L).map(i => (i, s"a b c tok$i")).toDF("doc_id", "text")
    val toks = docs.select(explode(split(lower(col("text")), " ")).as("term"))
    val grid = graft.operators.Cms.build(toks, "term", depth = 3, width = 256)
    val plan = executedPlan(graft.operators.Cms.commonTokenFraction(
      docs, grid, depth = 3, "doc_id", "text", threshold = 10L))
    assert(shuffleCount(plan) == 0,
      s"CMS probe must be a pure map against the broadcast grid:\n$plan")
  }

  test("IntervalJoin: hash join on (keys, bucket), never a nested loop") {
    val priorBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pts = spark.range(5000).select(pmod(col("id"), lit(4L)).as("k"),
        (col("id") * 7 % 100000).as("p"))
      val ivs = spark.range(500).select(col("id").as("iid"),
        pmod(col("id"), lit(4L)).as("k"), (col("id") * 70 % 100000).as("s"))
        .withColumn("e", col("s") + 300L)
      executedPlan(graft.operators.IntervalJoin.pointInInterval(
        pts, ivs, "p", "s", "e", Seq("k"), bucketWidth = 300L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBc)
    val s = plan.toString
    assert(!s.contains("NestedLoop"),
      s"interval join degenerated to a nested loop:\n$s")
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
      s"expected a shuffled equi-join on (k, bucket):\n$s")
  }

  test("ZOrder.zValue is a pure projection (ZERO exchanges) inside codegen") {
    val df = spark.range(1000).select(
      pmod(col("id"), lit(64L)).as("a"), pmod(col("id") * 7, lit(64L)).as("b"))
    val plan = executedPlan(df.select(
      graft.layout.ZOrder.zValue(col("a"), col("b"), 6).as("z")))
    assert(shuffleCount(plan) == 0)
    // the `*(n)` prefix is the WholeStageCodegen marker in plan rendering
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, s"z-value fell out of codegen:\n$plan")
  }

  test("Sharding.rendezvousAssign is a pure projection (ZERO exchanges) inside codegen") {
    val df = spark.range(1000).toDF("doc_id")
    val plan = executedPlan(
      graft.layout.Sharding.rendezvousAssign(df, "doc_id", 16,
        graft.functions.HashMode.Xx64))
    assert(shuffleCount(plan) == 0)
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, s"HRW assign fell out of codegen:\n$plan")
  }

  test("Blocklist.tagMatches executes with ZERO shuffle exchanges (one scan pass)") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id")).as("text"))
    val plan = executedPlan(graft.operators.Blocklist.tagMatches(
      docs, "doc_id", "text", Seq("alpha", "beta", "w1")))
    assert(shuffleCount(plan) == 0)
  }

  test("budgetSelect: exactly one exchange (the density range shuffle), no Window") {
    val d = spark.range(5000).select(col("id"),
      (pmod(col("id") * 31, lit(100L)) + 1).cast("double").as("score"),
      (pmod(col("id"), lit(50L)) + 1).as("cost"))
    val out = graft.operators.Sampling.budgetSelect(d, "id", "score", "cost", 10000L)
    val plan = executedPlan(out)
    assert(shuffleCount(plan) <= 1, s"extra exchange:\n$plan")
    assert(!plan.toString.contains("Window"), s"window crept in:\n$plan")
  }

  test("Snapshot.diff exchanges carry the hash, never the text") {
    val o = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("body "), col("id")).as("text"))
    val n = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("BODY "), col("id")).as("text"))
    val plan = executedPlan(graft.operators.Snapshot.diff(o, n, "doc_id", "text"))
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"snapshot exchange carries raw text: $cols")
    }
  }

  test("Fusion.rrf: aggregates + bounded heap, no Window, no sort of the union") {
    val a = spark.range(2000).select((col("id") / 20).as("query_id"),
      pmod(col("id") * 7, lit(500L)).as("neighbor_id"),
      (pmod(col("id"), lit(20L)) + 1).as("rank"))
    val plan = executedPlan(graft.operators.Fusion.rrf(Seq(a, a), k = 5))
    val s = plan.toString
    assert(!s.contains("Window"), s"window crept in:\n$s")
    // one keyed exchange per list (the within-list best-rank collapse) +
    // the fusion aggregate + the per-query heap; identical lists may
    // reuse an exchange, so the bound is the worst case
    assert(shuffleCount(plan) <= 4, s"fusion plan over-shuffled:\n$s")
  }

  test("PageRank step: exchanges carry ids and doubles, never a payload; no Window") {
    val edges = spark.range(2000).select(col("id").as("src"),
      pmod(col("id") * 7 + 1, lit(2000L)).as("dst"))
    val ranks = spark.range(2000).select(col("id"), (lit(1.0) / 2000).as("rank"))
    val plan = executedPlan(graft.operators.PageRank.pageRankStep(edges, ranks))
    val s = plan.toString
    assert(!s.contains("Window"), s"window crept into the iteration:\n$s")
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name).toSet
      assert(cols.subsetOf(Set("src", "dst", "id", "cid", "deg", "rank", "contrib",
        "sum", "count")),
        s"pagerank exchange carries unexpected columns: $cols")
    }
  }

  test("clusteringCoefficients: the degree aggregate is NOT recomputed in the final plan") {
    // symmetrize/degree/orientation are materialized once in the prefix;
    // the per-node card's executed plan must consume them as RDD scans —
    // a HashAggregate producing `deg` inside the final plan would mean the
    // degree pass ran twice (the AQE-ReusedExchange "planner maybe" this
    // was rewritten to stop relying on)
    val edges = spark.range(500).select(col("id").as("src"),
      pmod(col("id") * 7 + 1, lit(500L)).as("dst"))
    val plan = executedPlan(graft.operators.Triangles.clusteringCoefficients(edges))
    val degAggs = plan.toString.linesIterator
      .count(l => l.contains("HashAggregate") && l.contains("deg#"))
    assert(degAggs == 0,
      s"degree aggregation recomputed in the consumer plan:\n$plan")
    val densityPlan = executedPlan(graft.operators.Triangles.densityCard(edges))
    // densityCard is checkpointed output — a bare scan, nothing recomputed
    assert(!densityPlan.toString.contains("HashAggregate"),
      s"densityCard must be a materialized scan:\n$densityPlan")
  }

  test("phrase alignment joins exchange (id, start) keys only — tokens never shuffle") {
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta token"), col("id")).as("text"))
    val postings = graft.operators.PhraseSearch
      .positionalPostings(docs, "doc_id", "text")
    val plan = executedPlan(graft.operators.PhraseSearch
      .phraseOccurrences(postings, Seq("alpha", "beta", "gamma")))
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name)
      assert(!cols.contains("tok") && !cols.contains("text"),
        s"phrase exchange carries token strings: $cols")
    }
  }

  test("Hits: every exchange carries at most (id, score)-width frames") {
    val edges = spark.range(1000).select(col("id").as("src"),
      pmod(col("id") * col("id") + 1, lit(1000L)).as("dst"))
    val plan = executedPlan(graft.operators.Hits.hits(edges, iters = 1))
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name)
      assert(cols.size <= 3,
        s"hits exchange carries a wide frame: $cols")
      assert(cols.forall(c => !c.contains("text") && !c.contains("vec")),
        s"hits exchange carries payload columns: $cols")
    }
  }

  test("Cooccur.pairs: per-group self-join is a hash/merge join, never nested-loop") {
    val df = spark.range(4000).select(
      pmod(col("id"), lit(200L)).as("g"),
      pmod(col("id") * 13 + 1, lit(50L)).as("item"))
    val plan = executedPlan(graft.operators.Cooccur.pairs(df, "g", "item"))
    val s = plan.toString
    assert(!s.contains("CartesianProduct"),
      s"cooccur pair join degenerated to a cartesian product:\n$s")
    assert(!s.contains("BroadcastNestedLoop"),
      s"cooccur pair join degenerated to a nested loop:\n$s")
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name)
      assert(cols.size <= 6, s"cooccur exchange carries a wide frame: $cols")
    }
  }

  test("Wand.topK: survivor set broadcasts; no NestedLoop; text never shuffles") {
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      when(col("id") < 30, lit("vector hash spark vector hash"))
        .otherwise(concat(lit("plain filler "), col("id"))).as("text"))
    val (p, b) = graft.operators.Wand.impactIndex(docs, "doc_id", "text")
    val plan = executedPlan(
      graft.operators.Wand.topK(p, b, Seq("vector", "hash"), k = 5))
    val s = plan.toString
    assert(!s.contains("NestedLoop") || s.contains("BroadcastNestedLoop"),
      s"non-broadcast nested loop in wand:\n$s")
    assert(s.contains("BroadcastExchange") || s.contains("broadcast"),
      s"survivor pruning should broadcast:\n$s")
    plan.collect { case ex: ShuffleExchangeExec =>
      val cols = ex.child.output.map(_.name)
      assert(!cols.contains("text"), s"wand exchange carries raw text: $cols")
    }
  }

  // distinct AggregateExpressions in the optimized logical plan — the
  // exact-distinct cost the sketch cards' production mode must NOT pay
  // (a single count(distinct) survives optimization as isDistinct=true;
  // approx_count_distinct is a plain HLL++ aggregate, isDistinct=false)
  private def exactDistinctAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.map(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
            if ae.isDistinct => 1
        }.sum).sum
    }.sum

  test("Diversity.distinctNApprox production mode: NO exact distinct aggregate") {
    val docs = (0L until 50L).map(i => (i, s"alpha beta gamma delta token$i"))
      .toDF("doc_id", "text")
    val prod = graft.operators.Diversity.distinctNApprox(
      docs, "text", includeExact = false)
    assert(exactDistinctAggs(prod) == 0,
      "production mode's plan must carry only the HLL++ sketch — " +
        "an exact count_distinct re-introduces the corpus-sized exchange")
    assert(prod.columns.contains("approx_distinct"))
    assert(prod.count() == 3)
    // contrast: card mode keeps the oracle-recomputable exact side — as a
    // TWO-LEVEL group count since the r16 single-scan fusion (no distinct
    // aggregate node at all: counting (n, gram) groups skips the
    // distinct-Expand row doubling), so assert the exact column + values
    val card = graft.operators.Diversity.distinctNApprox(docs, "text")
    assert(exactDistinctAggs(card) == 0)
    assert(card.columns.contains("distinct_ngrams"))
    val byN = card.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byN(1L) == 54L, s"unigram types: got ${byN(1L)}") // 4 shared + 50 tokenN
  }

  test("Overlap.overlapCard production mode: NO exact distinct aggregate") {
    val a = (0L until 40L).map(i => (i, s"shared${i % 10} only_a$i")).toDF("id", "text")
    val b = (0L until 40L).map(i => (i, s"shared${i % 10} only_b$i")).toDF("id", "text")
    val prod = graft.operators.Overlap.vocabOverlapCard(
      a, b, "text", includeExact = false)
    assert(exactDistinctAggs(prod) == 0,
      "production mode's plan must carry only the three HLL++ sketches")
    assert(prod.columns.toSeq == Seq("apx_a", "apx_b", "apx_u",
      "apx_intersect", "jaccard_approx", "abs_error_5sigma"))
    val row = prod.collect().head
    // small-universe sanity: the HLL estimate is near-exact here
    assert(row.getLong(0) > 0 && row.getLong(3) >= 0)
    // card mode: ONE rollup-grouped distinct aggregate since the r16
    // single-pass fusion (previously one aggregate per side + union = 3)
    val card = graft.operators.Overlap.vocabOverlapCard(a, b, "text")
    assert(exactDistinctAggs(card) == 1)
  }
}
