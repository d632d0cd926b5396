package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** Table-driven sweep over every entry point that materializes through
  * [[Materialize]] — the graph operators on the [[GraphLoop]] kernel and
  * every other operator whose body materializes a frame — on small fixed
  * fixtures (the shape of `WindowSweepSpec`: one table, one rule per
  * column):
  *
  *  - HYGIENE: once a result is collected, the call has left behind no
  *    persisted RDD except the ones behind the result's own plan leaves,
  *    and no cached table;
  *  - JOB BUDGET: the Spark jobs one call launches (build, rounds and the
  *    result collect) with adaptive execution off stay at or under the
  *    count measured the same way on the same fixture before the kernel
  *    existed (commit 14aca443, local[4], 4 shuffle partitions, `local`
  *    backend) — or, for the rows from `Triangles.triangles` on, before
  *    their raw checkpoints were routed through the seam (commit 79fd185);
  *  - BACKENDS: `local`, `disk` and `reliable` materialization give the
  *    same rows — integers exactly, doubles within the documented ~1e-12
  *    float-order band.
  *
  * The spec runs on its own sessions so conf set by other suites cannot
  * move its plans or job counts.
  */
class GraphLoopSweepSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val session: SparkSession = spark.newSession()

  /** Directed fixture: a two-map functional graph over 0..35, out-edges
    * into the dangling sinks 36..39, one duplicate row and one self-loop.
    */
  private def digraph(s: SparkSession): DataFrame = {
    import s.implicits._
    val base = (0L until 36L).flatMap(i => Seq((i, (i * 7 + 1) % 36), (i, (i * 5 + 3) % 40)))
    (base ++ Seq((1L, 8L), (5L, 5L))).toDF("src", "dst")
  }

  /** The same edges with weights 1..3 and one zero-weight edge. */
  private def weighted(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    digraph(s).withColumn("w",
      when(col("src") === 2L && col("dst") === 15L, lit(0.0))
        .otherwise((pmod(col("src") + col("dst"), lit(3L)) + 1).cast("double")))
  }

  /** A chain of 3-cycles with a tail — several SCC waves. */
  private def cycles(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 6L).flatMap { k =>
      val b = 3L * k
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b)) ++ (if (k < 5) Seq((b + 2, b + 3)) else Nil)
    }.toDF("src", "dst")
  }

  private def seeds(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, 1.0), (3L, 2.0), (11L, 1.0)).toDF("id", "weight")
  }

  private def labels(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, 1.0), (3L, 0.5), (11L, 1.0)).toDF("id", "label")
  }

  private def uniformRanks(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 40L).map(i => (i, 1.0 / 40)).toDF("id", "rank")
  }

  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("the quick brown fox jumps over the lazy dog",
      "the lazy dog sleeps while the quick fox runs",
      "a quick brown dog and a lazy brown fox",
      "the fox and the dog are friends").toDF("text")
  }

  /** Event log for [[Funnel.funnel]]: users 1..6 stepping through
    * view -> click -> buy, some out of order.
    */
  private def events(s: SparkSession): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    Seq((1L, "view", 1L), (1L, "click", 5L), (1L, "buy", 9L), (2L, "click", 2L),
      (2L, "view", 4L), (3L, "view", 3L), (3L, "view", 7L), (4L, "view", 2L),
      (4L, "click", 3L), (5L, "view", 6L), (5L, "click", 8L), (5L, "buy", 8L))
      .toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
  }

  /** Doc pairs sharing a 4..16-word prefix of 20 — a similarity ladder. */
  private def ladder(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 8).flatMap { i =>
      val keep = 4 + (i % 4) * 4
      val a = (0 until 20).map(w => s"w${i}_$w")
      val b = a.take(keep) ++ (0 until (20 - keep)).map(w => s"x${i}_$w")
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
  }

  /** 60 deterministic 8-dim vectors with a 4-valued `label`; the first
    * four are the quantizer.
    */
  private def vectors(s: SparkSession): DataFrame = {
    import s.implicits._
    def vec(i: Long): Seq[Float] = (0 until 8).map(j =>
      ((graft.functions.StableHash.fnv64(s"sweep:$i:$j") >>> 12).toDouble /
        (1L << 52) * 2 - 1).toFloat)
    (0L until 60L).map(i => (i, vec(i), i % 4)).toDF("vec_id", "embedding", "label")
  }

  private def cents(s: SparkSession): DataFrame =
    vectors(s).filter("vec_id < 4").select("vec_id", "embedding")

  /** The last ten vectors as queries, each with a wire predicate on
    * `label` (IN(0) / >= 2 / IN(0, 1)) and a tier.
    */
  private def filtered(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.predicates._
    def blob(mod: Long): Array[Byte] = PNodeCodec.encodeFramed(mod match {
      case 0 => PredicateNode.namedTyped("label", OpType.IN, Comparand.IntVal(0))
      case 1 => PredicateNode.namedTyped("label", OpType.GE, Comparand.IntVal(2))
      case _ => PredicateNode.namedTyped("label", OpType.IN, Comparand.IntVal(0),
        Comparand.IntVal(1))
    }, PNodeCodec.Mode.NamedTyped)
    val blobUdf = udf((qid: Long) => blob(qid % 3))
    vectors(s).filter("vec_id >= 50")
      .withColumn("predicate", blobUdf(col("vec_id")))
      .withColumn("tier", when(pmod(col("vec_id"), lit(2)) === 0, "a").otherwise("b"))
  }

  private def metaIndex(s: SparkSession): DataFrame =
    Ann.ivfIndexWithMeta(vectors(s), cents(s), metaCols = Seq("label"))

  private def stats(s: SparkSession): DataFrame =
    Ann.cellSelectivityStats(metaIndex(s), "label")

  private val bundles = scala.collection.mutable.Buffer.empty[java.io.File]

  override def afterAll(): Unit =
    try bundles.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    finally super.afterAll()

  /** A fresh HNSW bundle over the first 50 vectors. */
  private def bundle(s: SparkSession): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep-hnsw").toFile
    bundles.synchronized(bundles += dir)
    val base = vectors(s).filter("vec_id < 50").select("vec_id", "embedding")
    Hnsw.writeBundle(Hnsw.hnswIndex(base, cents(s), m = 4, efConstruction = 16),
      cents(s), dir.toString)
    dir.toString
  }

  /** Entry point -> the call under test, and the job count the same call
    * made at commit 14aca443 (before the kernel; at 79fd185 for the rows
    * from `Triangles.triangles` on), adaptive execution off. The HNSW rows
    * return the bundle's cells as read back after the write.
    */
  private val entries: Seq[(String, SparkSession => DataFrame, Int)] = Seq(
    ("PageRank.pageRank", s => PageRank.pageRank(digraph(s), iters = 3), 17),
    ("PageRank.pageRank weighted",
      s => PageRank.pageRank(weighted(s), iters = 3, weightCol = Some("w")), 17),
    ("PageRank.pageRankUntil",
      s => PageRank.pageRankUntil(digraph(s), eps = 1e-3, maxIters = 4)._1, 21),
    ("PageRank.pageRankResume",
      s => PageRank.pageRankResume(digraph(s), uniformRanks(s), eps = 1e-3, maxIters = 4)._1, 23),
    ("PageRank.personalizedPageRank",
      s => PageRank.personalizedPageRank(digraph(s), seeds(s), iters = 3), 19),
    ("PageRank.personalizedPageRank weighted",
      s => PageRank.personalizedPageRank(weighted(s), seeds(s), iters = 3,
        edgeWeightCol = Some("w")), 19),
    ("PageRank.pageRankStep", s => PageRank.pageRankStep(digraph(s), uniformRanks(s)), 8),
    ("PageRank.l1Delta", s => PageRank.l1Delta(digraph(s), uniformRanks(s)), 8),
    ("LabelProp.propagate", s => LabelProp.propagate(digraph(s), labels(s), iters = 3), 9),
    ("LabelProp.propagate weighted",
      s => LabelProp.propagate(weighted(s), labels(s), iters = 3, weightCol = Some("w")), 9),
    ("Hits.hits", s => Hits.hits(digraph(s), iters = 3), 15),
    ("Katz.katz", s => Katz.katz(digraph(s), iters = 3), 7),
    ("KCore.kCoreEdges", s => KCore.kCoreEdges(digraph(s), k = 3), 18),
    ("KCore.coreMembership", s => KCore.coreMembership(digraph(s), ks = Seq(2, 3)), 23),
    ("KCore.sCoreEdges", s => KCore.sCoreEdges(weighted(s), s = 6.0), 24),
    ("KCore.coreness", s => KCore.coreness(digraph(s)), 42),
    ("Neighborhoods.boundedDistances",
      s => Neighborhoods.boundedDistances(digraph(s), radius = 3), 10),
    ("Neighborhoods.neighborhoodFunction",
      s => Neighborhoods.neighborhoodFunction(digraph(s), radius = 3), 10),
    ("Neighborhoods.harmonicCentrality",
      s => Neighborhoods.harmonicCentrality(digraph(s), radius = 3), 10),
    ("Neighborhoods.boundedWeightedDistances",
      s => Neighborhoods.boundedWeightedDistances(weighted(s), seeds(s).select("id"),
        rounds = 3), 8),
    ("Neighborhoods.hyperBall", s => Neighborhoods.hyperBall(digraph(s), radius = 3), 8),
    ("TextRank.tokenRanks",
      s => TextRank.tokenRanks(docs(s), "text", minCount = 1L, iters = 3), 17),
    ("TextRank.keywords",
      s => TextRank.keywords(docs(s), "text", topK = 5, minCount = 1L, iters = 3), 17),
    ("Scc.scc", s => Scc.scc(cycles(s).unionByName(digraph(s))), 34),
    ("Scc.bowTie", s => Scc.bowTie(cycles(s).unionByName(digraph(s))), 46),
    ("Dedup.connectedComponents",
      s => Dedup.connectedComponents(
        digraph(s).withColumnRenamed("src", "id_a").withColumnRenamed("dst", "id_b"),
        driverEdgeThreshold = 0), 18),
    ("Dedup.propagateMinLabels",
      s => Dedup.propagateMinLabels(
        digraph(s).withColumnRenamed("src", "s").withColumnRenamed("dst", "t"),
        maxIterations = 20)._1, 21),
    ("Triangles.triangles", s => Triangles.triangles(digraph(s)), 5),
    ("Triangles.clusteringCoefficients", s => Triangles.clusteringCoefficients(digraph(s)), 5),
    ("Triangles.weightedClusteringCoefficients",
      s => Triangles.weightedClusteringCoefficients(weighted(s)), 6),
    ("Triangles.modularity", s => {
      import s.implicits._
      Triangles.modularity(digraph(s), (0L until 40L).map(i => (i, i % 4)).toDF("id", "community"))
    }, 10),
    ("Triangles.densityCard", s => Triangles.densityCard(digraph(s)), 7),
    ("Triangles.healthCard", s => Triangles.healthCard(digraph(s)), 8),
    ("Cooccur.pairs", s => Cooccur.pairs(digraph(s).selectExpr("src % 9 AS g",
      "dst % 7 AS item"), "g", "item", maxGroupSize = 6L), 8),
    ("TfIdf.pmiCollocations", s => TfIdf.pmiCollocations(docs(s), "text", 1L, 5), 7),
    ("Funnel.funnel", s => Funnel.funnel(events(s), Seq("view", "click", "buy")), 5),
    ("RandomWalks.walks", s => RandomWalks.walks(digraph(s), seeds(s), length = 3), 9),
    ("Matryoshka.recallCurve", s => Matryoshka.recallCurve(
      vectors(s).filter("vec_id >= 50"), vectors(s).filter("vec_id < 50"), Seq(4, 8), k = 3),
      10),
    ("Ann.recallCurve", s => Ann.recallCurve(vectors(s).filter("vec_id >= 50"), vectors(s),
      cents(s), k = 3, nProbes = Seq(1, 2), excludeSelf = true), 9),
    ("Ann.filteredRecallCurve", s => Ann.filteredRecallCurve(filtered(s), vectors(s),
      cents(s), k = 3, nProbes = Seq(1, 2), tierCol = "tier", metadataCols = Seq("label"),
      excludeSelf = true), 11),
    ("Ann.ivfStalenessCard", s => Ann.ivfStalenessCard(vectors(s).filter("vec_id >= 50"),
      vectors(s).select("vec_id", "embedding"),
      Seq("a" -> cents(s), "b" -> vectors(s).filter("vec_id >= 56").select("vec_id",
        "embedding")), k = 3, nProbe = 2, metric = "EUCLIDEAN", excludeSelf = true), 13),
    ("Ann.safetyCalibrationCard", s => Ann.safetyCalibrationCard(filtered(s), metaIndex(s),
      cents(s), stats(s), "label", k = 3, safeties = Seq(1.0, 3.0), minProbe = 1,
      maxProbe = 4, tierCol = "tier", targetRecall = 0.5, metadataCols = Seq("label"),
      excludeSelf = true), 17),
    ("Ann.ivfSearchFilteredGuaranteed", s => Ann.ivfSearchFilteredGuaranteed(filtered(s),
      metaIndex(s), cents(s), k = 3, nProbe = 1, metadataCols = Seq("label"),
      excludeSelf = true), 9),
    ("Ann.routePlan", s => Ann.routePlan(filtered(s), stats(s), "label", exactMax = 16L,
      wideFraction = 0.4), 4),
    ("Ann.hybridSearchRouted", s => Ann.hybridSearchRouted(filtered(s), metaIndex(s),
      cents(s), stats(s), "label", k = 3, exactMax = 16L, wideFraction = 0.4,
      nProbeWide = 2, safety = 2.0, minProbe = 1, maxProbe = 4,
      metadataCols = Seq("label"), excludeSelf = true), 16),
    ("Ann.routerReportCard", s => Ann.routerReportCard(filtered(s), metaIndex(s),
      cents(s), stats(s), "label", k = 3, exactMax = 16L, wideFraction = 0.4,
      nProbeWide = 2, safety = 2.0, minProbe = 1, maxProbe = 4,
      metadataCols = Seq("label"), excludeSelf = true), 24),
    ("Pq.ivfPqSearchFilteredGuaranteed", s => {
      val cbs = Pq.subsetCodebooks(vectors(s).filter("vec_id < 16"), m = 4)
      val index = Pq.ivfPqIndex(vectors(s), cents(s), cbs)
        .join(vectors(s).selectExpr("vec_id AS id", "label"), Seq("id"))
      Pq.ivfPqSearchFilteredGuaranteed(filtered(s), index, cents(s), cbs, k = 3,
        nProbe = 1, metadataCols = Seq("label"), excludeSelf = true)
    }, 7),
    ("Dedup.lshCalibrationCard", s => Dedup.lshCalibrationCard(ladder(s), "doc_id", "text",
      n = 3, numPerms = 12, configs = Seq((4, 3), (3, 4)), nBuckets = 3), 7),
    ("Bpe.train", s => Bpe.train(docs(s), "text", numMerges = 8), 2),
    ("Hnsw.appendToBundle", s => {
      val dir = bundle(s)
      Hnsw.appendToBundle(vectors(s).filter("vec_id >= 50").select("vec_id", "embedding"),
        dir, m = 4, efConstruction = 16)
      s.read.parquet(s"$dir/cells")
    }, 9),
    ("Hnsw.deleteFromBundle", s => {
      val dir = bundle(s)
      Hnsw.deleteFromBundle(vectors(s).filter("vec_id % 7 = 3").select("vec_id"), dir,
        m = 4, efConstruction = 16)
      s.read.parquet(s"$dir/cells")
    }, 10),
    ("Hnsw.compactBundle", s => {
      val dir = bundle(s)
      Hnsw.tombstoneFromBundle(vectors(s).filter("vec_id % 7 = 3").select("vec_id"), dir)
      Hnsw.compactBundle(s, dir, m = 4, efConstruction = 16)
      s.read.parquet(s"$dir/cells")
    }, 11)
  )

  /** Adaptive execution off: a job count under AQE includes one job per
    * runtime query stage, and which stages get created moves with stage
    * completion timing on a loaded machine. Without it the count is the
    * call's own actions and broadcasts — the materializations, witnesses
    * and counts the kernel decides.
    */
  private lazy val static: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Jobs launched while `body` runs, with the listener bus drained on
    * both sides so no earlier job leaks into the count.
    */
  private def countingJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(static)
    static.sparkContext.addSparkListener(listener)
    try {
      body
      Bridge.waitListenerBusEmpty(static)
      jobs.get
    } finally static.sparkContext.removeSparkListener(listener)
  }

  private def leafRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet

  private def noCachedTables: Boolean =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  entries.foreach { case (name, call, budget) =>
    test(s"$name: leaves only its result's blocks behind") {
      val sc = session.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cleanBefore = noCachedTables
      val df = call(session)
      df.collect()
      try {
        val left = sc.getPersistentRDDs.keySet -- before -- leafRdds(df)
        assert(left.isEmpty,
          s"$name left ${left.size} persisted RDD(s) its result does not read: " +
            left.toSeq.sorted.map(id => sc.getPersistentRDDs(id).toString).mkString(", "))
        assert(!cleanBefore || noCachedTables, s"$name left a cached table behind")
      } finally {
        Materialize.free(df)
        (sc.getPersistentRDDs -- before).values
          .foreach(org.apache.spark.graftbridge.CoreBridge.unpersistQuietly)
        session.catalog.clearCache()
      }
    }

    test(s"$name: stays within its job budget") {
      var df: DataFrame = null
      val jobs = countingJobs { df = call(static); df.collect() }
      Materialize.free(df)
      info(s"$name: $jobs jobs (budget $budget)")
      assert(jobs <= budget, s"$name ran $jobs jobs, over its budget of $budget")
    }
  }

  private def canonical(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq).sortBy(_.map {
      case _: Double => ""
      case v => String.valueOf(v)
    }.mkString("\u0001"))

  entries.foreach { case (name, call, _) =>
    test(s"$name: local, disk and reliable backends agree") {
      val dir = java.nio.file.Files.createTempDirectory("graft-sweep-ckpt")
      def run(backend: String): Seq[Seq[Any]] = {
        session.conf.set("spark.graft.materialize.backend", backend)
        session.conf.set("spark.graft.materialize.dir", dir.toString)
        val df = call(session)
        try canonical(df.collect()) finally Materialize.free(df)
      }
      try {
        val local = run("local")
        Seq("disk", "reliable").foreach { b =>
          val other = run(b)
          assert(other.size == local.size, s"$name: $b has ${other.size} rows, local ${local.size}")
          local.zip(other).foreach { case (l, o) =>
            assert(l.size == o.size)
            l.zip(o).foreach {
              case (x: Double, y: Double) =>
                assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)),
                  s"$name: $b drifted beyond the float-order band: $l vs $o")
              case (x, y) => assert(x == y, s"$name: $b differs: $l vs $o")
            }
          }
        }
      } finally {
        session.conf.unset("spark.graft.materialize.backend")
        session.conf.unset("spark.graft.materialize.dir")
        org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      }
    }
  }
}
