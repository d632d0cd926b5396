package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** Table-driven sweep over every graph-operator entry point that runs on
  * the [[GraphLoop]] kernel, on small fixed fixtures (the shape of
  * `WindowSweepSpec`: one table, one rule per column):
  *
  *  - HYGIENE: once a result is collected, the call has left behind no
  *    persisted RDD except the ones behind the result's own plan leaves,
  *    and no cached table;
  *  - JOB BUDGET: the Spark jobs one call launches (build, rounds and the
  *    result collect) with adaptive execution off stay at or under the
  *    count measured the same way on the same fixture before the kernel
  *    existed (commit 14aca443, local[4], 4 shuffle partitions, `local`
  *    backend);
  *  - BACKENDS: `local`, `disk` and `reliable` materialization give the
  *    same rows — integers exactly, doubles within the documented ~1e-12
  *    float-order band.
  *
  * The spec runs on its own sessions so conf set by other suites cannot
  * move its plans or job counts.
  */
class GraphLoopSweepSpec extends SparkSpec {

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

  /** Entry point -> the call under test, and the job count the same call
    * made at commit 14aca443 (before the kernel), adaptive execution off.
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
        maxIterations = 20)._1, 21)
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
