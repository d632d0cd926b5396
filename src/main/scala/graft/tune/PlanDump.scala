package graft.tune

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Round-15 optimization instrumentation: dump `.explain("formatted")` for
  * named queries (and representative per-round step plans for the
  * iterative operators, whose query-level plans are materialized-leaf
  * chains) into plans/r15/<name>_<suffix>.txt. Usage:
  *   runMain graft.tune.PlanDump <suffix> <name>[,<name>...]
  * Names are either full query names (q287_pagerank) or the special step
  * probes: pagerank_step, labelprop_step, pageranksum_step.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r16"))
    Files.createDirectories(outDir)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
    }

    names.foreach {
      case "pagerank_step" =>
        // the per-round update plan — the thing the iterative queries pay
        // 10–50 times; the query-level explain only shows the final
        // materialized leaf chain
        val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            explode(array(lit(0), lit(1), lit(2))).as("j"))
          .select(col("src"), ((col("src") * 7 + col("j") * 13 + 1) % n).as("dst"))
          .filter(col("dst") =!= col("src"))
        val ranks = graft.operators.Materialize.view(docs.select(col("doc_id").as("id"),
          (lit(1.0) / n).as("rank")))
        dump("pagerank_step",
          graft.operators.PageRank.pageRankStep(edges, ranks))
      case "labelprop_step" =>
        // one full propagate call's plan is iterative; dump 1-iter run
        val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            explode(array(lit(0), lit(1), lit(2))).as("j"))
          .select(col("src"), ((col("src") * 7 + col("j") * 13 + 1) % n).as("dst"))
          .filter(col("dst") =!= col("src"))
        val seeds = docs.filter(col("doc_id") < 10)
          .select(col("doc_id").as("id"), lit(1.0).as("label"))
        dump("labelprop_1iter",
          graft.operators.LabelProp.propagate(edges, seeds, iters = 1))
      case "iter_profile" =>
        // EMPIRICAL job breakdown of the iterative operators on the query
        // fixtures: per-call wall time + JOB COUNT — the witness-fusion
        // evidence (the fused loops run ONE job per round where the old
        // shape ran two or three; plan dumps cannot show this) and the
        // number that says whether the family is stage-compute-bound or
        // job-overhead-bound at this SF (guide §1.1 empirical loop)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
        val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            t0.put(js.jobId, System.nanoTime())
            jobs.put(js.jobId, (0L, js.stageInfos.size))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = Option(t0.get(je.jobId)).getOrElse(0L)
            val (_, ns) = jobs.getOrDefault(je.jobId, (0L, 0))
            jobs.put(je.jobId, (System.nanoTime() - st, ns))
          }
        }
        val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
        val n = docs.count()
        val edges = docs.select(col("doc_id").as("src"),
            explode(array(lit(0), lit(1), lit(2))).as("j"))
          .select(col("src"), ((col("src") * 7 + col("j") * 13 + 1) % n).as("dst"))
          .filter(col("dst") =!= col("src"))
        val quad = docs.select(col("doc_id").as("src"),
            explode(array(lit(0), lit(1), lit(2))).as("j"))
          .select(col("src"),
            ((col("src") * col("src") + 1 + col("j") * 17) % n).as("dst"))
          .filter(col("dst") =!= col("src"))
        import scala.jdk.CollectionConverters._
        val sb = new StringBuilder
        def profile(name: String)(body: => Unit): Unit = {
          jobs.clear(); t0.clear()
          spark.sparkContext.addSparkListener(listener)
          val w0 = System.nanoTime()
          body
          val wall = (System.nanoTime() - w0) / 1e9
          org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
          spark.sparkContext.removeSparkListener(listener)
          val rows = jobs.asScala.toSeq.sortBy(_._1)
          sb.append(f"$name%-28s wall $wall%6.2f s  jobs ${rows.size}%3d  " +
            f"stages ${rows.map(_._2._2).sum}%3d  " +
            f"job-time sum ${rows.map(_._2._1).sum / 1e9}%6.2f s\n")
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.mode("overwrite").format("noop").save()
        profile("pagerank_10iters") {
          noop(graft.operators.PageRank.pageRank(edges, iters = 10))
        }
        profile("pagerank_until_eps4e-3") {
          noop(graft.operators.PageRank
            .pageRankUntil(quad, eps = 0.004, maxIters = 10)._1)
        }
        profile("scc") {
          noop(graft.operators.Scc.scc(quad))
        }
        profile("coreness") {
          noop(graft.operators.KCore.coreness(
            edges.select(col("src"), col("dst"))))
        }
        profile("connected_components") {
          noop(graft.operators.Dedup.connectedComponents(
            edges.select(col("src").as("id_a"), col("dst").as("id_b")),
            driverEdgeThreshold = 0))
        }
        Files.writeString(outDir.resolve(s"iter_profile_$suffix.txt"),
          sb.toString)
        System.err.println(s"[plandump] wrote iter_profile_$suffix.txt")
      case name if name.startsWith("profile:") =>
        // per-JOB wall breakdown of one declared query, with job
        // descriptions — the q308-style "where do the seconds go" probe
        val qname = name.stripPrefix("profile:")
        val fn = graft.SparkEntry.queries(qname)
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(js.jobId, (System.nanoTime(), 0L,
              Option(js.properties.getProperty("spark.job.description"))
                .orElse(Option(js.properties.getProperty("callSite.short")))
                .getOrElse("")))
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (st, _, d) = jobs.getOrDefault(je.jobId, (0L, 0L, ""))
            jobs.put(je.jobId, (st, System.nanoTime(), d))
          }
        }
        // untimed warmup pass so the profile measures the plan, not JIT
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        spark.sparkContext.addSparkListener(listener)
        val w0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - w0) / 1e9
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val rows = jobs.asScala.toSeq.sortBy(_._1)
        val sb = new StringBuilder
        sb.append(f"$qname wall $wall%.2f s, ${rows.size} jobs, " +
          f"job-time sum ${rows.map(r => r._2._2 - r._2._1).sum / 1e9}%.2f s " +
          "(2nd run, post-warmup)\n")
        var prevEnd = w0
        rows.foreach { case (id, (st, en, d)) =>
          sb.append(f"job $id%4d gap ${math.max(0, st - prevEnd) / 1e6}%7.1f ms " +
            f"run ${(en - st) / 1e6}%8.1f ms  ${d.take(110)}\n")
          prevEnd = en
        }
        Files.writeString(outDir.resolve(s"${qname}_jobprofile_$suffix.txt"),
          sb.toString)
        System.err.println(s"[plandump] wrote ${qname}_jobprofile_$suffix.txt")
      case name =>
        graft.SparkEntry.queries.get(name) match {
          case Some(fn) => dump(name, fn(spark, sfDir))
          case None => System.err.println(s"[plandump] unknown query $name")
        }
    }
    spark.stop()
  }
}
