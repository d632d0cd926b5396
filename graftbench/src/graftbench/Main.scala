package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session, fixtures, a warm-up of a fixed
  * number of sequential operations, then a closed loop of single operations
  * for `--seconds`. Writes the raw record (`result.json`) that `run.py`
  * turns into metrics, plus the trace files when `--trace 1`.
  *
  * Usage: graftbench.Main --workload W --seed S --seconds T --trace 0|1
  *   --work DIR --trace-dir DIR [--t0-epoch-ns N] [--cpus C] [--warmup OPS]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(a("work")))
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val t0 = a.get("t0-epoch-ns").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L)
    def sinceStart(): Double = {
      val now = java.time.Instant.now()
      (now.getEpochSecond * 1000000000L + now.getNano - t0) / 1e9
    }
    val bootS = sinceStart()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // everything the run writes stays under its scratch directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val sessionS = sinceStart()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, work, seed, tracer)
    val wl = Workload(workload, ctx)
    val probes = new LayerProbes(ctx, wl)
    wl.setup()
    val fixturesS = sinceStart()

    // warm-up: a fixed number of sequential ops, the same ops as measured
    val warmOps = a.get("warmup").map(_.toInt).getOrElse(wl.warmupOps)
    require(warmOps % wl.groupSize == 0, s"warm-up must be whole groups of ${wl.groupSize}")
    val warmLat = (0 until warmOps).map { i =>
      val s = System.nanoTime(); wl.op(i, record = false); (System.nanoTime() - s) / 1e9
    }
    val drainS = if (seconds > 0) Jit.drain(maxSeconds = 15) else 0.0
    val setupS = sinceStart()

    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    var failed = 0
    val jit0 = Proc.jitMs; val gc0 = Proc.gcMs; val (steal0, jif0) = Proc.cpuJiffies
    val start = System.nanoTime()
    var i = warmOps.toLong
    def elapsed = (System.nanoTime() - start) / 1e9
    def measured = i - warmOps
    while (elapsed < seconds || measured % wl.groupSize != 0 ||
        (seconds > 0 && measured < wl.minMeasuredOps)) {
      val traced = trace && ((i - warmOps) / wl.groupSize) % 2 == 0
      val c0 = Proc.cpuNs; val g0 = Proc.gcMs; val j0 = Proc.jitMs
      val firstSpan = tracer.map(_.spans.size).getOrElse(0)
      tracer.filter(_ => traced).foreach { t => t.attach(); t.resetPeak() }
      ctx.tracing = traced
      val s = System.nanoTime()
      val out =
        try Some(tracer.filter(_ => traced) match {
          case Some(t) => t.op(i, "op")(wl.op(i, record = true))
          case None => wl.op(i, record = true)
        })
        catch { case e: Exception =>
          System.err.println(s"[graftbench] op $i failed: $e"); failed += 1; None
        }
      val lat = (System.nanoTime() - s) / 1e9
      val cpu = (Proc.cpuNs - c0) / 1e9; val gc = (Proc.gcMs - g0) / 1e3
      val jit = (Proc.jitMs - j0) / 1e3
      out.foreach { case (kind, units) =>
        samples += Map("op" -> i, "kind" -> kind, "latency_s" -> lat, "cpu_s" -> cpu,
          "gc_s" -> gc, "jit_s" -> jit, "work" -> units, "traced" -> traced, "rss_mb" -> Proc.statusMb("VmRSS"))
      }
      for (t <- tracer if traced) {
        org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
        val storagePeak = t.storagePeakBytes; val blocksLeft = t.rddBlocksHeld
        val lastOfGroup = (i - warmOps) % wl.groupSize == wl.groupSize - 1
        val probeValues = if (out.isDefined && lastOfGroup) probes.run(t, i)
          else Map.empty[String, Double]
        t.detach()
        ctx.tracing = false
        if (out.isDefined) {
          val opSpan = t.spans(firstSpan)
          layers += opLayers(t, opSpan, cpus, gc) ++ wl.layerValues(t, opSpan) ++ probeValues ++
            probeLayers(t, t.spans.drop(firstSpan + 1).filter(_.parent == -1).toSeq) ++ Map(
              "spark.storage_peak_mb" -> storagePeak / 1048576.0,
              "spark.cached_blocks_left" -> blocksLeft.toDouble,
              "op.latency_s" -> lat)
        }
      }
      i += 1
    }
    val measuredS = elapsed
    val (steal1, jif1) = Proc.cpuJiffies
    val noise = Map(
      "steal_pct" -> (if (jif1 > jif0) 100.0 * (steal1 - steal0) / (jif1 - jif0) else 0.0),
      "loadavg_1m" -> Proc.loadAvg1m,
      "gc_s" -> (Proc.gcMs - gc0) / 1e3,
      "jit_s" -> (Proc.jitMs - jit0) / 1e3,
      "measured_s" -> measuredS)
    val vmHwm = Proc.statusMb("VmHWM")

    val extra = wl.finish()
    tracer.foreach(t => writeTrace(t, Paths.get(a("trace-dir"))))
    Report.writeJson(work.resolve("result.json"), Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "work_unit" -> wl.workUnit,
      "phases" -> Map("jvm_boot_s" -> bootS, "session_s" -> (sessionS - bootS),
        "fixtures_s" -> (fixturesS - sessionS), "warmup_s" -> (setupS - fixturesS),
        "warmup_ops" -> warmOps, "cold_first_op_s" -> warmLat.headOption.getOrElse(0.0), "jit_drain_s" -> drainS,
        "setup_s" -> setupS),
      "warmup_latency_s" -> warmLat,
      "ops" -> samples.toSeq, "failed" -> failed, "noise" -> noise,
      "vm_hwm_mb" -> vmHwm, "layers" -> layers.toSeq, "extra" -> extra))
    spark.stop()
  }

  /** Layer values of one traced op from its span tree and Spark counts. */
  private def opLayers(t: Tracer, op: Span, cpus: Int, gcS: Double): Map[String, Double] = {
    val c = t.subtreeCounts(op.id)
    val busy = t.jobBusySeconds(op, c.jobIntervals.toSeq)
    Map(
      "spark.plan_s" -> c.planMs / 1e3,
      "spark.driver_gap_s" -> (op.seconds - busy),
      "spark.job_busy_s" -> busy,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.cpu_util" -> (if (busy > 0) c.taskCpuNs / 1e9 / (busy * cpus) else 0.0),
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "jvm.gc_s" -> gcS)
  }

  /** Single-layer probes run after a traced op, outside its latency. */
  private def probeLayers(t: Tracer, probes: Seq[Span]): Map[String, Double] =
    probes.flatMap { p =>
      p.name match {
        case "XvecIO.read(noop)" => Seq("sources.read_s" -> p.seconds,
          "sources.read_partitions" -> t.subtreeCounts(p.id).tasks.toDouble)
        case "Generators.gaussianVectors(noop)" => Seq("operators.gen_s" -> p.seconds)
        case _ => Nil
      }
    }.toMap

  private def writeTrace(t: Tracer, dir: Path): Unit = {
    Files.createDirectories(dir)
    Report.writeLines(dir.resolve("spans.jsonl"), t.spans.iterator.map { s =>
      val c = t.counts.getOrElse(s.id, new Counts)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> t.epochMs(s.startNs), "end_ms" -> t.epochMs(s.endNs),
        "duration_s" -> s.seconds, "self_s" -> t.selfSeconds(s), "jobs" -> c.jobs,
        "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9)
    })
    Report.writeJson(dir.resolve("counts.json"), t.spans.filter(_.parent == -1).map { s =>
      val c = t.subtreeCounts(s.id)
      Map("span" -> s.id, "op" -> s.op, "name" -> s.name, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "task_run_s" -> c.taskRunMs / 1e3, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "plan_s" -> c.planMs / 1e3, "query_executions" -> c.queryExecutions,
        "job_busy_s" -> t.jobBusySeconds(s, c.jobIntervals.toSeq))
    }.toSeq)
    // self time per (layer, name), summed over the traced ops
    val self = t.spans.groupBy(s => (s.layer, s.name)).map { case ((layer, name), ss) =>
      Map("layer" -> layer, "name" -> name, "spans" -> ss.size,
        "self_s" -> ss.map(t.selfSeconds).sum, "total_s" -> ss.map(_.seconds).sum,
        "jobs" -> ss.map(s => t.counts.get(s.id).map(_.jobs).getOrElse(0)).sum)
    }.toSeq.sortBy(m => -m("self_s").asInstanceOf[Double])
    Report.writeJson(dir.resolve("self_time.json"), self)
  }
}
