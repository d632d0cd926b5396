package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def loadAvg1m(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // idle gate: four rounds running, committed benches have carried
    // machine-load artifacts (r11: 302 s vs 181 s at loadavg 5.02; r12:
    // min-sum 288.6 s committed vs 196.1 s on idle hardware — load that
    // ARRIVED MID-RUN, after the single pre-sweep gate passed). The gate
    // therefore runs before EVERY sweep, not just the first: spin until
    // the 1-min loadavg drops under the threshold or the bounded timeout
    // fires. Each gate's verdict is recorded per sweep and any timed-out
    // gate (or any sweep that ENDED over threshold) stamps the committed
    // artifact `"contaminated": true` — the artifact adjudicates itself
    // instead of needing an external idle re-run to explain it.
    val gateThreshold = sys.env.getOrElse("SPARK_GRAFT_IDLE_GATE", "4.0").toDouble
    val gateTimeoutS = sys.env.getOrElse("SPARK_GRAFT_IDLE_TIMEOUT", "150").toLong
    final case class Gate(start: Double, end: Double, waitedMs: Long, timedOut: Boolean)
    def idleGate(tag: String): Gate = {
      val start = loadAvg1m()
      var waited = 0L
      if (gateThreshold > 0 && start >= 0) {
        val deadline = System.nanoTime() + gateTimeoutS * 1000L * 1000 * 1000
        while (loadAvg1m() > gateThreshold && System.nanoTime() < deadline) {
          Thread.sleep(2000)
          waited += 2000
        }
      }
      val end = loadAvg1m()
      val timedOut = gateThreshold > 0 && end > gateThreshold
      System.err.println(f"[bench] idle gate ($tag): load $start%.2f -> " +
        f"$end%.2f after ${waited / 1000} s" +
        (if (timedOut) " (TIMED OUT — this sweep may be contaminated)" else ""))
      Gate(start, end, waited, timedOut)
    }
    val gate0 = idleGate("startup")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/JIT/codegen + parquet reader init are process
    // costs, not plan costs — without this the alphabetically-first query
    // absorbs ~4s of one-time setup
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.mode("overwrite").format("noop").save()
      // JIT-warm the hot typed kernels (tokenize/shingle-hash, vector
      // distance) on a small slice so the first dedup/KNN query measures
      // its plan, not first-compile of the kernel bytecode
      import org.apache.spark.sql.functions._
      graft.operators.Dedup.hashedShingleSets(
          Tables.documents(spark, sfDir).limit(2000), "doc_id", "text", 3)
        .write.mode("overwrite").format("noop").save()
      val emb = Tables.embeddings(spark, sfDir).limit(500)
      graft.operators.Knn.knn(emb.limit(8), emb, k = 4)
        .write.mode("overwrite").format("noop").save()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // Optional subset for local profiling: SPARK_GRAFT_ONLY=q82,q45
    // Median of N full sweeps (default 3): a machine-load / page-cache /
    // JIT swing inflates one sweep, not the per-query median — round 5's
    // +27% "regression" on byte-identical code was exactly this artifact.
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "3").toInt
    require(sweeps >= 1, s"SPARK_GRAFT_SWEEPS must be >= 1, got $sweeps")
    def runSweep(): Seq[(String, Double)] =
      SparkEntry.selectedQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every output column —
        // count() would let Catalyst prune the computation under test
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            false
          }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // per-sweep contamination telemetry: a loaded machine or a GC storm
    // inflates a sweep uniformly — round 8's committed bench carried a 40×
    // load artifact (q185 22.6 s vs 0.56 s idle) that only an external
    // re-run could diagnose. loadavg + GC delta per sweep make the
    // committed artifact self-explaining.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // hypervisor steal time per sweep: the r13 artifacts carried ~3.5%
    // steal that loadavg could NOT see (the thief was outside the VM) —
    // an idle-gated, load-clean sweep still inflated 30%+. Reading
    // /proc/stat's steal jiffies around each sweep names WHICH kind of
    // contamination a bad artifact carries (host-external vs our own).
    def cpuJiffies(): (Long, Long) =
      try {
        val parts = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (parts.length > 7) parts(7) else 0L, parts.sum)
      } catch { case _: Throwable => (-1L, -1L) }
    val sweepLoad = Array.fill(sweeps)(-1.0)
    val sweepGcMs = Array.fill(sweeps)(0L)
    val sweepSteal = Array.fill(sweeps)(-1.0)
    val sweepGates = Array.fill(sweeps)(null: Gate)
    val bySweep = (1 to sweeps).map { i =>
      // re-gate EVERY sweep: load arriving mid-run (the r12 artifact) is
      // caught at the next sweep boundary instead of poisoning the rest
      sweepGates(i - 1) = if (i == 1) gate0 else idleGate(s"sweep $i")
      val gc0 = gcMillis()
      val (steal0, total0) = cpuJiffies()
      val r = runSweep()
      val (steal1, total1) = cpuJiffies()
      sweepSteal(i - 1) =
        if (steal0 < 0 || total1 <= total0) -1.0
        else 100.0 * (steal1 - steal0) / (total1 - total0)
      sweepLoad(i - 1) = loadAvg1m()
      sweepGcMs(i - 1) = gcMillis() - gc0
      System.err.println(f"[bench] sweep $i/$sweeps total ${r.map(_._2).filter(_ >= 0).sum}%.1f s " +
        f"loadavg ${sweepLoad(i - 1)}%.2f gc ${sweepGcMs(i - 1)} ms " +
        f"steal ${sweepSteal(i - 1)}%.2f%%")
      // storage-memory snapshot: cached-block pressure in a 124-query JVM is
      // otherwise invisible — an evicted shingle/embedding cache silently
      // turns a 2s query into a recompute (the r6 q46/q45 drift signature)
      val rdds = spark.sparkContext.getRDDStorageInfo
      val (maxB, remB) = spark.sparkContext.getExecutorMemoryStatus
        .values.headOption.getOrElse((0L, 0L))
      System.err.println(
        f"[bench] storage-memory sweep $i: ${rdds.length} cached rdds " +
        f"${rdds.map(_.memSize).sum / 1e6}%.1f MB in-mem, " +
        f"${rdds.map(_.diskSize).sum / 1e6}%.1f MB spilled; " +
        f"pool ${(maxB - remB) / 1e6}%.1f / ${maxB / 1e6}%.1f MB used")
      // sweep isolation: drop caches accumulated across the query set so
      // every sweep measures sweep-1 behavior (a query's own cache build
      // still happens inside its own timing), not LRU state left by the
      // previous 123 queries
      spark.catalog.clearCache()
      // ...and make the isolation SYNCHRONOUS: clearCache issues async
      // RemoveRdd messages, so without this barrier the block-removal work
      // and the GC of the freed cache blocks land inside the FIRST queries
      // of the next sweep — measured in round 7 as a 2-3x inflation of the
      // alphabetically-early sub-second queries (q01/q02/q100) while
      // nothing in their plans changed. Wait for the storage pool to
      // drain, then take the GC hit here, outside any query's timing.
      val drainDeadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
          System.nanoTime() < drainDeadline)
        Thread.sleep(50)
      System.gc()
      if (sys.env.get("SPARK_GRAFT_SWEEP_DETAIL").contains("1"))
        System.err.println(s"[bench-sweep $i] " + r.map { case (k, v) =>
          "\"" + k.takeWhile(_ != '_') + "\":" + (if (v < 0) "-1" else f"$v%.3f")
        }.mkString("{", ",", "}"))
      r
    }
    // per-query median AND min; a query that failed ANY sweep reports -1.
    // min is the contamination detector: an idle machine's median ≈ min,
    // while a loaded sweep inflates the median far above it.
    val results = bySweep.head.map(_._1).map { name =>
      val ts = bySweep.map(_.toMap.apply(name))
      val (med, mn) =
        if (ts.exists(_ < 0)) (-1.0, -1.0)
        else (ts.sorted.apply(ts.size / 2), ts.min)
      (name, med, mn)
    }
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // The committed artifact is the LAST ~2000 chars of combined output, so
    // layout is survival order: full-precision map first (pushed out first),
    // then the contract line with queries sorted FASTEST-FIRST (truncation
    // eats sub-100ms entries, every slow query survives in the tail; failed
    // queries sort last so a -1 is always visible), then a short diagnostics
    // line that always fits whole.
    val fullQs = results.map { case (k, med, mn) => s"\"$k\":[$med,$mn]" }
      .mkString("{", ",", "}")
    System.err.println(s"""[bench-full] {"queries_med_min":$fullQs}""")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = results.map(_._3).filter(_ >= 0).sum
    // self-adjudication: the artifact declares itself contaminated when
    // (a) any per-sweep idle gate timed out (external load that 150 s of
    // our own idleness did not clear), or (b) the sweep totals spread
    // past 20% — the r12 signature (424→388→349 s on byte-identical
    // code) that previously needed an external idle re-run to diagnose.
    val totalsBySweep = bySweep.map(_.map(_._2).filter(_ >= 0).sum)
    val spreadBad = totalsBySweep.nonEmpty && totalsBySweep.min > 0 &&
      totalsBySweep.max > 1.2 * totalsBySweep.min
    val contaminated = sweepGates.exists(g => g != null && g.timedOut) || spreadBad
    val qs = results
      .sortBy { case (_, med, _) => if (med < 0) Double.MaxValue else med }
      .map { case (k, med, _) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(med) }
      .mkString("{", ",", "}")
    println(s"""{"queries":$qs,"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","contaminated":$contaminated}""")
    // per-query MIN as its own committed line: on this host the min-sum is
    // the only cross-round-comparable number when sweeps spread (external
    // load inflates medians uniformly; the min survives one clean sweep).
    // Printed AFTER the contract line, sorted fastest-first: the driver
    // parses the contract line from the full stream but commits only the
    // last ~2 KB of output, so this order keeps the SLOWEST queries' mins
    // (the ones a round-over-round comparison needs) inside the committed
    // tail — round 15 printed it before the contract line and the tail
    // truncated every per-query min away (VERDICT r15 "what's wrong" #3).
    val qsMin = results
      .sortBy { case (_, _, mn) => if (mn < 0) Double.MaxValue else mn }
      .map { case (k, _, mn) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(mn) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"queries_min","total_min":${f3(totalMin)},"queries_min":$qsMin}""")
    // outliers: median > 2× min AND > 0.5 s absolute — the per-query form
    // of "this sweep was contaminated". Empty on an idle machine.
    val outliers = results
      .filter { case (_, med, mn) => mn >= 0 && med > 0.5 && med > 2 * mn }
      .sortBy { case (_, med, mn) => -(med - mn) }.take(8)
      .map { case (k, med, mn) =>
        "\"" + k.takeWhile(_ != '_') + s"""\":[${f3(mn)},${f3(med)}]""" }
      .mkString("{", ",", "}")
    val sweepTotals = totalsBySweep.map(f3).mkString("[", ",", "]")
    val gatesJson = sweepGates.map {
      case null => "null"
      case g => s"""{"start":${f"${g.start}%.2f"},"end":${f"${g.end}%.2f"},""" +
        s""""waited_ms":${g.waitedMs},"timed_out":${g.timedOut}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"diag","sweep_totals":$sweepTotals,""" +
      s""""loadavg":${sweepLoad.map(l => f"$l%.2f").mkString("[", ",", "]")},""" +
      s""""steal_pct":${sweepSteal.map(s => f"$s%.2f").mkString("[", ",", "]")},""" +
      s""""gc_ms":${sweepGcMs.mkString("[", ",", "]")},""" +
      s""""gate_threshold":$gateThreshold,"sweep_gates":$gatesJson,""" +
      s""""contaminated":$contaminated,"spread_bad":$spreadBad,""" +
      s""""total_min":${f3(totalMin)},"outliers_min_med":$outliers}""")
    // hash-mode rider: the sweeps above run every sketch/window query in
    // md5 (the oracle-parity configuration the correctness gate replays).
    // Production deployments run xx64/poly, so the committed artifact
    // carries BOTH numbers for the hash-hot operator family — same
    // operators, same inputs, only the mode flag differs (round-9 verdict
    // observation #5: the headline should not measure only the test
    // configuration of these operators).
    if (sys.env.getOrElse("SPARK_GRAFT_HASH_RIDER", "1") != "0") {
      import graft.functions.HashMode
      val docs = Tables.documents(spark, sfDir).cache()
      docs.count()
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def riderSweep(prod: Boolean): Seq[(String, Double)] = Seq(
        "exactsubstr_char" -> time {
          graft.operators.Dedup.removeExactSubstrChar(docs, "doc_id", "text",
              minLen = 40, mode = if (prod) HashMode.Poly else HashMode.Md5)
            .write.mode("overwrite").format("noop").save()
        },
        "cms_heavy_hitters" -> time {
          graft.operators.Cms.heavyHitters(docs, "text", depth = 3,
              width = 64, threshold = 100L,
              mode = if (prod) HashMode.Xx64 else HashMode.Md5)
            .write.mode("overwrite").format("noop").save()
        },
        "dsir_weights" -> time {
          graft.operators.Dsir.importanceWeights(
              docs.select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("text")),
              docs.filter(org.apache.spark.sql.functions.col("lang") === "zh"),
              "doc_id", "text", nBuckets = 64,
              mode = if (prod) HashMode.Xx64 else HashMode.Md5)
            .write.mode("overwrite").format("noop").save()
        })
      try {
        riderSweep(prod = false) // untimed warmup pass for the rider plans
        val md5T = riderSweep(prod = false).toMap
        val prodT = riderSweep(prod = true).toMap
        val keys = md5T.keys.toSeq.sorted
        def obj(m: Map[String, Double]) =
          keys.map(k => "\"" + k + "\":" + f3(m(k))).mkString("{", ",", "}")
        println(s"""{"metric":"hash_modes","md5":${obj(md5T)},""" +
          s""""production":${obj(prodT)}}""")
      } catch { case e: Throwable => System.err.println(s"[bench] hash rider: $e") }
      docs.unpersist()
    }
    spark.stop()
  }
}
