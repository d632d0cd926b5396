package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: the run, an operation, a call into one engine layer,
  * or a probe. `parent` is the id of the span that caused it (-1 for the
  * root); all spans of one operation carry its `op` index.
  */
final case class Span(id: Int, parent: Int, op: Long, layer: String, name: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts of the Spark work attributed to one span (its own jobs only). */
final class Counts {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskCpuNs = 0L; var taskRunMs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var planMs = 0L; var queryExecutions = 0
  /** Job intervals, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; planMs += o.planMs; queryExecutions += o.queryExecutions
    jobIntervals ++= o.jobIntervals
  }
}

/** Span recorder plus the listeners that map Spark jobs, stages, blocks and
  * query executions onto spans. Spans stay in memory; `Report` writes them
  * at exit. Every job carries the `graftbench.span` local property of the
  * span that was open when it was submitted.
  *
  * Listeners are registered only around traced operations (`attach` /
  * `detach`), so untraced operations in the same JVM pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val PropSpan = "graftbench.span"
  // epoch-ms = (nanoTime + offset) / 1e6, so span times and listener event
  // times (epoch ms) share one clock
  private val nsToEpochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Double = (ns + nsToEpochOffset) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var currentOp = -1L

  /** Per-span counts, keyed by span id. Written by the listener thread. */
  val counts = mutable.Map[Int, Counts]()
  private def countsOf(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  // storage-pool blocks currently held, and the peak since `resetPeak`
  private val blocks = mutable.Map[org.apache.spark.storage.BlockId, Long]()
  private var storageBytes = 0L
  private var storagePeak = 0L

  private val stageSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, (Int, Long)]()

  private def spanProp(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(PropSpan))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = spanProp(e.properties)
      countsOf(span).jobs += 1
      jobStart(e.jobId) = (span, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        countsOf(span).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSpan(e.stageInfo.stageId) = spanProp(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val c = countsOf(stageSpan.remove(info.stageId).getOrElse(-1))
      c.stages += 1
      c.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      val held = if (info.storageLevel.isValid) info.memSize else 0L
      storageBytes += held - blocks.getOrElse(info.blockId, 0L)
      if (held > 0) blocks(info.blockId) = held else blocks.remove(info.blockId)
      storagePeak = math.max(storagePeak, storageBytes)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val c = countsOf(currentOpSpan)
      c.queryExecutions += 1
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }
  // query executions report asynchronously; ops are sequential and drained,
  // so every one seen while attached belongs to the current op span
  @volatile private var currentOpSpan = -1

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def resetPeak(): Unit = Tracer.this.synchronized { storagePeak = storageBytes }
  def storagePeakBytes: Long = synchronized { storagePeak }
  def rddBlocksHeld: Int = synchronized { blocks.keys.count(_.isRDD) }

  /** Opens an operation span; the op's layer calls nest under it. */
  def op[T](index: Long, name: String)(body: => T): T = {
    currentOp = index
    span("bench", name) {
      currentOpSpan = open.head.id
      body
    }
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), currentOp,
      layer, name, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(PropSpan, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(PropSpan, open.headOption.map(_.id.toString).orNull)
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Counts of a span and everything under it. */
  def subtreeCounts(id: Int): Counts = synchronized {
    val total = new Counts
    def walk(s: Int): Unit = {
      counts.get(s).foreach(total.add)
      spans.iterator.filter(_.parent == s).foreach(c => walk(c.id))
    }
    walk(id)
    total
  }

  /** Seconds of `s` covered by the union of the given job intervals. */
  def jobBusySeconds(s: Span, intervals: Seq[(Long, Long)]): Double = {
    val lo = epochMs(s.startNs); val hi = epochMs(s.endNs)
    val clipped = intervals
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0; var end = Double.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy / 1e3
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.seconds - covered / 1e9
  }
}
