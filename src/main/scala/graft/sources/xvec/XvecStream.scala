package graft.sources.xvec

import java.nio.file.Paths

import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

import graft.layout.FWindow

/** S7/T5: the xvec STREAMER surface as a Structured Streaming micro-batch
  * source — `spark.readStream.format("xvec").load(path)`. Offsets are record
  * ordinals: each trigger reads exactly the records appended since the last
  * committed offset (xvec files are bare record concatenations, so "appended
  * records" = the byte tail; the reference's streamer iterates the same
  * records eagerly, CoreXVecVectorDatasetViewMethods.java:358-401).
  *
  * A bounded file behaves as a one-batch stream (stream == batch, pinned by
  * XvecStreamSpec); a growing file yields incremental batches. The window
  * option still applies — excluded ordinals are never materialized.
  *
  * `Trigger.AvailableNow` is supported natively: the end offset is snapshot
  * at query start ([[prepareForTriggerAvailableNow]]) so the run drains
  * exactly the records present then — even while the file keeps growing —
  * and terminates (q103 proves exactly-once delivery across two such runs
  * over one checkpoint). `ReadMaxRows` admission control caps records per
  * micro-batch when a trigger asks for it.
  */
class XvecMicroBatchStream(path: String, fmt: XvecFormat, window: FWindow,
    required: Seq[String], maxPerTrigger: Long = 0L)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def recordCount(): Long = XvecFormat.stat(Paths.get(path), fmt)._3

  // end-offset ceiling for an AvailableNow run, snapshot at query start
  @volatile private var availableNowCap: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = recordCount()

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger > 0) ReadLimit.maxRows(maxPerTrigger)
    else ReadLimit.allAvailable()

  override def initialOffset(): Offset = XvecOffset(0L)

  override def latestOffset(): Offset = XvecOffset(recordCount())

  override def reportLatestOffset(): Offset = XvecOffset(recordCount())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = if (availableNowCap >= 0) availableNowCap else recordCount()
    val lo = start.asInstanceOf[XvecOffset].record
    val hi = limit match {
      case r: ReadMaxRows => math.min(cap, lo + r.maxRows())
      case _ => cap
    }
    XvecOffset(math.max(lo, hi))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[XvecOffset].record
    val hi = end.asInstanceOf[XvecOffset].record
    if (hi <= lo) return Array.empty
    val (dim, dataOffset, _) = fmt.fileMeta(Paths.get(path))
    val base =
      if (window.isAll) Seq(graft.layout.FInterval(lo, hi))
      else window.clamp(lo, hi).intervals
    XvecSplits.plan(path, base, fmt.stride(dim), dim, dataOffset,
      XvecSplits.sessionParallelism())
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XvecReaderFactory(fmt, required, columnar = false) // streaming rows

  override def deserializeOffset(json: String): Offset =
    XvecOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class XvecOffset(record: Long) extends Offset {
  override def json(): String = record.toString
}
