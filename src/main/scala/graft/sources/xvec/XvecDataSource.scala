package graft.sources.xvec

import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThan => FGt, GreaterThanOrEqual => FGe, In => FIn, LessThan => FLt, LessThanOrEqual => FLe, Or => FOr}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.layout.{FInterval, FWindow}

/** DataSource V2 for the xvec family: `spark.read.format("xvec")
  * .option("window", "[0..5M)").load(path)` → `(ordinal LONG,
  * vector ARRAY<T>)`.
  *
  * The reference's window/range discipline (never materialize excluded
  * ordinals — CoreXVecVectorDatasetViewMethods.java:358-401) maps to scan
  * pushdown: ordinal filters (including AND/OR trees) and the window option
  * both collapse into an interval set that becomes byte ranges, the analog
  * of Parquet row-group pruning (SURVEY.md §4). Column pruning skips vector
  * decode entirely for ordinal-only projections.
  */
class XvecDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xvec"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "xvec source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val fmt = Option(options.get("format")).map(XvecFormat.forName)
      .getOrElse(XvecFormat.forPath(pathOf(options)))
    XvecTable.schemaFor(fmt)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    val fmt = Option(options.get("format")).map(XvecFormat.forName)
      .getOrElse(XvecFormat.forPath(path))
    val window = FWindow.parse(options.get("window"))
    val columnar = Option(options.get("columnar")).forall(_.toBoolean)
    val maxPerTrigger = Option(options.get("maxRecordsPerTrigger")).map(_.toLong).getOrElse(0L)
    new XvecTable(path, fmt, window, columnar, maxPerTrigger)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object XvecTable {
  def schemaFor(fmt: XvecFormat): StructType = StructType(Seq(
    StructField("ordinal", LongType, nullable = false),
    StructField("vector", ArrayType(fmt.elementType, containsNull = false), nullable = false)))
}

class XvecTable(path: String, fmt: XvecFormat, window: FWindow,
    columnar: Boolean = true, maxPerTrigger: Long = 0L)
    extends Table with SupportsRead {
  override def name(): String = s"xvec:$path"
  override def schema(): StructType = XvecTable.schemaFor(fmt)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XvecScanBuilder(path, fmt, window, columnar, maxPerTrigger)
}

class XvecScanBuilder(path: String, fmt: XvecFormat, window: FWindow,
    columnar: Boolean = true, maxPerTrigger: Long = 0L)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = XvecTable.schemaFor(fmt)
  private var aggSpec: Option[Seq[String]] = None // "count" | "min" | "max"

  /** Translate an ordinal filter into an interval set; None = can't push. */
  private def toIntervals(f: Filter): Option[Seq[FInterval]] = f match {
    case FEq("ordinal", v: Long)  => Some(Seq(FInterval(v, v + 1)))
    case FEq("ordinal", v: Int)   => Some(Seq(FInterval(v.toLong, v.toLong + 1)))
    case FGt("ordinal", v: Long)  => Some(Seq(FInterval(v + 1, Long.MaxValue)))
    case FGe("ordinal", v: Long)  => Some(Seq(FInterval(v, Long.MaxValue)))
    case FLt("ordinal", v: Long)  => Some(Seq(FInterval(0, v)))
    case FLe("ordinal", v: Long)  => Some(Seq(FInterval(0, v + 1)))
    case FGt("ordinal", v: Int)   => Some(Seq(FInterval(v.toLong + 1, Long.MaxValue)))
    case FGe("ordinal", v: Int)   => Some(Seq(FInterval(v.toLong, Long.MaxValue)))
    case FLt("ordinal", v: Int)   => Some(Seq(FInterval(0, v.toLong)))
    case FLe("ordinal", v: Int)   => Some(Seq(FInterval(0, v.toLong + 1)))
    case FIn("ordinal", vs) if vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
      Some(vs.map(v => v.asInstanceOf[Number].longValue()).sorted
        .map(v => FInterval(v, v + 1)).toSeq)
    case FAnd(l, r) =>
      for (a <- toIntervals(l); b <- toIntervals(r)) yield intersect(a, b)
    case FOr(l, r) =>
      for (a <- toIntervals(l); b <- toIntervals(r)) yield a ++ b
    case _ => None
  }

  private def intersect(a: Seq[FInterval], b: Seq[FInterval]): Seq[FInterval] =
    for {
      x <- a; y <- b
      lo = math.max(x.minIncl, y.minIncl); hi = math.min(x.maxExcl, y.maxExcl)
      if hi > lo
    } yield FInterval(lo, hi)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => toIntervals(f).isDefined)
    // all filters stay post-evaluated by Spark too (cheap; guarantees
    // correctness for duplicate-covering intervals from OR unions)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*) / MIN(ordinal) / MAX(ordinal) with no grouping answer from
    * the file header + interval arithmetic alone — at 100 TB a dataset
    * count is O(files) metadata reads, zero payload IO. Partial-pushdown
    * semantics (Spark re-aggregates the one metadata row), declined
    * whenever ordinal filters are present: those stay post-evaluated by
    * Spark (see pushFilters), so a pre-counted row would skip them.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.nonEmpty || pushed.nonEmpty) return false
    def isOrdinal(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: NamedReference =>
          nr.fieldNames.length == 1 && nr.fieldNames()(0) == "ordinal"
        case _ => false
      }
    val kinds = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case m: Min if isOrdinal(m.column) => Some("min")
      case m: Max if isOrdinal(m.column) => Some("max")
      case _ => None
    }
    if (kinds.exists(_.isEmpty)) false
    else { aggSpec = Some(kinds.map(_.get)); true }
  }

  override def build(): Scan = {
    val filterIntervals = pushed.foldLeft(Seq(FInterval(0, Long.MaxValue))) { (acc, f) =>
      intersect(acc, toIntervals(f).get)
    }
    new XvecScan(path, fmt, window, filterIntervals, required, columnar,
      maxPerTrigger, aggSpec)
  }
}

case class XvecInputPartition(path: String, dimExpected: Int, recordStart: Long,
    recordEnd: Long, dataOffset: Long = 0L) extends InputPartition

/** The one split planner of the xvec scan, batch and micro-batch alike. */
object XvecSplits {
  /** The largest split, the fixed split size of scans before it followed P. */
  private val MaxSplitBytes: Long = 64L << 20
  /** The readers' read unit (`recordsPerRead`, `batchRecords`). */
  private val MinSplitBytes: Long = 4L << 20

  /** Cut the normalized, ascending `intervals` into record ranges of
    * `splitBytes = min(64 MiB, max(4 MiB, ceil(scanBytes / parallelism)))`:
    * each interval becomes `ceil(intervalBytes / splitBytes)` balanced
    * ranges, each at most `splitBytes` plus one record. No range straddles
    * two intervals, and ranges come in ordinal order.
    */
  def plan(path: String, intervals: Seq[FInterval], stride: Int, dim: Int,
      dataOffset: Long, parallelism: Int): Array[InputPartition] = {
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val live = intervals.filter(_.count > 0)
    val splitBytes = math.min(MaxSplitBytes, math.max(MinSplitBytes,
      ceilDiv(live.map(_.count * stride).sum, math.max(1, parallelism))))
    live.flatMap { iv =>
      val n = ceilDiv(iv.count * stride, splitBytes)
      val starts = (0L until n).map(i => iv.minIncl + i * (iv.count / n) + math.min(i, iv.count % n))
      starts.zip(starts.tail :+ iv.maxExcl).map { case (lo, hi) =>
        XvecInputPartition(path, dim, lo, hi, dataOffset)
      }
    }.toArray
  }

  /** The active session's leaf-node default parallelism — the divisor
    * Spark's own file scans use (`FilePartition.maxSplitBytes`). */
  def sessionParallelism(): Int =
    org.apache.spark.sql.graftbridge.Bridge.leafNodeDefaultParallelism(
      org.apache.spark.sql.SparkSession.active)
}

/** Metadata partition for a pushed aggregation: carries the pre-computed
  * answers (count / min / max over the merged intervals).
  */
case class XvecAggPartition(kinds: Seq[String], count: Long,
    minOrd: Option[Long], maxOrd: Option[Long]) extends InputPartition

/** Emits the single metadata row of a pushed aggregation. */
class XvecAggReader(p: XvecAggPartition) extends PartitionReader[InternalRow] {
  private var emitted = false
  override def next(): Boolean = { val go = !emitted; emitted = true; go }
  override def get(): InternalRow = new GenericInternalRow(
    p.kinds.map {
      case "count" => p.count: Any
      case "min"   => p.minOrd.map(x => x: Any).orNull
      case "max"   => p.maxOrd.map(x => x: Any).orNull
      case other   => throw new IllegalStateException(s"unknown agg kind: $other")
    }.toArray)
  override def close(): Unit = ()
}

/** The planned xvec scan. Ordinal filters and the window collapse into a
  * normalized interval list (`mergedIntervals`), which [[XvecSplits.plan]]
  * cuts into record-range partitions the way Spark sizes its own file
  * splits (`FilePartition.maxSplitBytes`):
  * `splitBytes = min(64 MiB, max(4 MiB, ceil(scanBytes / P)))`, with P the
  * session's `spark.sql.leafNodeDefaultParallelism`, else
  * `spark.default.parallelism`. So a 25 MB base scans as P tasks on P cores
  * rather than one, and scans of at least 64 MiB × P plan as many ranges as
  * the old fixed 64 MiB split did. The 4 MiB floor is the readers' own read unit
  * (`recordsPerRead`, `batchRecords`): a smaller split would add tasks that
  * each read less than one unit, so every scan under 4 MiB stays one
  * partition. Each interval splits into balanced ranges that never straddle
  * two intervals, in ascending ordinal order, so `collect()` of a plain scan
  * returns rows in ordinal order. A pushed aggregate plans one
  * [[XvecAggPartition]] and reads no payload.
  *
  * Top-k results do not depend on the split count (ties break by
  * (dist, id) and partial heaps merge exactly), but anything drawn per
  * partition does: a seeded `sample(fraction, seed)` over a scan above
  * 4 MiB, and the k-means centroids, PQ codebooks and RVQ stages trained on
  * such a sample, vary with the session's parallelism. `XvecSplitKnnSpec`'s
  * seeded `Ann.trainCentroids` row pins repeatability at a fixed split count
  * and records whether one split and the default split count agree.
  */
class XvecScan(path: String, fmt: XvecFormat, window: FWindow,
    filterIntervals: Seq[FInterval], required: StructType,
    columnar: Boolean = true, maxPerTrigger: Long = 0L,
    aggSpec: Option[Seq[String]] = None) extends Scan with Batch {

  override def readSchema(): StructType = aggSpec match {
    case Some(kinds) => StructType(kinds.zipWithIndex.map { case (kind, i) =>
      StructField(s"${kind}_$i", LongType, nullable = kind != "count")
    })
    case None => required
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XvecMicroBatchStream(path, fmt, window, required.fieldNames.toSeq,
      maxPerTrigger)
  override def description(): String =
    s"xvec $path window=${window.intervals} pushed=${filterIntervals}" +
      aggSpec.map(k => s" aggPushed=[${k.mkString(",")}]").getOrElse("")

  /** window ∩ pushed filters ∩ file bounds → normalized interval list. */
  private def mergedIntervals(count: Long): Seq[FInterval] = {
    val base = if (window.isAll) Seq(FInterval(0, count)) else window.clamp(0, count).intervals
    val clipped = for {
      w <- base
      f <- filterIntervals
      lo = math.max(w.minIncl, f.minIncl); hi = math.min(w.maxExcl, f.maxExcl)
      if hi > lo
    } yield FInterval(lo, hi)
    normalize(clipped)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (dim, dataOffset, count) = fmt.fileMeta(Paths.get(path))
    val stride = fmt.stride(dim)
    val merged = mergedIntervals(count)

    aggSpec match {
      case Some(kinds) =>
        // one metadata row answers the whole aggregation — no payload IO
        val n = merged.map(_.count).sum
        val minOrd = if (n == 0) None else Some(merged.map(_.minIncl).min)
        val maxOrd = if (n == 0) None else Some(merged.map(_.maxExcl).max - 1)
        Array(XvecAggPartition(kinds, n, minOrd, maxOrd))
      case None =>
        XvecSplits.plan(path, merged, stride, dim, dataOffset,
          XvecSplits.sessionParallelism())
    }
  }

  /** Sort + merge overlapping intervals (OR unions may overlap). */
  private def normalize(ivs: Seq[FInterval]): Seq[FInterval] = {
    val sorted = ivs.filter(_.count > 0).sortBy(_.minIncl)
    sorted.foldLeft(List.empty[FInterval]) {
      case (acc @ (head :: tail), iv) if iv.minIncl <= head.maxExcl =>
        FInterval(head.minIncl, math.max(head.maxExcl, iv.maxExcl)) :: tail
      case (acc, iv) => iv :: acc
    }.reverse
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XvecReaderFactory(fmt, required.fieldNames.toSeq, columnar)
}

class XvecReaderFactory(fmt: XvecFormat, columns: Seq[String],
    columnar: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case agg: XvecAggPartition => new XvecAggReader(agg)
      case p: XvecInputPartition => new XvecPartitionReader(p, fmt, columns)
    }
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && !partition.isInstanceOf[XvecAggPartition]
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new XvecColumnarReader(partition.asInstanceOf[XvecInputPartition], fmt, columns)
}

/** Streams records in [recordStart, recordEnd): positioned bulk reads in
  * ~4MB units (the reference's chunked range-read discipline,
  * data_access_v1.md:75-79), per-record dim validation, vector decode
  * skipped entirely when the projection pruned it.
  */
class XvecPartitionReader(p: XvecInputPartition, fmt: XvecFormat, columns: Seq[String])
    extends PartitionReader[InternalRow] {

  private val wantOrdinal = columns.contains("ordinal")
  private val wantVector = columns.contains("vector")
  private val stride = fmt.stride(p.dimExpected)
  private val recordsPerRead = math.max(1, (4 << 20) / stride)

  private val ch = FileChannel.open(Paths.get(p.path), StandardOpenOption.READ)
  private var current = p.recordStart
  private var buf: ByteBuffer = _
  private var bufFirstRecord = 0L
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (current >= p.recordEnd) return false
    if (buf == null || current >= bufFirstRecord + (buf.limit() / stride)) fill()
    buf.position(((current - bufFirstRecord) * stride).toInt)
    val dim =
      if (fmt.recordHeaderBytes == 4) {
        val d = buf.getInt()
        require(d == p.dimExpected,
          s"${p.path}: record $current has dim $d, expected ${p.dimExpected}")
        d
      } else p.dimExpected
    val values = new Array[Any](columns.size)
    var i = 0
    columns.foreach { c =>
      values(i) =
        if (c == "ordinal") current
        else decodeVector(dim)
      i += 1
    }
    row = new GenericInternalRow(values)
    current += 1
    true
  }

  private def decodeVector(dim: Int): AnyRef = fmt.decode(buf, dim) match {
    case a: Array[Float]  => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Int]    => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Short]  => UnsafeArrayData.fromPrimitiveArray(a)
    case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    case other => throw new IllegalStateException(s"unexpected decode result: $other")
  }

  private def fill(): Unit = {
    val n = math.min(recordsPerRead.toLong, p.recordEnd - current).toInt
    val bytes = ByteBuffer.allocate(n * stride).order(ByteOrder.LITTLE_ENDIAN)
    var read = 0
    while (read < bytes.capacity()) {
      val r = ch.read(bytes, p.dataOffset + current * stride + read)
      require(r > 0, s"${p.path}: unexpected EOF at record $current")
      read += r
    }
    bytes.flip()
    buf = bytes
    bufFirstRecord = current
  }

  override def get(): InternalRow = row
  override def close(): Unit = ch.close()
}
