package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.{FInterval, FWindow}
import graft.sources.xvec.{XvecAggPartition, XvecFormat, XvecIO, XvecInputPartition, XvecMicroBatchStream, XvecOffset, XvecSplits}

class XvecSpec extends SparkSpec {
  import spark.implicits._

  private val tmpDir = {
    val d = Paths.get("target", "tmp-xvec")
    Files.createDirectories(d)
    d.toString
  }

  private def roundTrip(fmtName: String, mk: Int => Seq[Any]): Unit = {
    val path = s"$tmpDir/rt.$fmtName"
    val fmt = XvecFormat.forName(fmtName)
    val data = (0 until 100).map(i => mk(i))
    XvecFormat.writeLocal(path, fmt, data.iterator)
    val back = XvecIO.read(spark, path).orderBy("ordinal").collect()
    assert(back.length == 100)
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i)
      assert(r.getSeq[Any](1) == data(i), s"$fmtName record $i")
    }
  }

  test("fvec round trip") { roundTrip("fvec", i => Seq.tabulate(8)(j => (i + j * 0.5f))) }
  test("ivec round trip") { roundTrip("ivec", i => Seq.tabulate(8)(j => i * 10 + j)) }
  test("bvec round trip (uint8 widened to short)") {
    roundTrip("bvec", i => Seq.tabulate(8)(j => ((i + j * 37) % 256).toShort))
  }
  test("dvec round trip") { roundTrip("dvec", i => Seq.tabulate(8)(j => i + j * 0.25)) }
  test("svec round trip") { roundTrip("svec", i => Seq.tabulate(8)(j => (i * 100 + j).toShort)) }
  test("mvec round trip (f16-representable values survive)") {
    roundTrip("mvec", i => Seq.tabulate(8)(j => (i + j * 0.25f))) // exact in f16
  }

  /** 80,000 x 32 fvec (10.6 MB): above the 4 MiB split floor, so a full scan
    * plans several record ranges on any session parallelism above one. */
  private lazy val splitFixture: String = {
    val path = s"$tmpDir/splits.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 80000).iterator.map(i => Seq.tabulate(32)(j => (i * 32 + j).toFloat)))
    path
  }

  test("ordinal range filters prune partitions (pushdown)") {
    val full = XvecSpec.plannedRanges(XvecIO.read(spark, splitFixture))
    assert(full.size > 1 && full.head._1 == 0L && full.last._2 == 80000L, full)
    val df = XvecIO.read(spark, splitFixture)
      .filter(col("ordinal") >= 9000 && col("ordinal") < 9100)
    // only the pushed interval is planned, not the splits that contain it
    assert(XvecSpec.plannedRanges(df) == Seq((9000L, 9100L)))
    assert(df.collect().map(_.getLong(0)).toSeq == (9000L until 9100L))
  }

  private val fvec128 = XvecFormat.Fvec.stride(128) // 516 bytes

  /** The record ranges [[XvecSplits.plan]] cuts for `ivs`. */
  private def ranges(ivs: Seq[FInterval], stride: Int, p: Int): Seq[(Long, Long)] =
    XvecSplits.plan("f", ivs, stride, 128, 4L, p).toSeq.map {
      case x: XvecInputPartition => (x.recordStart, x.recordEnd)
    }

  test("split planner: a scan under 4 MiB is one partition at any parallelism") {
    val small = Seq(FInterval(0, 8000)) // 4.1 MB < 4 MiB
    Seq(1, 4, 32, 1000).foreach(p => assert(ranges(small, fvec128, p) == Seq((0L, 8000L)), p))
  }

  test("split planner: 50,000 x 128 fvec splits into balanced ranges by parallelism") {
    val base = Seq(FInterval(0, 50000))
    assert(ranges(base, fvec128, 1) == Seq((0L, 50000L)))
    assert(ranges(base, fvec128, 4) ==
      Seq((0L, 12500L), (12500L, 25000L), (25000L, 37500L), (37500L, 50000L)))
    val at32 = ranges(base, fvec128, 32) // the 4 MiB floor binds: 7 ranges
    assert(at32.size == 7)
    assert(at32.map { case (lo, hi) => hi - lo }.toSet == Set(7142L, 7143L), at32)
  }

  test("split planner: scans of at least 64 MiB x P cap ranges at 64 MiB") {
    val p = 4
    val cap = 64L << 20
    val big = Seq(FInterval(0, cap * p / fvec128 + 12345))
    val rs = ranges(big, fvec128, p)
    assert(rs.size == 5) // ceil(scanBytes / 64 MiB)
    val windows = Seq(FInterval(7, 300000), FInterval(400000, 1200000))
    val ws = ranges(windows, fvec128, p)
    assert(ws.size == 3 + 7, ws) // ceil per interval: 154.8 MB -> 3, 412.8 MB -> 7
    (rs ++ ws).foreach { case (lo, hi) =>
      assert((hi - lo) * fvec128 <= cap + fvec128, s"($lo, $hi) exceeds 64 MiB + stride")
    }
  }

  test("split planner: multi-interval windows — no straddling, each record once, ascending") {
    val ivs = Seq(FInterval(0, 10), FInterval(100, 50000), FInterval(60000, 60001),
      FInterval(70000, 200000), FInterval(250000, 250000))
    Seq(1, 3, 4, 7, 32, 1000).foreach { p =>
      val rs = ranges(ivs, fvec128, p)
      rs.foreach { case (lo, hi) =>
        assert(lo < hi && ivs.count(iv => iv.minIncl <= lo && hi <= iv.maxExcl) == 1,
          s"P=$p: ($lo, $hi) straddles or leaves the intervals")
      }
      assert(rs.flatMap { case (lo, hi) => lo until hi } ==
        ivs.flatMap(iv => iv.minIncl until iv.maxExcl), s"P=$p")
    }
  }

  test("split planner: micro-batch stream and batch scan plan the same ranges") {
    val batch = XvecSpec.plannedRanges(XvecIO.read(spark, splitFixture, window = "[1000..70000)"))
    assert(batch.size > 1, batch)
    val stream = new XvecMicroBatchStream(splitFixture, XvecFormat.Fvec, FWindow.parse(null),
      Seq("ordinal", "vector"))
    val planned = stream.planInputPartitions(XvecOffset(1000L), XvecOffset(70000L)).toSeq.map {
      case x: XvecInputPartition => (x.recordStart, x.recordEnd)
    }
    assert(planned == batch)
  }

  test("split planner: a pushed COUNT(*) still plans one aggregate partition") {
    val df = XvecIO.read(spark, splitFixture).agg(count(lit(1)).as("n"))
    val parts = XvecSpec.plannedPartitions(df)
    assert(parts.size == 1 && parts.head.isInstanceOf[XvecAggPartition], parts)
    assert(df.collect()(0).getLong(0) == 80000L)
  }

  test("window option restricts the scan to intervals") {
    val path = s"$tmpDir/win.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 1000).map(i => Seq(i.toFloat)).iterator)
    val df = XvecIO.read(spark, path, window = "[10..20), [500..505), 990..995")
    assert(df.select("ordinal").collect().map(_.getLong(0)).sorted.toSeq ==
      ((10L until 20L) ++ (500L until 505L) ++ (990L until 995L)))
  }

  test("ordinal-only projection decodes no vectors but counts right") {
    val path = s"$tmpDir/prune.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 500).map(i => Seq(i.toFloat, 2f * i)).iterator)
    assert(XvecIO.read(spark, path).select("ordinal").count() == 500)
  }

  test("writeLocal + DataFrame write path produce identical bytes") {
    val df = (0 until 50).map(i => (i.toLong, Seq(i.toFloat, i + 0.5f))).toDF("ordinal", "vector")
    val p1 = s"$tmpDir/w1.fvec"
    XvecIO.write(df.repartition(4), p1)
    val p2 = s"$tmpDir/w2.fvec"
    XvecFormat.writeLocal(p2, XvecFormat.Fvec,
      (0 until 50).map(i => Seq[Any](i.toFloat, i + 0.5f)).iterator)
    assert(Files.readAllBytes(Paths.get(p1)).toSeq == Files.readAllBytes(Paths.get(p2)).toSeq)
  }

  test("malformed files fail fast: truncated, zero-dim, empty") {
    val bad = s"$tmpDir/bad.fvec"
    Files.write(Paths.get(bad), Array[Byte](3, 0, 0, 0, 1, 2)) // dim=3, truncated
    intercept[IllegalArgumentException](XvecFormat.stat(Paths.get(bad), XvecFormat.Fvec))
    val zero = s"$tmpDir/zero.fvec"
    Files.write(Paths.get(zero), Array[Byte](0, 0, 0, 0))
    intercept[IllegalArgumentException](XvecFormat.stat(Paths.get(zero), XvecFormat.Fvec))
    val empty = s"$tmpDir/empty.fvec"
    Files.write(Paths.get(empty), Array[Byte]())
    intercept[IllegalArgumentException](XvecFormat.stat(Paths.get(empty), XvecFormat.Fvec))
  }

  test("mixed-dimension file rejected at read (uniformity constraint)") {
    val p = s"$tmpDir/mixed.fvec"
    val b = java.nio.ByteBuffer.allocate(2 * 8 + 2 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(1).putFloat(1f) // dim-1 record
    b.putInt(2).putFloat(1f).putFloat(2f) // dim-2 record — breaks stride math
    // file size 20 not divisible by stride 8 -> stat fails
    java.nio.file.Files.write(Paths.get(p), b.array().take(b.position()))
    intercept[IllegalArgumentException](XvecFormat.stat(Paths.get(p), XvecFormat.Fvec))
  }

  test("driver-side point read matches scan (DatasetView.get analogue)") {
    val path = s"$tmpDir/point.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 20).map(i => Seq(i.toFloat, i * 2f)).iterator)
    val v = XvecFormat.readRecord(Paths.get(path), XvecFormat.Fvec, 7)
    assert(v.asInstanceOf[Array[Float]].toSeq == Seq(7f, 14f))
  }

  test("FWindow parsing: sugar, suffixes, logical mapping") {
    assert(FWindow.parse("5M").intervals == Seq(FInterval(0, 5000000)))
    assert(FWindow.parse("[1K..2K)").intervals == Seq(FInterval(1000, 2000)))
    assert(FWindow.parse("10 → 20").intervals == Seq(FInterval(10, 20)))
    assert(FWindow.parse("1_000").intervals == Seq(FInterval(0, 1000)))
    assert(FWindow.parse(null).isAll)
    val w = FWindow(Seq(FInterval(10, 20), FInterval(100, 105)))
    assert(w.count == 15)
    assert(w.resolvePhysical(0) == 10)
    assert(w.resolvePhysical(10) == 100)
    assert(w.resolvePhysical(14) == 104)
    intercept[IndexOutOfBoundsException](w.resolvePhysical(15))
  }

  test("FWindow logicalOrdinal Column matches resolvePhysical inverse") {
    val w = FWindow(Seq(FInterval(5, 8), FInterval(20, 23)))
    val df = spark.range(30).toDF("ordinal").filter(w.predicate(col("ordinal")))
      .select(col("ordinal"), w.logicalOrdinal(col("ordinal")).as("logical"))
    val got = df.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    (0L until 6L).foreach(l => assert(got(l) == w.resolvePhysical(l)))
  }

  test("count/min/max push down to file metadata (aggPushed plan, zero payload IO)") {
    val path = s"$tmpDir/agg.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 5000).map(i => Seq.tabulate(16)(j => (i * 16 + j).toFloat)).iterator)
    val df = XvecIO.read(spark, path)
      .agg(count(lit(1)).as("n"), min("ordinal").as("mn"), max("ordinal").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("aggPushed="), s"aggregation not pushed:\n$plan")
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5000L, 0L, 4999L)))
  }

  test("agg pushdown respects the window option") {
    val path = s"$tmpDir/aggwin.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 1000).map(i => Seq.tabulate(4)(j => (i + j).toFloat)).iterator)
    val df = XvecIO.read(spark, path, window = "[100..300)")
      .agg(count(lit(1)).as("n"), min("ordinal").as("mn"), max("ordinal").as("mx"))
    assert(df.queryExecution.executedPlan.toString.contains("aggPushed="))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((200L, 100L, 299L)))
  }

  test("agg pushdown declines when ordinal filters are present (post-eval stays correct)") {
    val path = s"$tmpDir/aggfil.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 1000).map(i => Seq.tabulate(4)(j => (i + j).toFloat)).iterator)
    val df = XvecIO.read(spark, path).filter(col("ordinal") >= 900)
      .agg(count(lit(1)).as("n"), max("ordinal").as("mx"))
    assert(!df.queryExecution.executedPlan.toString.contains("aggPushed="))
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((100L, 999L)))
  }

  test("count on an empty window is 0, min/max null") {
    val path = s"$tmpDir/aggempty.fvec"
    XvecFormat.writeLocal(path, XvecFormat.Fvec,
      (0 until 10).map(i => Seq.tabulate(4)(_ => i.toFloat)).iterator)
    val df = XvecIO.read(spark, path).filter(lit(false))
      .agg(count(lit(1)).as("n"), min("ordinal").as("mn"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }
}

object XvecSpec extends AdaptiveSparkPlanHelper {
  /** The input partitions every xvec batch scan of `df`'s executed plan planned. */
  def plannedPartitions(df: DataFrame): Seq[InputPartition] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions)

  /** The record ranges of `df`'s planned xvec scan partitions, in plan order. */
  def plannedRanges(df: DataFrame): Seq[(Long, Long)] =
    plannedPartitions(df).collect { case p: XvecInputPartition => (p.recordStart, p.recordEnd) }
}
