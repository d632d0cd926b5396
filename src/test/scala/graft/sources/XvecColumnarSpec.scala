package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.xvec.XvecIO

/** Columnar (ColumnarBatch) xvec scan: bit-identical to the row reader
  * across formats, windows, and prunes — and actually planned columnar.
  */
class XvecColumnarSpec extends SparkSpec {

  private def write(fmtExt: String, n: Int, dim: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0L until n.toLong).map { i =>
      // bvec is uint8: keep values in [0, 200) there; signed elsewhere
      (i, Array.fill(dim)(
        if (fmtExt == "bvec") rnd.nextInt(200).toFloat
        else (rnd.nextGaussian() * 4).toFloat))
    }
    val path = Files.createTempDirectory("xvcol").toString + s"/t.$fmtExt"
    XvecIO.write(rows.toDF("ordinal", "vector"), path)
    path
  }

  test("columnar read == row read (fvec, window + pruning)") {
    val path = write("fvec", 5000, 24)
    val col = spark.read.format("xvec").option("window", "[100..4000)").load(path)
    val row = spark.read.format("xvec").option("window", "[100..4000)")
      .option("columnar", "false").load(path)
    assert(col.count() == 3900)
    val a = col.select("ordinal", "vector").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val b = row.select("ordinal", "vector").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // ordinal-only projection decodes no vectors in either path
    assert(col.select("ordinal").agg(max("ordinal")).collect()(0).getLong(0) == 3999)
  }

  test("columnar read == row read across element types") {
    Seq("ivec", "dvec", "mvec", "bvec", "svec").foreach { ext =>
      val path = write(ext, 300, 8)
      val col = spark.read.format("xvec").load(path).orderBy("ordinal").collect()
      val row = spark.read.format("xvec").option("columnar", "false").load(path)
        .orderBy("ordinal").collect()
      assert(col.length == 300, ext)
      col.zip(row).foreach { case (c, r) =>
        assert(c.getLong(0) == r.getLong(0), ext)
        assert(c.getSeq[Any](1) == r.getSeq[Any](1), ext)
      }
    }
  }

  test("the plan is actually columnar (ColumnarToRow over the batch scan)") {
    val path = write("fvec", 1000, 8)
    val plan = spark.read.format("xvec").load(path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
  }

  test("pushed ordinal filter still prunes partitions in columnar mode") {
    val path = write("fvec", 80000, 32) // 10.6 MB: several splits unfiltered
    val all = spark.read.format("xvec").load(path)
    assert(XvecSpec.plannedRanges(all).size > 1)
    val df = all.filter(col("ordinal") < 64)
    assert(df.count() == 64)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(XvecSpec.plannedRanges(df) == Seq((0L, 64L)))
  }
}
