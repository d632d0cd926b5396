package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DistanceKernels
import graft.operators.{Generators, HybridGroundTruth, Knn, ProfileStats}
import graft.predicates._
import graft.sources.xvec.XvecIO

/** What every workload sees: the session, its scratch directory, the seed,
  * and `call`, which wraps a call into an engine layer in a span when the
  * current operation is traced.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Option[Tracer]) {
  var tracing = false
  def call[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) if tracing => t.span(layer, name)(body)
    case _ => body
  }
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  /** Deterministic per-(seed, op, stream) generator: values depend on the
    * seed, amounts of work never do. */
  def rng(op: Long, stream: Int): scala.util.Random =
    new scala.util.Random(graft.functions.StableHash.mix(seed * 1000003L + op * 7919L + stream))
}

/** One closed-loop operation kind. `op` does the same amount of work for
  * every seed and index; `record` asks it to keep what the output checks
  * need. Work units are returned per op.
  */
trait Workload {
  def workUnit: String
  def warmupOps: Int
  /** Ops that only make sense as a whole (one query rotation). */
  def groupSize: Int = 1
  /** The measured phase runs at least this many ops, however slow. */
  def minMeasuredOps: Int = groupSize
  def setup(): Unit
  def op(i: Long, record: Boolean): (String, Double)
  /** Writes what the independent checks read; returns ops failed in-JVM. */
  def finish(): Map[String, Any]
  /** Per-layer values derived from one traced op's spans. */
  def layerValues(t: Tracer, opSpan: Span): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "knn_truth"  => new KnnTruth(ctx)
    case "graph_iter" => new GraphIter(ctx)
    case "vec_ingest" => new VecIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def gaussian(r: scala.util.Random, d: Int): Array[Float] =
    Array.fill(d)(r.nextGaussian().toFloat)

  def floats(a: Array[Float]): Seq[Double] = a.toSeq.map(_.toDouble)
}

/** Exact and predicate-filtered top-100 ground truth for a batch of 8 queries
  * against a fixed 50,000 x 128 fvec base, plus recall between the two.
  */
final class KnnTruth(ctx: Ctx) extends Workload {
  import Workload._
  val N = 50000; val D = 128; val Q = 8; val K = 100
  /** Each query's predicate passes exactly this share of the base. */
  val LabelsPerQuery = 6; val ScoreWidth = 50
  val workUnit = "distance evaluations"
  val warmupOps = 8
  private val spark = ctx.spark
  private lazy val basePath = ctx.dir("knn").resolve("base.fvec").toString
  private val kept = mutable.ArrayBuffer[Map[String, Any]]()
  private val KernelSample = 10000
  private val kernelSample = new Array[UnsafeArrayData](KernelSample)

  /** The base is written by a plain little-endian fvec writer, so set-up
    * runs no engine job; the engine reads it with XvecIO.read in every op. */
  def setup(): Unit = {
    val r = ctx.rng(-1, 0)
    val buf = java.nio.ByteBuffer.allocate(4 + 4 * D).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(basePath),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try (0 until N).foreach { o =>
      buf.clear(); buf.putInt(D)
      val v = gaussian(r, D)
      v.foreach(buf.putFloat)
      if (o < KernelSample) kernelSample(o) = UnsafeArrayData.fromPrimitiveArray(v)
      buf.flip(); while (buf.hasRemaining) ch.write(buf)
    } finally ch.close()
  }

  /** Base rows with the metadata the predicates filter on. label and score
    * are fixed functions of the ordinal, so every predicate below passes
    * exactly 6/10 * 50/100 = 30% of the base whatever the seed. */
  private def base: DataFrame = ctx.call("sources", "XvecIO.read") {
    XvecIO.read(spark, basePath)
  }.select(col("ordinal").as("vec_id"), col("vector").as("embedding"),
    (col("ordinal") % 10).as("label"), ((col("ordinal") / 10).cast("long") % 100).as("score"))

  private def predicate(labels: Seq[Int], lo: Int): PNode = ConjugateNode.and(
    PredicateNode.namedTyped("label", OpType.IN, labels.map(l => Comparand.IntVal(l.toLong)): _*),
    PredicateNode.namedTyped("score", OpType.GE, Comparand.IntVal(lo.toLong)),
    PredicateNode.namedTyped("score", OpType.LT, Comparand.IntVal((lo + ScoreWidth).toLong)))

  private def batch(i: Long): (Seq[Array[Float]], Seq[(Seq[Int], Int)]) = {
    val r = ctx.rng(i, 1)
    val vecs = Seq.fill(Q)(gaussian(r, D))
    val preds = Seq.fill(Q)((r.shuffle((0 until 10).toList).take(LabelsPerQuery).sorted,
      r.nextInt(100 - ScoreWidth + 1)))
    (vecs, preds)
  }
  private lazy val querySchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("predicate", BinaryType)))

  def op(i: Long, record: Boolean): (String, Double) = {
    val (vecs, preds) = batch(i)
    val blobs = ctx.call("predicates", "PNodeCodec.encodeFramed") {
      preds.map { case (ls, lo) => PNodeCodec.encodeFramed(predicate(ls, lo), PNodeCodec.Mode.NamedTyped) }
    }
    val rows = vecs.indices.map(j => Row(i * Q + j, vecs(j), blobs(j)))
    val queries = spark.createDataFrame(rows.asJava, querySchema)
    val exactDf = Knn.knn(queries.select("vec_id", "embedding"), base, K, "COSINE")
    val exact = ctx.call("operators", "Knn.knn")(exactDf.collect())
    val hybridDf = HybridGroundTruth.knnWithPerQueryPredicates(queries, base, K, "COSINE",
      metadataCols = Seq("label", "score"))
    val hybrid = ctx.call("operators", "HybridGroundTruth.knnWithPerQueryPredicates")(hybridDf.collect())
    val recall = ctx.call("operators", "Knn.avgRecall") {
      Knn.avgRecall(spark.createDataFrame(hybrid.toSeq.asJava, hybridDf.schema),
        spark.createDataFrame(exact.toSeq.asJava, exactDf.schema), K).collect()(0).getDouble(0)
    }
    if (record) {
      def neighbours(rs: Array[Row]) = rs.toSeq.map(r => Seq(r.getLong(0), r.getLong(1),
        r.getInt(2).toLong, r.getDouble(3)))
      kept += Map("op" -> i, "queries" -> vecs.map(floats),
        "predicates" -> preds.map { case (ls, lo) => Map("labels" -> ls, "score_lo" -> lo,
          "score_hi" -> (lo + ScoreWidth)) },
        "query_ids" -> vecs.indices.map(j => i * Q + j),
        "exact" -> neighbours(exact), "hybrid" -> neighbours(hybrid), "recall" -> recall)
    }
    ("knn_batch", Q.toDouble * N + Q.toDouble * N * LabelsPerQuery / 10 * ScoreWidth / 100)
  }

  /** Layer probes: the distance kernel alone, predicate selectivity, and a
    * full scan of the base through XvecIO.read. */
  def probe(i: Long): Map[String, Double] = {
    val (vecs, preds) = batch(i)
    // the distance kernel alone, on the driver, over a 10k-vector sample
    val qs = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val cosine = DistanceKernels.metricId("COSINE")
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val c0 = bean.getCurrentThreadCpuTime
    var sink = 0.0
    ctx.call("functions", "DistanceKernels.compute") {
      qs.foreach(q => kernelSample.foreach(b => sink += DistanceKernels.compute(q, b, cosine)))
    }
    val kernelNs = (bean.getCurrentThreadCpuTime - c0).toDouble / (qs.size * kernelSample.length)
    require(!sink.isNaN, "distance kernel returned NaN")
    // share of base rows each query's predicate passes (sampled ordinals)
    val r = ctx.rng(i, 2)
    val sample = Seq.fill(2000)(r.nextInt(N).toLong)
    val trees = preds.map { case (ls, lo) => predicate(ls, lo) }
    val passed = ctx.call("predicates", "PNodeEvaluator.matches") {
      trees.map(t => sample.count(o =>
        PNodeEvaluator.matches(t, Map("label" -> o % 10, "score" -> (o / 10) % 100)))).sum
    }
    ctx.call("sources", "XvecIO.read(noop)") {
      XvecIO.read(spark, basePath).write.mode("overwrite").format("noop").save()
    }
    Map("functions.kernel_ns_per_pair" -> kernelNs,
      "predicates.pass_frac" -> passed.toDouble / (trees.size * sample.size))
  }

  override def layerValues(t: Tracer, op: Span): Map[String, Double] = {
    val kids = t.children(op.id)
    def named(n: String) = kids.find(_.name == n)
    val exact = named("Knn.knn").get
    val hybrid = named("HybridGroundTruth.knnWithPerQueryPredicates").get
    val exactCpu = t.subtreeCounts(exact.id).taskCpuNs.toDouble
    Map(
      "operators.knn_s" -> exact.seconds,
      "operators.knn_hybrid_s" -> hybrid.seconds,
      "operators.recall_s" -> named("Knn.avgRecall").get.seconds,
      "predicates.compile_s" -> named("PNodeCodec.encodeFramed").get.seconds,
      "functions.cpu_ns_per_pair" -> exactCpu / (Q.toDouble * N),
      "predicates.hybrid_cpu_ratio" -> t.subtreeCounts(hybrid.id).taskCpuNs / exactCpu)
  }

  def finish(): Map[String, Any] = {
    Report.writeJson(ctx.work.resolve("check-knn.json"), Map("base" -> basePath,
      "n" -> N, "dim" -> D, "k" -> K, "ops" -> kept.toSeq))
    Map.empty
  }
}

/** One execution of q287_pagerank, q301_coreness or q311_hits per op, in a
  * seeded order within each rotation of three, over a 5,000-document corpus.
  */
final class GraphIter(ctx: Ctx) extends Workload {
  val Names = Seq("q287_pagerank", "q301_coreness", "q311_hits")
  val Docs = 5000
  val workUnit = "query executions"
  val warmupOps = 9
  override val groupSize = 3
  override val minMeasuredOps = 6
  private val spark = ctx.spark
  private lazy val sfDir = ctx.dir("sf").toString
  private var fns: Map[String, (SparkSession, String) => DataFrame] = _
  private val hashes = mutable.Map[String, mutable.ArrayBuffer[(Long, String)]]()
  private val sample = mutable.Map[String, (Seq[String], Seq[Seq[Any]])]()

  def setup(): Unit = {
    // doc_id 0..4999 defines the link graphs; the seed only sets the text
    val r = ctx.rng(0, 3)
    val langs = Seq("en", "de", "fr", "es")
    val rows = (0 until Docs).map { d =>
      val text = Seq.fill(8 + r.nextInt(8))(r.alphanumeric.take(3 + r.nextInt(6)).mkString)
        .mkString(" ")
      Row(d.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    fns = Names.map(n => n -> graft.SparkEntry.queries(n)).toMap
  }

  /** Query of op i: each rotation of three runs every query once. */
  def name(i: Long): String = {
    val order = ctx.rng(i / 3, 4).shuffle(Names.toList)
    order((i % 3).toInt)
  }

  def op(i: Long, record: Boolean): (String, Double) = {
    val q = name(i)
    // the query functions run their rounds eagerly, so the call spans both
    val (cols, rows) = ctx.call("queries", q) {
      val df = fns(q)(spark, sfDir)
      (df.columns.toSeq, df.collect())
    }
    if (record) {
      val vals = rows.toSeq.map(_.toSeq)
      val canon = vals.map(_.map(String.valueOf).mkString("\u0001")).sorted.mkString("\n")
      hashes.getOrElseUpdate(q, mutable.ArrayBuffer()) += ((i, Report.sha1(canon)))
      if (!sample.contains(q)) sample(q) = (cols, vals)
    }
    (q, 1.0)
  }

  override def layerValues(t: Tracer, op: Span): Map[String, Double] = {
    val call = t.children(op.id).head
    val c = t.subtreeCounts(call.id)
    val short = call.name.takeWhile(_ != '_')
    Map(s"queries.${short}_s" -> call.seconds, s"queries.${short}_jobs" -> c.jobs.toDouble,
      s"queries.${short}_gap_s" -> (call.seconds - t.jobBusySeconds(call, c.jobIntervals.toSeq)))
  }

  def finish(): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    Report.writeJson(ctx.work.resolve("check-graph.json"), Map("sf" -> sfDir,
      "queries" -> Names.filter(sample.contains).map { q =>
        val (cols, vals) = sample(q)
        Map("name" -> q, "sql" -> oracle(q), "columns" -> cols, "rows" -> vals,
          "ops" -> hashes(q).map { case (i, h) => Map("op" -> i, "hash" -> h) }.toSeq,
          "sample_hash" -> hashes(q).head._2)
      }))
    Map.empty
  }
}

/** Generate a 50,000 x 128 shard at fixed zero and duplicate proportions,
  * write it as fvec, read a 25,000-record window back and profile it.
  */
final class VecIngest(ctx: Ctx) extends Workload {
  val N = 50000; val D = 128; val Window = 25000
  val Zeroes = 0.01; val Duplicates = 0.05
  val workUnit = "vectors written + vectors scanned"
  val warmupOps = 12
  private val spark = ctx.spark
  private lazy val dir = ctx.dir("ingest")
  private val kept = mutable.ArrayBuffer[Map[String, Any]]()
  private var inJvmFailures = 0
  private var recorded = 0

  def setup(): Unit = ()

  private def shardSeed(i: Long): Long = graft.functions.StableHash.mix(ctx.seed * 31L + i)
  def generate(i: Long): DataFrame = ctx.call("operators", "Generators.gaussianVectors") {
    Generators.gaussianVectors(spark, N, D, seed = shardSeed(i),
      zeroesProportion = Zeroes, duplicatesProportion = Duplicates)
  }

  def op(i: Long, record: Boolean): (String, Double) = {
    // every fourth recorded shard is kept for the checks; the rest overwrite one file
    val keep = record && recorded % 4 == 0
    if (record) recorded += 1
    val path = dir.resolve(if (keep) s"shard-$i.fvec" else "shard.fvec").toString
    val df = generate(i)
    val written = ctx.call("sources", "XvecIO.write")(XvecIO.write(df, path))
    val lo = ctx.rng(i, 5).nextInt(N - Window + 1)
    val win = ctx.call("sources", "XvecIO.read")(XvecIO.read(spark, path, s"[$lo..${lo + Window})"))
    val stats = ctx.call("operators", "ProfileStats.perDimStats") {
      ProfileStats.perDimStats(win, "vector").collect()
    }
    if (record && (written != N || stats.length != D ||
        stats.exists(r => r.getAs[Long]("cnt") != Window))) inJvmFailures += 1
    if (keep) kept += Map("op" -> i, "path" -> path, "seed" -> shardSeed(i), "n" -> written,
      "window_lo" -> lo, "window_hi" -> (lo + Window),
      "zeroes" -> Zeroes, "duplicates" -> Duplicates,
      "stats" -> stats.toSeq.sortBy(_.getAs[Int]("dim")).map(r => Seq(
        r.getAs[Int]("dim").toDouble, r.getAs[Double]("mean"), r.getAs[Double]("std"),
        r.getAs[Double]("min"), r.getAs[Double]("max"), r.getAs[Long]("cnt").toDouble)))
    ("shard", (N + Window).toDouble)
  }

  override def layerValues(t: Tracer, op: Span): Map[String, Double] = {
    val kids = t.children(op.id)
    val write = kids.find(_.name == "XvecIO.write").get
    val wc = t.subtreeCounts(write.id)
    Map(
      "sources.write_s" -> write.seconds,
      "sources.write_driver_s" -> (write.seconds - t.jobBusySeconds(write, wc.jobIntervals.toSeq)),
      "sources.write_shuffle_ratio" -> wc.shuffleWriteBytes.toDouble / (N.toDouble * (4 + 4 * D)),
      "operators.profile_s" -> kids.find(_.name == "ProfileStats.perDimStats").get.seconds)
  }

  def finish(): Map[String, Any] = {
    Report.writeJson(ctx.work.resolve("check-ingest.json"), Map("dim" -> D, "ops" -> kept.toSeq))
    Map("in_jvm_failures" -> inJvmFailures)
  }
}

/** Single-layer probes, run after the last op of a traced group and outside
  * every op's latency, so each traced run reports the probe-derived layer
  * metrics whichever workload it runs. Fixtures a probe needs and the
  * workload lacks are created on first use.
  */
final class LayerProbes(ctx: Ctx, wl: Workload) {
  private lazy val knn = wl match {
    case k: KnnTruth => k
    case _ => val k = new KnnTruth(ctx); k.setup(); k
  }
  private lazy val ingest = wl match {
    case v: VecIngest => v
    case _ => new VecIngest(ctx)
  }

  def run(t: Tracer, i: Long): Map[String, Double] = {
    val values = knn.probe(i)
    ctx.call("operators", "Generators.gaussianVectors(noop)") {
      ingest.generate(i).write.mode("overwrite").format("noop").save()
    }
    if (wl eq ingest) values
    else {
      val at = t.spans.size
      ctx.call("bench", "probe.vec_ingest")(ingest.op(i, record = false))
      values ++ ingest.layerValues(t, t.spans(at))
    }
  }
}
