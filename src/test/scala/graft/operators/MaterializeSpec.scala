package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec

/** The materialization seam: it fails loudly on a misconfigured backend,
  * computes a lazily materialized frame once on every backend, leaves
  * frames that already are leaves alone, and is the only place engine
  * code materializes a frame.
  */
class MaterializeSpec extends SparkSpec {

  test("an unknown spark.graft.materialize.backend throws, naming the value") {
    // a typo must not silently select reliable checkpointing into tmpdir
    val session = spark.newSession()
    session.conf.set("spark.graft.materialize.backend", "locall")
    val e = intercept[IllegalArgumentException](Materialize.view(session.range(3).toDF()))
    assert(e.getMessage.contains("'locall'"), e.getMessage)
  }

  test("a lazy reliable materialization computes its rows once") {
    // the checkpoint write runs as a second job after the first action;
    // it must read the rows that action computed, not re-run the lineage
    val session = spark.newSession()
    val dir = Files.createTempDirectory("graft-mat-ckpt")
    session.conf.set("spark.graft.materialize.backend", "reliable")
    session.conf.set("spark.graft.materialize.dir", dir.toString)
    val computed = session.sparkContext.longAccumulator("rows computed")
    val bump = udf { (x: Long) => computed.add(1); x }
    val df = Materialize.policy(session, eager = false)(
      session.range(0, 100, 1, 4).select(bump(col("id")).as("id")))
    try {
      assert(df.count() == 100)
      assert(computed.value == 100, s"computed ${computed.value} rows for 100")
    } finally {
      Materialize.free(df)
      FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("view passes a parquet scan through untouched") {
    val dir = Files.createTempDirectory("graft-mat-view")
    val path = dir.resolve("t").toString
    spark.range(10).write.parquet(path)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      val scan = spark.read.parquet(path)
      val out = Materialize.view(scan)
      assert(out.queryExecution.analyzed == scan.queryExecution.analyzed)
      assert(out.count() == 10)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "view persisted a file scan")
    } finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("no engine file materializes a frame except through Materialize") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") || line.contains(".checkpoint(") =>
            s"$p:${i + 1}"
        }
      }.toList
    assert(hits.isEmpty, s"${hits.size} raw checkpoint call(s): ${hits.mkString(", ")}")
  }
}
