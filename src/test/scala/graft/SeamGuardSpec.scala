package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for one-seam rules, read from every file under
  * `src/main/scala` (the `MaterializeSpec` checkpoint guard's shape): the
  * bounded top-k heap is called from `Knn.topK`, the one search tail;
  * sessions are built by `GraftSession` alone; the operators decode
  * predicate blobs only in `HybridGroundTruth.perQuery`; and exact and
  * hybrid KNN score in the `KnnTopK` aggregate, never over a pair stream.
  */
class SeamGuardSpec extends AnyFunSuite {
  private val DefName = """\bdef\s+(\w+)""".r

  /** (file path, enclosing def, file:line) of every line containing `token`. */
  private def hits(token: String): List[(String, String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        DefName.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        if (line.contains(token)) Some((p.toString, enclosing, s"$p:${i + 1}"))
        else None
      }
    }.toList
  }

  test("topKPairs( is called only by Knn.topK, Clustering.clusterSample and its definition") {
    val allowed = Set(("Knn.scala", "topK"), ("Clustering.scala", "clusterSample"),
      ("TopKAggregate.scala", "topKPairs"))
    val stray = hits("topKPairs(").filterNot { case (path, enclosing, _) =>
      val file = Paths.get(path).getFileName.toString
      allowed((file, enclosing)) || file == "GraftExtensions.scala"
    }
    assert(stray.isEmpty,
      s"${stray.size} hand-copied top-k tail(s): ${stray.map(_._3).mkString(", ")}")
  }

  test("SparkSession.builder is called only by GraftSession") {
    val stray = hits("SparkSession.builder").filterNot(_._1.endsWith("/GraftSession.scala"))
    assert(stray.isEmpty,
      s"${stray.size} session builder(s) outside GraftSession: ${stray.map(_._3).mkString(", ")}")
  }

  test("PNodeCodec.decodeFramed is called under operators/ only by HybridGroundTruth.perQuery") {
    val stray = hits("PNodeCodec.decodeFramed").filter(_._1.contains("/operators/"))
      .filterNot { case (path, enclosing, _) =>
        path.endsWith("/HybridGroundTruth.scala") && enclosing == "perQuery"
      }
    assert(stray.isEmpty,
      s"${stray.size} predicate decode(s) outside the seam: ${stray.map(_._3).mkString(", ")}")
  }

  test("Knn.scala and HybridGroundTruth.scala build no query x base cross join") {
    val stray = hits("crossJoin(").filter { case (path, _, _) =>
      path.endsWith("/Knn.scala") || path.endsWith("/HybridGroundTruth.scala")
    }
    assert(stray.isEmpty,
      s"${stray.size} per-pair join(s) beside the KnnTopK kernel: ${stray.map(_._3).mkString(", ")}")
  }
}
