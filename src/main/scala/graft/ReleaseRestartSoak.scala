package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Release

/** The production-contract release soak the q233 scaladoc promises: the
  * incremental-release artifacts PERSIST as parquet between releases and
  * the next release runs in a DIFFERENT process. q233/q234 stand in for
  * this with `localCheckpoint` (same-session memory); this main closes
  * the gap with a real write → process restart → read → incremental
  * cycle, asserting the restart changes nothing:
  *
  *   sbt "runMain graft.ReleaseRestartSoak write <artDir> <sfDir>"
  *   sbt "runMain graft.ReleaseRestartSoak read  <artDir> <sfDir>"
  *
  * `write` builds v1's artifacts (q233's version fixture) and persists the
  * four artifact relations as parquet. `read` — a fresh JVM — reloads
  * them, runs the incremental release to v2, and asserts row-identity
  * with the from-scratch release on v2 (the q233 invariant, now across a
  * process boundary), printing phase timings. Exits nonzero on any
  * mismatch. PLANS.md records the measured run.
  */
object ReleaseRestartSoak {

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ReleaseRestartSoak <write|read> <artifactDir> <sfDir>")
    val Array(phase, artDir, sfDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val (v1, v2, bench, p) = queries.CurationQueries.releaseFixture(spark, sfDir)

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    phase match {
      case "write" =>
        val art = Release.artifacts(v1, bench, "doc_id", "text", p)
        timed(s"persist v1 artifacts -> $artDir") {
          art.index.write.mode("overwrite").parquet(s"$artDir/index")
          art.pairs.write.mode("overwrite").parquet(s"$artDir/pairs")
          art.contam.write.mode("overwrite").parquet(s"$artDir/contam")
          art.scores.write.mode("overwrite").parquet(s"$artDir/scores")
        }
        println("[soak] write phase done — restart and run the read phase")

      case "read" =>
        val art = Release.Artifacts(
          spark.read.parquet(s"$artDir/index"),
          spark.read.parquet(s"$artDir/pairs"),
          spark.read.parquet(s"$artDir/contam"),
          spark.read.parquet(s"$artDir/scores"))
        def canon(df: DataFrame) = df
          .select(col("id"), col("score"), col("cost"), col("cum_before"))
          .collect().map(_.toSeq).sortBy(_.toString)
        val inc = timed("incremental release from RESTART-READ artifacts") {
          canon(Release.incremental(v1, art, v2, bench, "doc_id", "text", p))
        }
        val scratch = timed("from-scratch release on v2 (the oracle twin)") {
          canon(Release.fromScratch(v2, bench, "doc_id", "text", p))
        }
        if (inc.toSeq != scratch.toSeq) {
          System.err.println(s"[soak] MISMATCH: incremental ${inc.length} rows " +
            s"vs from-scratch ${scratch.length} rows")
          inc.toSeq.diff(scratch.toSeq).take(5).foreach(r =>
            System.err.println(s"[soak]   inc-only: $r"))
          scratch.toSeq.diff(inc.toSeq).take(5).foreach(r =>
            System.err.println(s"[soak]   scratch-only: $r"))
          sys.exit(1)
        }
        println(s"[soak] PARITY across process restart: ${inc.length} selected " +
          "docs identical (id, score, cost, cum_before)")
    }
    spark.stop()
  }
}
