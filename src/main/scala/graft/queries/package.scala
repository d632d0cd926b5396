package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** Scratch dir for queries that must round data through a file format:
    * cwd-independent AND host-portable — env override, else the JVM tmpdir.
    * One subdirectory per process, so two drivers on one host (a Verify run
    * next to a test run) never read or clean up each other's files.
    */
  private[graft] def tmpDir(): String = {
    val base = sys.env.getOrElse("SPARK_GRAFT_TMPDIR",
      System.getProperty("java.io.tmpdir"))
    val d = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      base, "graft-qtmp", s"pid-${ProcessHandle.current().pid()}"))
    d.toString
  }

  /** One driver-checkable query: a Spark implementation plus (when the
    * semantics are SQL-expressible) an equivalent DuckDB oracle over the same
    * parquet tables. Column names must match exactly between the two — the
    * driver sorts columns by name before hashing values.
    */
  final case class GQuery(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object GQuery {
    def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): GQuery =
      GQuery(name, run, Some(oracle))
    def noOracle(name: String)(run: (SparkSession, String) => DataFrame): GQuery =
      GQuery(name, run, None)
  }
}
