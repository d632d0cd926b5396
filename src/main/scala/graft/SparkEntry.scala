package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each family object under `graft.queries` contributes `GQuery` entries:
  * a named Spark implementation plus (where SQL-expressible) a DuckDB oracle
  * over the same parquet tables. The driver runs every `queries` entry at
  * sf0.01 and hash-compares against the oracle result.
  */
object SparkEntry {

  private def families: Seq[GQuery] =
    Relational.all ++ VectorQueries.all ++ PredicateQueries.all ++ StatsQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SourceQueries.all ++ StreamQueries.all ++
      MetadataQueries.all ++ HybridQueries.all ++ CoverageSourceQueries.all ++
      CoverageFunctionQueries.all ++ FitQueries.all ++ PqQueries.all ++ CurationQueries.all ++
      ClusterQueries.all ++ WandQueries.all ++ RvqQueries.all ++ UrlQueries.all ++ GraphQueries.all ++ LabelPropQueries.all ++ TriangleQueries.all ++ KCoreQueries.all ++ HnswQueries.all ++ HitsQueries.all ++ WalkQueries.all ++ TextRankQueries.all ++ NeighborhoodQueries.all ++ FunnelQueries.all ++ MatryoshkaQueries.all ++ SccQueries.all ++ KatzQueries.all ++ CooccurQueries.all // q325 lives in SccQueries

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0): the
    * SURVEY §7 "hybrid recall check" spine — embeddings → xvec write →
    * DSv2 scan with window pushdown → PNode-compiled metadata filter →
    * distance top-k join → recall vs the unfiltered ground truth. One
    * query through every layer: format, reader, predicate, expression,
    * join, aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)

    // format layer: round the vectors through the xvec binary format
    val tmp = graft.queries.tmpDir()
    val fvec = s"$tmp/entry-${System.nanoTime()}.fvec"
    graft.sources.xvec.XvecIO.write(
      emb.select(col("vec_id").as("ordinal"), col("embedding").as("vector")), fvec)
    val scanned = graft.sources.xvec.XvecIO.read(spark, fvec, window = "[0..500)")
      .join(emb.select(col("vec_id").as("ordinal"), col("label")), Seq("ordinal"))
      .select(col("ordinal").as("vec_id"), col("vector").as("embedding"), col("label"))

    // predicate layer: metadata restriction compiled from a PNode tree
    val pred = graft.predicates.PNodeCompiler.compile(
      graft.predicates.PredicateNode.namedTyped(
        "b_label", graft.predicates.OpType.IN,
        (0 until 5).map(i => graft.predicates.Comparand.IntVal(i.toLong)): _*),
      scanned.select(col("label").as("b_label")).schema)

    val queriesDf = scanned.filter(col("vec_id") < 20)
    val hybrid = graft.operators.Knn.knn(queriesDf, scanned, k = 10,
      queryExtra = Seq("label"), baseExtra = Seq("label"),
      pairPredicate = Some(pred), excludeSelf = true)
    val truth = graft.operators.Knn.knn(queriesDf, scanned, k = 10, excludeSelf = true)
    graft.operators.Knn.avgRecall(hybrid, truth, k = 10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.map(q => q.name -> q.run).toMap

  /** Queries filtered by the SPARK_GRAFT_ONLY env prefix list (dev tooling
    * shared by Verify and Bench; unset = everything).
    */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
