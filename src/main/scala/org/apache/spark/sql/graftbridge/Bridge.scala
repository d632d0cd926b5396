package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge: `ExpressionUtils.column/expression` are
  * `private[sql]` in Spark 4, so Column <-> Catalyst Expression conversion for
  * our native expressions (distance kernels, top-k aggregate, f16 decode) must
  * be re-exported from inside the `org.apache.spark.sql` namespace. This is
  * the only file that lives outside the `graft` package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an `RDD[InternalRow]` as a DataFrame WITHOUT the external-Row
    * round trip (`createDataFrame(RDD[Row])` plans a RowEncoder
    * serialization boundary; this stays columnar-compatible and keeps
    * downstream operators inside whole-stage codegen). `private[sql]` in
    * Spark 4's classic session, hence bridged here. Rows may be reused
    * buffers: the planner's scan applies its own copying projection per
    * row, the pipelined-consumption contract of every InternalRow RDD.
    */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Re-wrap a checkpointed DataFrame (analyzed plan = one `LogicalRDD`
    * leaf) with its `sizeInBytes` statistic CAPPED. Why: `checkpoint`/
    * `localCheckpoint` bake the ORIGIN PLAN's estimated stats into the new
    * leaf (`LogicalRDD.rewriteStatsAndConstraints`), and the size-only
    * estimator MULTIPLIES child sizes through every join — so an iterative
    * operator whose state frame joins itself (or is referenced twice) per
    * round makes the leaf statistic grow geometrically in the DIGIT COUNT:
    * by round ~25 the planner is doing Toom-Cook multiplication on
    * million-digit BigIntegers and each materialization takes longer than
    * the job it plans (observed: an SCC fixpoint at 6+ s/round of pure
    * driver CPU). Capping the inherited stat at the leaf bounds every
    * later product while keeping sub-cap (honest, broadcastable) sizes
    * exact. Needs `LogicalRDD`'s curried constructor + `Dataset.ofRows`
    * (`private[sql]`), hence bridged here.
    */
  def capStats(df: org.apache.spark.sql.DataFrame,
      capBytes: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.stats.sizeInBytes > BigInt(capBytes) =>
        val capped = LogicalRDD(l.output, l.rdd, l.outputPartitioning,
          l.outputOrdering, l.isStreaming)(
          cs, Some(Statistics(sizeInBytes = BigInt(capBytes))), None)
        org.apache.spark.sql.classic.Dataset.ofRows(cs, capped)
      case _ => df
    }
  }

  /** The session's leaf-node default parallelism:
    * `spark.sql.leafNodeDefaultParallelism`, else `spark.default.parallelism`
    * — the divisor of Spark's own file-scan split size
    * (`FilePartition.maxSplitBytes`). `private[sql]` in the classic session.
    */
  def leafNodeDefaultParallelism(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].leafNodeDefaultParallelism

  /** Register a SQL function into an EXISTING session's registry
    * (`sessionState` is `private[sql]`) — the ad-hoc path; new sessions
    * should use `spark.sql.extensions=graft.GraftExtensions` instead.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Drain the listener bus (`private[spark]`) — lets a test that records
    * plans via a QueryExecutionListener assert AFTER every callback fired.
    */
  def waitListenerBusEmpty(spark: org.apache.spark.sql.SparkSession,
      timeoutMs: Long = 60000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Every UNPARTITIONED WindowExec in an executed plan, rendered as its
    * window-expression SQL — the single-partition-funnel detector behind
    * the PlanShapeSpec allowlist sweep. Descends into AQE wrappers, query
    * stages, reused exchanges/subqueries, and subquery expressions, which
    * a plain `plan.collect` would stop at.
    */
  def unpartitionedWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    val here = plan match {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        Seq(w.windowExpression.map(_.sql).mkString("; ").take(200))
      case _ => Nil
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case other => other.children
    }
    val sub = plan.expressions.flatMap(_.collect {
      case e: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
        e.plan match {
          case p: SparkPlan => unpartitionedWindows(p)
          case _ => Nil
        }
    }.flatten)
    here ++ children.flatMap(unpartitionedWindows) ++ sub
  }
}
