package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-sequence event analytics: funnel conversion and the
  * first-order transition matrix — the two classic event-log instruments
  * (standard analytics practice; no reference counterpart — the events
  * table is the repo's behavioral-log surface next to sessionization and
  * retention in `streaming/EventStreams`).
  *
  * [[funnel]]: strictly-ordered conversion. A user converts step i when
  * an event of step i's type occurs STRICTLY AFTER their step-(i−1)
  * conversion time; the conversion time is the EARLIEST such event
  * (greedy-earliest is the standard funnel semantics and is
  * order-deterministic regardless of partitioning). Each step is one
  * join + one (user, min ts) aggregate — state is 16 bytes/user, and
  * every stage shuffles on user_id so Catalyst reuses the partitioning
  * across steps. `maxGapSeconds` optionally bounds each step's gap.
  *
  * [[transitionMatrix]]: per-user adjacent event pairs (ordered by ts,
  * tie-broken by event_id — the log's unique key — so the sequence is
  * total-ordered and deterministic), counted into P(to | from) =
  * cnt / Σ_from cnt. One partitioned window pass + one aggregate.
  */
object Funnel {

  /** Per-step funnel over `steps` event types. Output one row per step:
    * (step, event_type, users, conversion) where conversion =
    * users / step-1 users, rounded at 6.
    */
  def funnel(events: DataFrame, steps: Seq[String],
      maxGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    val spark = events.sparkSession
    import spark.implicits._

    // fold: (user_id, t) = conversion time of the previous step
    val matLazy = Materialize.policy(spark, eager = false)
    var cur: DataFrame = null
    val counts = steps.zipWithIndex.map { case (et, i) =>
      val hits = events.filter(col("event_type") === et)
      val prev = cur
      cur = if (i == 0) {
        hits.groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      } else {
        val gapOk = maxGapSeconds match {
          case Some(g) => col("ts") <= col("t") + expr(s"INTERVAL $g SECONDS")
          case None => lit(true)
        }
        hits.join(cur, "user_id")
          .filter(col("ts") > col("t") && gapOk)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      }
      // witness fusion (the GraphLoop.until discipline): the count is the
      // job that computes and persists each step's frame
      cur = matLazy(cur)
      val n = cur.count()
      if (prev != null) Materialize.free(prev)
      (i + 1, et, n)
    }
    Materialize.free(cur)
    counts.map { case (step, et, n) =>
      val prev = if (step == 1) n else counts(step - 2)._3
      val conv = if (prev == 0) 0.0 else n.toDouble / prev
      (step, et, n, conv)
    }.toDF("step", "event_type", "users", "conversion")
      // Spark round (HALF_UP) matches SQL round for non-negative ratios;
      // scala rint would half-to-even and diverge on exact 6th-decimal ties
      .withColumn("conversion", round(col("conversion"), 6))
  }

  /** Hourly event-rate anomaly z-scores per event type: for each observed
    * (event_type, hour) bucket, z = (cnt − mean) / stddev over the
    * `trailing` PRECEDING observed buckets of the same type (sample
    * stddev; the current bucket excluded). Buckets with fewer than 2
    * trailing observations (stddev undefined) or zero variance emit null
    * — the caller's alerting threshold reads non-null |z|. "Observed
    * buckets" (not a densified hour grid) is the documented semantics:
    * deterministic, and the trailing window is a partitioned window over
    * (type, hour) — never a global sort.
    */
  def rateZscores(events: DataFrame, trailing: Int = 24): DataFrame = {
    require(trailing >= 2, s"rateZscores: trailing >= 2, got $trailing")
    val hourly = events.groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour")
      .rowsBetween(-trailing, -1)
    hourly
      .withColumn("mu", avg(col("cnt")).over(w))
      .withColumn("sd", stddev_samp(col("cnt")).over(w))
      .select(col("event_type"), col("hour"), col("cnt"),
        when(col("sd").isNull || col("sd") === 0.0, lit(null))
          .otherwise((col("cnt") - col("mu")) / col("sd")).as("z"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * (from_type, to_type, cnt, p) with p = cnt / Σ cnt over from_type,
    * rounded at 6.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy(col("from_type").as("ft"))
      .agg(sum(col("cnt")).as("tot"))
    pairs.join(totals, col("from_type") === col("ft"))
      .select(col("from_type"), col("to_type"), col("cnt"),
        round(col("cnt") / col("tot"), 6).as("p"))
  }
}
