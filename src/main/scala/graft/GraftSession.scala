package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession gets its settings, so the contract
  * mains (Verify, Bench), the CLI, the dev tools and the test session
  * cannot drift apart. Callers pick the master and the shuffle-partition
  * count and may add their own settings before `getOrCreate()`.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded-heap aggregates (TopKPairs) keep k-sized buffers, so the
      // hash map stays small at ANY key count — Spark's default 128-key
      // fallback to sort-based aggregation would instead SORT the raw pair
      // stream (the knnPartitioned grid join measured a disk-filling spill
      // at 200k x 10k before this was raised)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // the default 100-entry codegen cache thrashes under a 143-query
      // sweep (every sweep recompiles every generated class — measured as
      // uniform per-query inflation vs small sweeps; see PLANS.md bench
      // protocol); size it to hold the whole suite's codegen units
      .config("spark.sql.codegen.cache.maxEntries", "5000")
}
