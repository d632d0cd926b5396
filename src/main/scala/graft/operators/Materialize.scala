package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared materialization policy for the iterative operators AND for
  * shared-subplan materializations ([[view]]). Every iterative round MUST
  * materialize its state frame: the state is referenced at least twice by
  * the next round (contribution join + dangling/fixpoint pass), so an
  * unmaterialized chain re-executes its whole prefix ~2^rounds times —
  * measured in PageRank.scala (q295: 5.1 s → 30.6 s when relaxed). The
  * graph operators reach this policy through one seam, [[GraphLoop]]: its
  * prepared graph, round drivers, stride and witness rules.
  *
  * Backends (selected by the session only:
  * `spark.graft.materialize.backend` = `local` | `disk` | `reliable` plus
  * `spark.graft.materialize.dir` for `reliable`; any other value throws):
  *  - `local` (the default): `localCheckpoint` — truncates lineage into
  *    executor MEMORY_AND_DISK blocks. Zero external storage, right for
  *    local mode and short jobs, but NOT fault-tolerant: the blocks live
  *    only on executors, so an executor loss kills the job;
  *  - `disk`: `localCheckpoint(StorageLevel.DISK_ONLY)` — same lineage
  *    truncation, but the blocks spill straight to executor-local disk:
  *    no storage-memory pressure from large materialized frames (the
  *    100 TB setting for big shared frames when reliable storage is not
  *    mounted). Still executor-local, still not fault-tolerant;
  *  - `reliable`: `checkpoint` into a reliable store (HDFS/object
  *    store): the production setting for long iterative jobs on real
  *    clusters; survives executor loss at the cost of one write+read of
  *    the state per round — 16 bytes/node for rank frames, far under any
  *    shuffle budget. A lazy reliable frame is also persisted in executor
  *    storage, so its first action computes the rows once and the
  *    checkpoint write reads them back instead of re-running the lineage.
  *
  * `policy` prepares the SparkContext ONCE per operator call
  * (`setCheckpointDir` creates a fresh UUID subdirectory every time it
  * is invoked, so calling it per round would litter the store) and
  * returns the per-round materializer.
  */
private[graft] object Materialize {

  /** Inherited-statistic ceiling per materialized frame: 1 TiB — far above
    * every broadcast threshold (so a frame the planner would broadcast
    * keeps its exact, honest estimate) while bounding the size-only
    * estimator's cross-round growth. Without the cap, checkpoint bakes
    * the origin plan's JOIN-MULTIPLIED sizeInBytes into each round's
    * leaf, so a state frame referenced k>=2 times per round grows its
    * stat's digit count geometrically — by round ~25 the driver burns
    * minutes multiplying million-digit BigIntegers inside
    * `rewriteStatsAndConstraints` (see Bridge.capStats).
    */
  private val StatCapBytes = 1L << 40

  /** The session's backend, which must name one of the three — a typo
    * throws instead of silently checkpointing into reliable storage.
    */
  private def backend(spark: SparkSession): String =
    spark.conf.get("spark.graft.materialize.backend", "local") match {
      case b @ ("local" | "disk" | "reliable") => b
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize.backend must be local, disk or reliable, got '$other'")
    }

  /** Reliable checkpoint directory: the session conf, then an already-set
    * SparkContext checkpoint dir. Set once per materializer (see object
    * scaladoc).
    */
  private def reliableDir(spark: SparkSession): String =
    Option(spark.conf.get("spark.graft.materialize.dir", null))
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ckpt")

  /** The per-round materializer for the given backend. `eager = false`
    * defers the materializing job to the FIRST ACTION that reads the
    * frame — the witness-fusion contract: an iterative loop whose next
    * step is a convergence aggregate (`collect`) lets THAT job compute
    * and persist the blocks, halving the per-round job count (guide §1.2:
    * don't run two jobs where one suffices). Lineage still truncates at
    * the end of that first action (Spark fills in any partitions the
    * action skipped), so the plan-growth guarantee is unchanged.
    */
  def policy(spark: SparkSession, eager: Boolean = true): DataFrame => DataFrame = {
    val checkpoint: DataFrame => DataFrame = backend(spark) match {
      case "local" => _.localCheckpoint(eager)
      case "disk" => _.localCheckpoint(eager, StorageLevel.DISK_ONLY)
      case _ =>
        spark.sparkContext.setCheckpointDir(reliableDir(spark))
        df => {
          val out = df.checkpoint(eager)
          // a lazy checkpoint writes its files in a second job after the
          // first action; persisted, that job reads the rows the action
          // stored instead of recomputing the lineage ([[free]] releases them)
          if (!eager) out.queryExecution.analyzed match {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              l.rdd.persist(StorageLevel.MEMORY_AND_DISK)
            case _ =>
          }
          out
        }
    }
    df => org.apache.spark.sql.graftbridge.Bridge.capStats(checkpoint(df), StatCapBytes)
  }

  /** Materialize a SHARED SUBPLAN once (Catalyst has no cross-join-leg
    * subplan dedup, so an unmaterialized frame referenced by k legs
    * re-executes its whole pipeline k times). Same backend policy as the
    * iterative seam; frames that are already leaves — materialized
    * frames, local relations, file and DSv2 scans — pass through untouched
    * (the Release.materialized leaf-skip rule).
    *
    * `estBytes` (> 0) gates the materialization on size: above
    * `spark.graft.materialize.maxBytes` (default 32 GiB) the frame is
    * returned UNmaterialized and its consumers recompute it — the scale
    * guard for frames that grow with the corpus (the ExactSubstr
    * per-character window posting is LARGER than the corpus at 100 TB;
    * pinning it into executor storage is worse than the second pass it
    * saves). Local test SFs sit far under the default, so local plans
    * keep the materialized leaf.
    */
  def view(df: DataFrame, estBytes: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    backend(spark) // a typo throws even when the frame passes through
    val isLeaf =
      df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode]
    lazy val maxBytes =
      spark.conf.get("spark.graft.materialize.maxBytes", (32L << 30).toString).toLong
    if (isLeaf || (estBytes > 0 && estBytes > maxBytes)) df
    else policy(spark)(df)
  }

  /** Hash-repartition a frame that is about to be CACHED and re-scanned
    * every round of an iterative loop, with the partition count derived
    * from its SIZE instead of the session's core-count default (brief §2 /
    * guide §2.2: a cached relation's partitioning is frozen at build time
    * and AQE cannot coalesce a cache scan — at local test SFs a 32-way
    * cached edge frame makes every round pay 32 task launches for
    * kilobyte partitions, and at cluster scale the same constant would
    * under-partition). count = ceil(estimated bytes / advisory partition
    * size), clamped to [1, spark.sql.shuffle.partitions]; the estimate is
    * the optimizer's (size-only — partition count only affects cost,
    * never results). Keyed repartition, so the per-round join against the
    * frame stays co-partitioned at scale.
    */
  def sizedByKey(df: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val advisory = spark.conf
      .get("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L << 20).toString)
    val advisoryBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(advisory)
    val maxP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (bytes / advisoryBytes + 1).min(BigInt(maxP)).max(BigInt(1)).toInt
    df.repartition(n, keys.map(col): _*)
  }

  /** Release the executor-storage blocks of a SUPERSEDED materialized
    * frame. A `localCheckpoint` persists its RDD blocks on executors and
    * nothing frees them until the driver's ContextCleaner happens to GC
    * the dropped reference — at maxIters=50 an iterative loop holds up to
    * 50× its steady-state footprint in dead rank frames. The checkpointed
    * RDD is the `LogicalRDD` leaf of the returned frame; unpersist it
    * (non-blocking) as soon as the next round's frame is eagerly
    * materialized and the delta/convergence aggregate has read the old
    * one. Eager reliable `checkpoint(dir)` frames live in external storage,
    * not executor memory (the cleaner GCs the files) — no-op for them, and
    * for any frame that is not a materialized leaf; a lazy reliable frame
    * releases the blocks its first action persisted. Freeing a frame twice
    * is a no-op.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      // only RDDs still registered as persisted: freeing twice would race
      // two asynchronous block removals
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.sparkContext.getPersistentRDDs.contains(l.rdd.id) =>
        // quiet form of RDD.unpersist: freeing a dead locally-checkpointed
        // frame is THE contract here, so the per-call "cannot be
        // recomputed" warning is noise (CoreBridge scaladoc)
        org.apache.spark.graftbridge.CoreBridge.unpersistQuietly(l.rdd)
      case _ =>
    }
}
