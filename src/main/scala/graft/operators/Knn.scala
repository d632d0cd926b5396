package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSeq, AttributeSet, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.functions.TopKPairs.topKPairs
import graft.functions.{DistanceKernels, KnnTopK, VectorFunctions}

/** Exact KNN ground-truth computation and recall verification (SURVEY.md
  * J3/J4/W1/A14; reference: `compute knn` / `verify_knn`, README.md:49-51,
  * docs/user_manual/03-cli-reference.md:203-222).
  *
  * Physical shape of [[knn]], chosen for the 100TB posture: the (small)
  * query set is collected once on the driver, split into blocks of
  * [[graft.functions.KnnTopK.BlockSize]] query ids and broadcast; the
  * (huge) base streams through the `KnnTopK` aggregate grouped by block.
  * Each base row's vector is read once and scored against its whole block
  * in one kernel pass, straight into one bounded heap per query id, so no
  * per-pair row is ever built. Partial aggregation runs map-side: the only
  * shuffle is num_partitions × blocks serialized k-heaps — never the
  * |Q|×|B| pair stream — and the blocks spread the final merge. An exact
  * result (this is ground-truth tooling), unlike LSH-style ANN.
  *
  * [[topK]] is the one top-k tail of every other nearest-neighbour search
  * here (partitioned exact, IVF, binary, graph, quantized and fused): each
  * builds its candidate pairs, and the score becomes a column BEFORE the
  * bounded heap, so the heap's input rows carry ids and one double, never
  * the vectors the score was computed from.
  */
object Knn {

  /** Per-query top-k of scored candidate pairs: drops self pairs when asked,
    * projects `(query_id, neighbor_id, dist)` so `dist` is evaluated before
    * the aggregate, then runs the map-side bounded heap
    * ([[graft.functions.TopKPairs]]).
    *
    * @param pairs candidate pairs carrying a `query_id` column
    * @param dist  the score, smaller is nearer (cast to double)
    * @param id    the candidate's id (cast to long)
    * @return (query_id, neighbor_id, rank, dist), rank 1..k by (dist, id) asc
    */
  def topK(pairs: DataFrame, dist: Column, id: Column, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val kept = if (excludeSelf) pairs.filter(id =!= col("query_id")) else pairs
    kept.select(col("query_id"), id.as("neighbor_id"), dist.as("dist"))
      .groupBy("query_id")
      .agg(topKPairs(col("dist"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("pair.dist").as("dist"))
  }

  /** Top-k nearest neighbors of each query vector. Collects the query side
    * when the frame is built (see the physical shape above); both vector
    * columns take `VectorFunctions.distance`'s float cast.
    *
    * @param queries  DataFrame with (idCol, vecCol) — expected small (broadcast)
    * @param base     DataFrame with (idCol, vecCol) — arbitrarily large
    * @param pairPredicate optional predicate over the joined (query×base) row,
    *   e.g. hybrid-query metadata restriction (J2); columns of both sides are
    *   in scope via the supplied extra columns.
    * @param excludeSelf drop base rows whose id equals the query id
    * @return (query_id, neighbor_id, rank, dist), rank 1..k by (dist, id) asc
    */
  def knn(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      queryExtra: Seq[String] = Nil,
      baseExtra: Seq[String] = Nil,
      pairPredicate: Option[Column] = None,
      excludeSelf: Boolean = false): DataFrame = {

    val q = queries.select(
      (Seq(col(idCol).cast("long").as("query_id"), col(vecCol).cast("array<float>").as("q_vec")) ++
        queryExtra.map(c => col(c).as(s"q_$c"))): _*)
    val b = base.select(
      (Seq(col(idCol).cast("long").as("neighbor_id"), col(vecCol).cast("array<float>").as("b_vec")) ++
        baseExtra.map(c => col(c).as(s"b_$c"))): _*)

    val toRow = CatalystTypeConverters.createToCatalystConverter(q.schema)
    val blocks = KnnTopK.blocks(
      q.collect().toSeq.map(r => toRow(r).asInstanceOf[InternalRow]), excludeSelf)
    val spark = queries.sparkSession
    b.withColumn("_qb", explode(array(blocks.indices.map(lit): _*).cast("array<int>")))
      .groupBy("_qb")
      .agg(KnnTopK.knnTopK(col("_qb"), struct(b.columns.map(col): _*),
        spark.sparkContext.broadcast(blocks), k, DistanceKernels.metricId(metric),
        pairPredicate.map(bindPair(spark, _, q.schema, b.schema)), excludeSelf).as("hits"))
      .select(inline(col("hits")))
  }

  /** `pred` resolved over the query side's columns followed by the base
    * side's, and split for [[KnnTopK]]: each largest deterministic
    * subexpression that reads base columns only becomes one per-row value,
    * bound to the base row, and the predicate is bound to the query
    * columns followed by those values.
    */
  private def bindPair(spark: SparkSession, pred: Column, left: StructType,
      right: StructType): (Expression, Seq[Expression]) = {
    val both = spark.createDataFrame(java.util.List.of[Row](), StructType(left ++ right))
    val (cond, attrs) = both.filter(pred).queryExecution.analyzed match {
      case Filter(c, child) => (c, child.output)
      case other => throw new IllegalStateException(s"pair predicate did not plan as a filter: $other")
    }
    val (queryAttrs, baseAttrs) = attrs.splitAt(left.size)
    val baseOnly = AttributeSet(baseAttrs)
    val perRow = mutable.ArrayBuffer.empty[(Expression, Attribute)]
    val split = cond.transformDown {
      case e if e.deterministic && e.references.nonEmpty && e.references.subsetOf(baseOnly) =>
        val slot = AttributeReference(s"_b${perRow.size}", e.dataType, e.nullable)()
        perRow += e -> slot
        slot
    }
    (BindReferences.bindReference(split, queryAttrs ++ perRow.map(_._2)),
      perRow.map(p => BindReferences.bindReference(p._1, baseAttrs)).toSeq)
  }

  /** [[knn]] for query sets too large for a single broadcast (the 100TB
    * deployment note in PLANS.md): queries are split into `nChunks`
    * deterministic hash partitions, each chunk runs the broadcast+heap plan
    * independently, and the per-chunk results union. Per-query top-k is
    * independent across queries, so the result is EXACTLY knn()'s; the
    * trade is `nChunks` scans of the base for an `|Q|/nChunks`-sized
    * broadcast. Use when |Q|·dim·4B would blow the broadcast budget.
    */
  def knnChunked(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      nChunks: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nChunks > 0, s"nChunks must be positive, got $nChunks")
    (0 until nChunks).map { i =>
      knn(queries.filter(pmod(xxhash64(col(idCol)), lit(nChunks)) === i),
        base, k, metric, idCol, vecCol)
    }.reduce(_ unionByName _)
  }

  /** [[knn]] with NO broadcast and NO base re-scans — the shuffle-partitioned
    * exact form for query sets too large even to chunk. Queries hash into
    * `nQBlocks` blocks and base rows into `nBBlocks`; each side replicates
    * across the other dimension so every (query-block, base-block) grid cell
    * meets on a plain shuffle key, and the bounded-heap aggregate reduces
    * each cell's pair stream MAP-SIDE — only k-sized partial heaps cross the
    * second exchange (the k-way merge). Results are EXACTLY [[knn]]'s (same
    * distances, same (dist, id) tie rule — per-query top-k is insensitive to
    * how its pairs were blocked).
    *
    * The trade vs [[knnChunked]]: the base crosses the wire `nQBlocks` times
    * and the queries `nBBlocks` times, instead of `nChunks` full base SCANS
    * each gated on a driver-held broadcast. At 100 TB pick
    * `nQBlocks ≈ |Q|·dim·4 B / (shuffle-partition budget)` so one replicated
    * query block fits a task, and `nBBlocks ≈ |B|·dim·4 B / (same budget)`;
    * the |Q|×|B| pair space itself never materializes anywhere.
    *
    * SIZING CONSTRAINT: the partial heap aggregate's key count per task is
    * queries-per-block × CELLS-PER-SHUFFLE-PARTITION, and it must stay
    * under `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (this repo's sessions set 65536; Spark's default is 128). Past it,
    * the partial aggregate falls back to SORT-BASED aggregation, which
    * sorts the raw pair stream — measured as a disk-filling spill at
    * 200k×10k, and (round 8) as a 1M×100k grid run that went from ~8 min
    * of kernel work to 45+ min of spill when hash collisions packed 3 of
    * the 16 grid cells into one shuffle partition (25k queries × 3 cells
    * = 75k keys > 65536). The cells-per-partition factor is why this
    * method now repartitions the grid join onto ≥4× nQBlocks·nBBlocks
    * partitions: with cells spread that thin the expected max is 1–2
    * cells per task, keeping the key count at queries-per-block scale.
    * The heap buffers are k-sized, so hash mode is safe at any realistic
    * key count; raise the threshold or nQBlocks together.
    */
  def knnPartitioned(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      nQBlocks: Int,
      nBBlocks: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nQBlocks > 0, s"nQBlocks must be positive, got $nQBlocks")
    require(nBBlocks > 0, s"nBBlocks must be positive, got $nBBlocks")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"),
      pmod(xxhash64(col(idCol)), lit(nQBlocks)).cast("int").as("_qb"))
    val b = base.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("b_vec"),
      pmod(xxhash64(col(idCol)), lit(nBBlocks)).cast("int").as("_bb"))
    val qRep = q.withColumn("_bb", explode(sequence(lit(0), lit(nBBlocks - 1))))
    val bRep = b.withColumn("_qb", explode(sequence(lit(0), lit(nQBlocks - 1))))
    // spread the nQBlocks×nBBlocks cells across ≥4× as many partitions:
    // hash collisions otherwise pack multiple cells into one task and the
    // partial-heap key count multiplies past the sort-based-fallback cliff
    // (see the sizing constraint above). Repartitioning on the join keys IS
    // the join exchange — no extra shuffle is added.
    val gridParts = math.max(
      queries.sparkSession.sessionState.conf.numShufflePartitions,
      nQBlocks * nBBlocks * 4)
    topK(qRep.repartition(gridParts, col("_qb"), col("_bb"))
        .join(bRep.repartition(gridParts, col("_qb"), col("_bb")), Seq("_qb", "_bb")),
      VectorFunctions.distance(col("q_vec"), col("b_vec"), metric),
      col("neighbor_id"), k)
  }

  /** Adaptive dispatch over the three exact forms: measure the QUERY side
    * (one count + one row for the dim — it is the small side by
    * construction) and pick broadcast / chunked / partitioned so the
    * broadcast budget and the sort-based-fallback cliff are respected
    * without the caller sizing anything. The base side is never scanned to
    * decide: its only role is choosing `nBBlocks` in the partitioned
    * regime, read from Catalyst's size estimate (plan statistics, free).
    *
    * Regimes (budget defaults: 128 MB broadcast, ≤4 extra base scans):
    *  - query bytes ≤ budget            → `knn` (one broadcast)
    *  - ≤ budget × maxBaseScans         → `knnChunked` (nChunks = ⌈bytes/budget⌉)
    *  - else                            → `knnPartitioned`, with nQBlocks
    *    sized to the budget AND the per-block query count held under the
    *    sort-based-fallback threshold — which this method RAISES to 65536
    *    for the session if it is lower (the silent cliff documented on
    *    [[knnPartitioned]]), and nBBlocks from the base size estimate at
    *    ~256 MB of vectors per block.
    * Returns the same (query_id, neighbor_id, rank, dist) contract.
    */
  def auto(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastBudgetBytes: Long = 128L << 20,
      maxBaseScans: Int = 4): DataFrame =
    autoPlan(queries, base, k, metric, idCol, vecCol,
      broadcastBudgetBytes, maxBaseScans)._2

  /** [[auto]] exposing the chosen strategy name ("broadcast" | "chunked" |
    * "partitioned") for specs, logs and the CLI's plan report.
    */
  def autoPlan(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      metric: String = "COSINE",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      broadcastBudgetBytes: Long = 128L << 20,
      maxBaseScans: Int = 4): (String, DataFrame) = {
    require(broadcastBudgetBytes > 0 && maxBaseScans >= 1,
      "auto: budget must be positive and maxBaseScans >= 1")
    val spark = queries.sparkSession
    val nQ = queries.count()
    if (nQ == 0L) return ("broadcast", knn(queries, base, k, metric, idCol, vecCol))
    val dim = queries.select(col(vecCol)).head().getSeq[Any](0).length
    // per-row broadcast cost: dim floats + id + array/row overhead
    val qBytes = nQ * (dim.toLong * 4 + 64)
    if (qBytes <= broadcastBudgetBytes)
      ("broadcast", knn(queries, base, k, metric, idCol, vecCol))
    else {
      val nChunks = ((qBytes + broadcastBudgetBytes - 1) / broadcastBudgetBytes).toInt
      if (nChunks <= maxBaseScans)
        ("chunked", knnChunked(queries, base, k, nChunks, metric, idCol, vecCol))
      else {
        val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        val fallback = spark.conf.getOption(fallbackKey).map(_.toInt).getOrElse(128)
        if (fallback < 65536) spark.conf.set(fallbackKey, "65536")
        val maxQPerBlock = math.max(1024, math.min(
          spark.conf.get(fallbackKey).toInt / 2,
          (broadcastBudgetBytes / (dim.toLong * 4 + 64)).toInt))
        val nQBlocks = ((nQ + maxQPerBlock - 1) / maxQPerBlock).toInt
        // base size from plan statistics — an ESTIMATE is fine: nBBlocks
        // only balances task size, never correctness
        val bBytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
        val nBBlocks = math.max(1, math.min(4096,
          (bBytes / BigInt(256L << 20)).toInt + 1))
        ("partitioned",
          knnPartitioned(queries, base, k, nQBlocks, nBBlocks, metric, idCol, vecCol))
      }
    }
  }

  /** recall@k between two (query_id, neighbor_id) neighbor sets — J4's
    * verify_knn: |predicted ∩ truth| / k averaged over the truth's
    * queries, zero-hit ones included. One grouped aggregation: both sets
    * meet per query, and each predicted row whose neighbor the truth
    * holds is one hit.
    */
  def avgRecall(predicted: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val pairs = predicted.select(col("query_id"), col("neighbor_id"), lit(false).as("truth"))
      .unionByName(truth.select(col("query_id"), col("neighbor_id"), lit(true).as("truth")))
    pairs.groupBy("query_id")
      .agg(collect_list(when(!col("truth"), col("neighbor_id"))).as("p"),
        collect_set(when(col("truth"), col("neighbor_id"))).as("t"))
      .filter(size(col("t")) > 0)
      .agg(round(avg(size(filter(col("p"), n => array_contains(col("t"), n)))
        .cast("double") / k), 4).as("avg_recall"))
  }
}
