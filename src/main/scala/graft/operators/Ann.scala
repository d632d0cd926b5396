package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorFunctions

/** Approximate nearest-neighbor search over an embedding column — the scale
  * path beside the exact Knn operator (brute force IS the baseline: see
  * Knn.knn). IVF-Flat design:
  *
  *  - coarse quantizer: nList centroids (deterministic subset, or KMeans-
  *    trained via `trainCentroids`)
  *  - index: every base vector assigned to its nearest centroid (one
  *    broadcast join — the posture that scales: centroids are small, the
  *    base relation streams)
  *  - search: probe the nProbe nearest cells per query, exact top-k within
  *    probed cells via the bounded-heap aggregate
  *
  * At 100TB the index table is written back partitioned BY cell so a probe
  * reads only nProbe/nList of the data (partition pruning on `cell`).
  */
object Ann {

  /** The centroid set as (id, vector) sorted by id, for a broadcast. */
  private[operators] def collectCentroids(centroids: DataFrame, idCol: String,
      vecCol: String, caller: String): Array[(Long, Array[Float])] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val cents = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(cents.nonEmpty, s"$caller: empty centroid set (mis-filtered quantizer?)")
    cents
  }

  /** The `n` cells whose centroids are nearest `qv`, nearest first; ties
    * on distance break to the lower cell. A bounded heap over the
    * broadcast centroid array: the per-query probe list of every IVF and
    * graph search.
    */
  private[operators] def nearestCells(qv: Array[Float], cs: Array[(Long, Array[Float])],
      n: Int, metricId: Int): Seq[Long] = {
    val heap = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
      Ordering.by(p => (p._1, p._2)))
    var i = 0
    while (i < cs.length) {
      val d = graft.functions.DistanceKernels.computeArrays(qv, cs(i)._2, metricId)
      if (heap.size < n) heap.enqueue((d, cs(i)._1))
      else if (Ordering.Tuple2[Double, Long].lt((d, cs(i)._1), heap.head)) {
        heap.dequeue(); heap.enqueue((d, cs(i)._1))
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }

  /** Assign each row to its nearest centroid cell: (id, vec, cell). Ties
    * break to the lowest centroid id (deterministic).
    */
  def ivfIndex(base: DataFrame, centroids: DataFrame, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Map-side argmin over the BROADCAST centroid array — one pass, zero
    // shuffle. (The declarative form — crossJoin(broadcast) + groupBy(id) —
    // explodes nList rows per record THROUGH AN EXCHANGE carrying the vector
    // payload: measured 322 s vs seconds for this kernel at 1M × 256 cells.)
    val spark = base.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, idCol, vecCol, "ivfIndex")
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    base.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, vec) =>
        val cs = bc.value
        var bestCell = -1L
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val d = graft.functions.DistanceKernels.computeArrays(vec, cs(i)._2, metricId)
          // strict < with cells iterated in ascending id order = lowest-cell
          // tie-break, matching the declarative min(struct(d, cell)) form
          if (d < bestD) { bestD = d; bestCell = cs(i)._1 }
          i += 1
        }
        (id, vec, bestCell)
      }
      .toDF("id", "vec", "cell")
  }

  /** [[ivfIndex]] carrying metadata columns beside `(id, vec, cell)` — the
    * index shape the FILTERED search probes: per-query predicates evaluate
    * against these columns BEFORE the distance kernel. Same zero-shuffle
    * map-side argmin (the kernel runs as a column function so arbitrary
    * metadata rides along untouched); cell assignment is bit-identical to
    * [[ivfIndex]]'s ([[FilteredAnnSpec]] pins the parity). At 100 TB the
    * metadata travels WITH the cell-partitioned index, so a filtered probe
    * still reads only nProbe/nList of the data and never joins back to the
    * base relation.
    */
  def ivfIndexWithMeta(base: DataFrame, centroids: DataFrame,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", metaCols: Seq[String] = Nil): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, idCol, vecCol, "ivfIndexWithMeta")
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    val cellUdf = udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      val cs = bc.value
      var bestCell = -1L
      var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = graft.functions.DistanceKernels.computeArrays(v, cs(i)._2, metricId)
        if (d < bestD) { bestD = d; bestCell = cs(i)._1 } // lowest-cell ties
        i += 1
      }
      bestCell
    }
    base.select(
      (Seq(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"),
        cellUdf(col(vecCol).cast("array<float>")).as("cell")) ++
        metaCols.map(col)): _*)
  }

  /** FILTERED IVF search — the reference's hybrid discipline ("logical
    * conjunction of the vector ANN predicate and the non-vector
    * predicates", specs/ordinal_predicate_writers_v1.md:23-26) on the
    * APPROXIMATE path: each query row carries its own framed PNode blob
    * (`predicateCol`, null = unfiltered), and candidates from the probed
    * cells are eliminated by that predicate BEFORE the distance kernel and
    * heap (pre-filter semantics — the top-k is over the ELIGIBLE set, never
    * "search then discard", which silently returns < k under selective
    * predicates). Same probe selection, candidate join and bounded-heap
    * plan as [[ivfSearch]]; the predicate filter is one extra map-side
    * stage between the cell join and the kernel.
    *
    * `index` must come from [[ivfIndexWithMeta]] (or carry
    * `(id, vec, cell, metadataCols…)`). Output: (query_id, neighbor_id,
    * rank, dist). Predicate semantics match the exact path
    * ([[HybridGroundTruth.knnWithPerQueryPredicates]]) verbatim: the trees
    * come from the same seam ([[HybridGroundTruth.perQuery]]), so a
    * missing field fails as loudly, before any job runs.
    */
  def ivfSearchFiltered(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    searchFiltered(qs, preds, index, centroids, k, nProbe, metric, idCol, vecCol,
      metadataCols, excludeSelf)
  }

  /** [[ivfSearchFiltered]] over a query side that went through
    * [[HybridGroundTruth.perQuery]].
    */
  private def searchFiltered(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      index: DataFrame, centroids: DataFrame, k: Int, nProbe: Int, metric: String,
      idCol: String, vecCol: String, metadataCols: Seq[String],
      excludeSelf: Boolean): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, idCol, vecCol, "ivfSearchFiltered")
    require(nProbe > 0 && k > 0,
      s"ivfSearchFiltered: nProbe ($nProbe) and k ($k) must be positive")
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    // probe list with the query's predicate index riding along
    val probes = qs
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col(HybridGroundTruth.PredicateIndex))
      .as[(Long, Array[Float], Int)]
      .flatMap { case (qid, qv, pred) =>
        nearestCells(qv, bc.value, nProbe, metricId).map(cell => (qid, qv, pred, cell))
      }
      .toDF("query_id", "q_vec", "pred", "cell")
    filteredTopK(probes, preds, index, k, metric, metadataCols, excludeSelf)
  }

  /** The candidate join, pre-filter and heap of the filtered IVF searches:
    * the per-query predicate runs against the index metadata BEFORE any
    * distance is computed, so the kernel and heap only ever see eligible
    * candidates (PlanShapeSpec asserts the Filter sits under the
    * aggregate). `probes` carries (query_id, q_vec, pred, cell).
    */
  private def filteredTopK(probes: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      index: DataFrame, k: Int, metric: String, metadataCols: Seq[String],
      excludeSelf: Boolean): DataFrame = {
    val metaStruct = struct(metadataCols.map(c => col(c).as(c)): _*)
    val pairs = probes.join(index, "cell").filter(preds.filter(col("pred"), metaStruct))
    Knn.topK(pairs, VectorFunctions.distance(col("q_vec"), col("vec"), metric),
      col("id"), k, excludeSelf)
  }

  /** Recall-vs-selectivity card for the FILTERED approximate path — the
    * eval a serving deployment reads before fixing nProbe under metadata
    * filtering: as the predicate gets more selective, each probed cell
    * holds fewer eligible candidates and recall@k falls at fixed nProbe,
    * so nProbe must GROW with filter selectivity. One row per
    * (tier, n_probe): `tier` labels the query's selectivity class
    * (`tierCol` on the query relation), recall is micro-averaged
    * Σhits / Σ|filtered exact truth| over the tier's queries (truth from
    * [[HybridGroundTruth.knnWithPerQueryPredicates]] — the reference's
    * hybrid ground-truth discipline; queries whose predicate matches
    * nothing drop out, documented).
    *
    * Scale shape: the metadata-carrying index is assigned ONCE and probed
    * |nProbes| times; the exact filtered truth is ONE hybrid-KNN pass;
    * each curve point costs one filtered probe join plus a semi-join
    * against the truth.
    */
  def filteredRecallCurve(queries: DataFrame, base: DataFrame,
      centroids: DataFrame, k: Int, nProbes: Seq[Int], tierCol: String,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", predicateCol: String = "predicate",
      metadataCols: Seq[String] = Nil, excludeSelf: Boolean = false): DataFrame = {
    require(nProbes.nonEmpty, "filteredRecallCurve needs at least one nProbe")
    val index = Materialize.view(
      ivfIndexWithMeta(base, centroids, metric, idCol, vecCol, metadataCols))
    val truth = Materialize.view(HybridGroundTruth.knnWithPerQueryPredicates(
        queries, base, k, metric, idCol, vecCol, predicateCol, metadataCols,
        excludeSelf)
      .select(col("query_id"), col("neighbor_id")))
    val truthN = truth.groupBy("query_id").agg(count(lit(1)).as("truth_n"))
    val tiers = queries.select(col(idCol).cast("long").as("query_id"),
      col(tierCol).as("tier"))
    nProbes.map { np =>
      val pred = ivfSearchFiltered(queries, index, centroids, k, np, metric,
        idCol, vecCol, predicateCol, metadataCols, excludeSelf)
      val hits = pred.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      tiers.join(truthN, Seq("query_id"))
        .join(hits, Seq("query_id"), "left")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_queries"),
          round(sum(coalesce(col("hits"), lit(0L))).cast("double") /
            sum("truth_n"), 6).as("recall"))
        .select(col("tier"), lit(np.toLong).as("n_probe"),
          col("n_queries"), col("recall"))
    }.reduce(_ unionAll _)
  }

  /** IVF search: probe the `nProbe` nearest cells per query, exact top-k
    * within them. Output: (query_id, neighbor_id, rank, dist).
    */
  def ivfSearch(queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"))

    // per-query probe list: nProbe nearest centroids via a map-side kernel
    // over the broadcast centroid array — zero shuffle (the declarative
    // crossJoin+groupBy form exchanges nList exploded rows per query, query
    // vector included; same anti-pattern the index side had)
    val cents = collectCentroids(centroids, idCol, vecCol, "ivfSearch")
    require(nProbe > 0 && k > 0, s"ivfSearch: nProbe ($nProbe) and k ($k) must be positive")
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    val probes = q.select(col("query_id"), col("q_vec").cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        nearestCells(qv, bc.value, nProbe, metricId).map(cell => (qid, qv, cell))
      }
      .toDF("query_id", "q_vec", "cell")

    // probe join is cell-equi — partition pruning territory at scale
    Knn.topK(probes.join(index, "cell"),
      VectorFunctions.distance(col("q_vec"), col("vec"), metric), col("id"), k, excludeSelf)
  }

  /** Recall@k vs nProbe — the index-quality eval card ANN benchmarking
    * exists for: one row `(n_probe, recall)` per probed width, recall =
    * mean over queries of |IVF top-k ∩ exact top-k| / k (round-6).
    * `centroids` takes ANY `(vec_id, embedding)`-shaped quantizer —
    * [[trainCentroids]], a deterministic subset, or `Clustering.lloyd`
    * output via [[lloydCentroids]] (the trained path).
    *
    * Scale shape: the index is assigned ONCE (zero-shuffle argmin kernel)
    * and reused by every probe width; exact ground truth is ONE Knn pass;
    * each curve point is an ivfSearch (cell-equi probe join + bounded
    * heaps) plus a semi-join against the truth — the whole card costs
    * |nProbes| probe joins, not |nProbes| index builds.
    */
  def recallCurve(queries: DataFrame, base: DataFrame, centroids: DataFrame,
      k: Int, nProbes: Seq[Int], metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(nProbes.nonEmpty, "recallCurve needs at least one nProbe")
    val spark = queries.sparkSession
    import spark.implicits._
    // assigned once, probed |nProbes| times
    val index = Materialize.view(ivfIndex(base, centroids, metric, idCol, vecCol))
    val truth = Materialize.view(Knn.knn(queries, base, k, metric, idCol, vecCol,
        excludeSelf = excludeSelf)
      .select(col("query_id"), col("neighbor_id")))
    val nQ = truth.select("query_id").distinct().count()
    val curves = nProbes.map { np =>
      val pred = ivfSearch(queries, index, centroids, k, np, metric,
        idCol, vecCol, excludeSelf)
      val hits = pred.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(coalesce(sum(lit(1L)), lit(0L)).as("hits"))
        .select(lit(np.toLong).as("n_probe"),
          round(col("hits").cast("double") / (nQ * k), 6).as("recall"))
      hits
    }
    curves.reduce(_ unionAll _)
  }

  /** Adapt `Clustering.lloyd` output `(cell, centroid, n_points)` to the
    * `(vec_id, embedding)` quantizer shape every Ann entry point takes.
    */
  def lloydCentroids(lloyd: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    lloyd.select(col("cell").as(idCol), col("centroid").as(vecCol))

  /** Persist an IVF index partitioned BY CELL: a probe that touches
    * nProbe/nList cells reads exactly that fraction of the data via
    * partition pruning — the posture that makes IVF pay at 100TB.
    */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)

  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Self-contained index BUNDLE: the cell-partitioned rows under
    * `path/cells` plus the frozen quantizer under `path/quantizer` — the
    * property real ANN index formats have and a bare parquet dir lacks: a
    * consumer needs NOTHING but the path to serve queries (the quantizer
    * is part of the index's identity anyway — append/delete maintenance
    * and every probe must use exactly the build-time centroids).
    */
  def writeIndexBundle(index: DataFrame, centroids: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    writeIndex(index, s"$path/cells")
    centroids.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/quantizer")
  }

  def readQuantizer(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/quantizer")

  /** Serve a [[writeIndexBundle]] directory: quantizer read from the
    * bundle, probed-cell static pruning on the cells table
    * ([[ivfSearchPersisted]]'s guarantee), tombstones
    * ([[deleteFromBundle]]) hidden by one anti-join. One argument to
    * search.
    */
  def searchBundle(queries: DataFrame, path: String, k: Int, nProbe: Int,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = false): DataFrame = {
    recoverBundle(path)
    val spark = queries.sparkSession
    val quant = readQuantizer(spark, path)
    val cells = probedCells(queries, quant, nProbe, metric, idCol, vecCol)
    val live = liveRows(spark, path,
      readIndex(spark, s"$path/cells").filter(col("cell").isin(cells: _*)))
    ivfSearch(queries, live, quant, k, nProbe, metric, idCol, vecCol,
      excludeSelf)
  }

  /** FILTERED serving from a persisted bundle — the full hybrid serving
    * story in one call: quantizer from the bundle, probed-cell STATIC
    * pruning on the cells scan, tombstones hidden, and each query's wire
    * predicate eliminating candidates before the distance kernel
    * ([[ivfSearchFiltered]]'s pre-filter semantics over the metadata
    * columns [[ivfIndexWithMeta]] persisted into the bundle).
    *
    * `guaranteed = true` routes through [[ivfSearchFilteredGuaranteed]] —
    * its escalation pass probes EVERY cell, so the cells scan is then
    * deliberately unpruned (static pruning would silently empty the
    * exhaustive pass; completeness beats the scan saving for the starved
    * tail).
    */
  def searchBundleFiltered(queries: DataFrame, path: String, k: Int,
      nProbe: Int, metadataCols: Seq[String], metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", excludeSelf: Boolean = false,
      guaranteed: Boolean = false): DataFrame = {
    recoverBundle(path)
    val spark = queries.sparkSession
    val quant = readQuantizer(spark, path)
    if (guaranteed) {
      val live = liveRows(spark, path, readIndex(spark, s"$path/cells"))
      ivfSearchFilteredGuaranteed(queries, live, quant, k, nProbe, metric,
        idCol, vecCol, predicateCol, metadataCols, excludeSelf)
    } else {
      val cells = probedCells(queries, quant, nProbe, metric, idCol, vecCol)
      val live = liveRows(spark, path,
        readIndex(spark, s"$path/cells").filter(col("cell").isin(cells: _*)))
      ivfSearchFiltered(queries, live, quant, k, nProbe, metric, idCol,
        vecCol, predicateCol, metadataCols, excludeSelf)
    }
  }

  /** Tombstone ids in a persisted bundle (one parquet append under
    * `path/tombstones`): [[searchBundle]] hides them immediately;
    * [[compactBundle]] reclaims the space. The slab-delete discipline
    * applied to the index at rest.
    */
  def deleteFromBundle(removedIds: DataFrame, path: String,
      idCol: String = "vec_id"): Unit = {
    // heal any crashed compact FIRST: recovery retires the spent
    // tombstones of the interrupted compact, so a delete issued after
    // this point is never mistaken for one of them and dropped
    recoverBundle(path)
    removedIds.select(col(idCol).cast("long").as("id"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/tombstones")
  }

  private def liveRows(spark: SparkSession, path: String,
      cells: DataFrame): DataFrame = {
    val t = new java.io.File(s"$path/tombstones")
    if (t.exists()) cells.join(
      spark.read.parquet(t.toString).select(col("id").cast("long").as("id")),
      Seq("id"), "left_anti")
    else cells
  }

  /** All live rows of a bundle (cells minus tombstones) — the relation
    * maintenance reads back (e.g. to seed a retrain or verify occupancy).
    */
  def readBundleLive(spark: SparkSession, path: String): DataFrame = {
    recoverBundle(path)
    liveRows(spark, path, readIndex(spark, s"$path/cells"))
  }

  /** Heal the crash windows [[compactBundle]] leaves. Cells renamed aside
    * but the new generation not yet renamed in → rename the newest
    * complete tmp generation live (numeric stamp order) and retire the
    * spent tombstones. New generation live with the aside still present →
    * drop the aside and the spent tombstones. Idempotent, called by every
    * read entry point and by [[deleteFromBundle]].
    */
  private[operators] def recoverBundle(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    val cells = new java.io.File(s"$path/cells")
    if (cells.exists()) {
      // an aside dir beside a live cells dir means a compact crashed AFTER
      // its new generation went live: the old generation is garbage and
      // the tombstones are spent (already excluded from the live rows) —
      // drop both now rather than hiding a re-appended id until the next
      // compact happens to run
      val asides = Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith(".cells-old-"))
      if (asides.nonEmpty) {
        asides.foreach(rm)
        rm(new java.io.File(s"$path/tombstones"))
      }
    }
    if (!cells.exists()) {
      val root = new java.io.File(path)
      // only COMPLETE generations qualify (a crash mid-write leaves no
      // _SUCCESS); the nanoTime stamp has no width guarantee, so compare
      // it NUMERICALLY — lexicographic name order can disagree with age
      // when stamp digit counts differ, reviving a stale generation
      val tmps = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(".cells-compact-") &&
          new java.io.File(f, "_SUCCESS").exists())
      if (tmps.nonEmpty) {
        val newest =
          tmps.maxBy(_.getName.stripPrefix(".cells-compact-").toLong)
        require(newest.renameTo(cells),
          s"bundle recover: cannot rename $newest to $cells")
        // the recovered generation is post-compact (tombstones already
        // excluded from its rows), so the tombstones file is spent: drop
        // it now, or a vector re-appended with a previously tombstoned id
        // would be silently hidden until the next compact
        rm(new java.io.File(s"$path/tombstones"))
      }
    }
  }

  /** Reclaim tombstoned rows: rewrite the live rows as a fresh cells
    * generation and swap it in with the slab compact discipline (tmp
    * written → live renamed aside → tmp renamed in → tombstones dropped →
    * aside deleted), so a crash at any step leaves a complete old or
    * new generation ([[recoverBundle]] heals the in-between windows and
    * retires spent tombstones while the aside marker is present).
    */
  def compactBundle(spark: SparkSession, path: String): Unit =
    compactBundleWithFailpoint(spark, path, Int.MaxValue)

  private[graft] def compactBundleWithFailpoint(spark: SparkSession,
      path: String, failAfter: Int): Unit = {
    recoverBundle(path)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete()
    }
    // GC orphans of earlier crashed compacts (never referenced once live)
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(".cells-compact-") ||
        f.getName.startsWith(".cells-old-"))
      .foreach(rmTree)
    def crash(step: Int): Unit =
      if (failAfter == step) throw new RuntimeException(s"injected crash after step $step")
    val stamp = System.nanoTime()
    val tmp = s"$path/.cells-compact-$stamp"
    liveRows(spark, path, readIndex(spark, s"$path/cells"))
      .write.partitionBy("cell").parquet(tmp)
    crash(1)
    val live = new java.io.File(s"$path/cells")
    val aside = new java.io.File(s"$path/.cells-old-$stamp")
    require(live.renameTo(aside), s"bundle compact: cannot rename $live aside")
    crash(2)
    require(new java.io.File(tmp).renameTo(live),
      s"bundle compact: cannot rename $tmp live")
    crash(3)
    // tombstones BEFORE the aside: while the aside dir exists it marks
    // the live tombstones as spent (recoverBundle retires them), so no
    // crash window leaves spent tombstones with nothing to signal it
    rmTree(new java.io.File(s"$path/tombstones"))
    crash(4)
    rmTree(aside)
  }

  /** Append a vector slice to a PERSISTED bundle in place: the slice is
    * assigned against the bundle's own quantizer and written with
    * partitioned APPEND — parquet adds files only under the slice's
    * `cell=` directories, so the write cost is O(|slice|) and untouched
    * cells' files never move (the [[ivfAppend]] maintenance contract at
    * rest). Deletes stay a read-side anti-join ([[ivfDelete]] over
    * `readIndex`) until a compaction rewrite — the slab-delete discipline.
    */
  def appendToBundle(newVecs: DataFrame, path: String,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", metaCols: Seq[String] = Nil): Unit = {
    val quant = readQuantizer(newVecs.sparkSession, path)
    ivfIndexWithMeta(newVecs, quant, metric, idCol, vecCol, metaCols)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(s"$path/cells")
  }

  /** The distinct cells a query batch will probe — one map-side pass over
    * the queries against the broadcast centroids (the index is never
    * touched), collected driver-side. Bounded by nList regardless of the
    * query count, so this is always a tiny literal set.
    */
  def probedCells(queries: DataFrame, centroids: DataFrame, nProbe: Int,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Long] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, idCol, vecCol, "probedCells")
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    queries.select(col(vecCol).cast("array<float>"))
      .as[Array[Float]]
      .flatMap { qv =>
        nearestCells(qv, bc.value, nProbe, metricId)
      }
      .distinct().collect().sorted
  }

  /** Search a PERSISTED cell-partitioned index ([[writeIndex]]) with
    * GUARANTEED static partition pruning: the probed-cell set is computed
    * first ([[probedCells]] — bounded ≤ nList) and pushed as a literal
    * `cell IN (...)` filter, so the parquet scan provably reads only the
    * probed partitions. The declarative probe JOIN alone cannot promise
    * this — runtime DPP may or may not fire across it, and at 100 TB
    * "maybe reads 16/256 of the index, maybe all of it" is not a plan.
    * IvfIndexPersistenceSpec reads the scan's numFiles metric to pin it.
    */
  def ivfSearchPersisted(queries: DataFrame, indexPath: String,
      centroids: DataFrame, k: Int, nProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    val cells = probedCells(queries, centroids, nProbe, metric, idCol, vecCol)
    val index = readIndex(queries.sparkSession, indexPath)
      .filter(col("cell").isin(cells: _*))
    ivfSearch(queries, index, centroids, k, nProbe, metric, idCol, vecCol,
      excludeSelf)
  }

  /** KMeans-trained centroids (production path; the deterministic-subset
    * quantizer is the oracle-friendly path).
    */
  def trainCentroids(spark: SparkSession, base: DataFrame, nList: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", seed: Long = 42L,
      samplePerCell: Int = 1000, sampleFraction: Double = Double.NaN): DataFrame = {
    // never fit KMeans on the full base relation: O(nList·samplePerCell)
    // rows train centroids of the same quality. When the caller knows the
    // corpus scale, pass `sampleFraction` — that path is a single
    // sample+fit with NO pre-count pass over the base. The fallback derives
    // the modulus from one narrow count of idCol and hash-samples on the id;
    // ids must be unique for that sample to be unbiased (duplicate ids are
    // kept or dropped together).
    val target = nList.toLong * samplePerCell
    val sampled =
      if (!sampleFraction.isNaN)
        base.sample(withReplacement = false, sampleFraction, seed)
      else {
        val n = base.select(col(idCol)).count()
        if (n <= target) base
        else base.filter(pmod(xxhash64(col(idCol), lit(seed)), lit(n / target)) === 0)
      }
    // KMeans reads its input twice in one task (a zip), and a DSv2 scan
    // such as the xvec source keeps one reader per task, so the second read
    // would close the first: fit over the sample materialized once
    val feat = Materialize.view(sampled.select(array_to_vector(col(vecCol)).as("features")))
    val model =
      try new KMeans().setK(nList).setSeed(seed).setMaxIter(20).fit(feat)
      finally Materialize.free(feat)
    val rows = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toArray.map(_.toFloat).toSeq)
    }
    import spark.implicits._
    rows.toSeq.toDF(idCol, vecCol)
  }

  /** Random-hyperplane LSH bucket id (sign bits of `nBits` seeded pseudo-
    * hyperplane dot products) — the bucketed candidate generator for
    * cosine near-dup joins at scale.
    */
  def hyperplaneBucket(vec: org.apache.spark.sql.Column, dim: Int, nBits: Int,
      seed: Long = 42L): org.apache.spark.sql.Column = {
    val bits = (0 until nBits).map { b =>
      // deterministic pseudo-hyperplane: component j = hash(seed,b,j) mapped
      // to [-1,1); dot computed via aggregate over the vector
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)), (x, j) =>
          x.cast("double") *
            (pmod(xxhash64(lit(seed), lit(b), j), lit(1L << 32)).cast("double") /
              (1L << 31).toDouble - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, 1L << b).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Matryoshka truncation recall card: recall@k of exact search over the
    * FIRST `d` dimensions vs the full-dimension ground truth, one row per
    * probed prefix width — the eval an MRL-style embedding deployment
    * reads before picking how many dims to store/serve (shorter prefixes
    * = smaller index + faster scans, bought with recall).
    *
    * Scale shape: the truth is ONE exact-KNN pass; each probed width is
    * one exact-KNN pass over SLICED vectors (the slice happens in the
    * projection — the scan still reads the column once per pass) plus a
    * semi-join against the broadcast-size truth. Same card discipline as
    * [[recallCurve]].
    */
  def matryoshkaRecall(queries: DataFrame, base: DataFrame, dims: Seq[Int],
      k: Int, metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = false): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), s"dims must be positive, got $dims")
    val truth = Knn.knn(queries, base, k, metric, idCol, vecCol,
      excludeSelf = excludeSelf)
    dims.map { d =>
      val qd = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val bd = base.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val pred = Knn.knn(qd, bd, k, metric, idCol, vecCol,
        excludeSelf = excludeSelf)
      Knn.avgRecall(pred, truth, k)
        .select(lit(d.toLong).as("dim"), col("avg_recall"))
    }.reduce(_ unionAll _)
  }

  // ── Index maintenance ─────────────────────────────────────────────────
  //
  // A 100 TB corpus is never reindexed per release: vectors arrive and
  // vectors are tombstoned, and the IVF index must absorb both WITHOUT a
  // rebuild. Cell assignment is a per-vector function of the FROZEN
  // quantizer, so append and delete commute with a from-scratch build over
  // the same centroids — the parity invariant q235 pins. What maintenance
  // can NOT heal is quantizer staleness: appended vectors drawn from a
  // drifted distribution crowd into few stale cells (occupancy skew) and
  // recall at fixed nProbe decays — [[ivfStalenessCard]] is the artifact
  // that tells an operator when to pay for retraining.

  /** Append a slice of new vectors to a maintained index: the slice is
    * assigned against the SAME frozen centroids and unioned on. Cost is
    * O(|slice|) — the existing index rows never move or recompute.
    */
  def ivfAppend(index: DataFrame, newVecs: DataFrame, centroids: DataFrame,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", metaCols: Seq[String] = Nil): DataFrame =
    index.unionByName(
      ivfIndexWithMeta(newVecs, centroids, metric, idCol, vecCol, metaCols))

  /** Drop tombstoned ids from a maintained index (one anti-join; at rest
    * this is the slab-delete discipline applied to the index relation).
    */
  def ivfDelete(index: DataFrame, removedIds: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    index.join(removedIds.select(col(idCol).cast("long").as("id")),
      Seq("id"), "left_anti")

  /** Per-cell occupancy of an index: (cell, n) plus each cell's share of
    * the corpus — the skew diagnostic the staleness card reads. One
    * map-side-combined groupBy over (cell) longs.
    */
  def cellOccupancy(index: DataFrame): DataFrame =
    index.groupBy("cell").agg(count(lit(1)).as("n"))

  /** Quantizer-staleness card: for each labelled centroid set (e.g. "stale"
    * = trained before a drifted append, "retrained" = trained on the
    * current corpus), measure over the CURRENT corpus
    *   recall@k at `nProbe` (vs exact truth, micro over queries) and
    *   max_cell_frac — the occupancy share of the fullest cell (drifted
    *   appends crowd into few stale cells, so this rises with staleness
    *   and with it the per-probe candidate cost).
    * One row per config: (config, n_probe, recall, max_cell_frac). The
    * operator an ingest pipeline runs per release to decide when the
    * centroids have aged out.
    *
    * Scale shape: per config ONE zero-shuffle assignment pass + one probe
    * join + one (cell) count rollup; the exact truth is computed once and
    * shared across configs.
    */
  def ivfStalenessCard(queries: DataFrame, base: DataFrame,
      configs: Seq[(String, DataFrame)], k: Int, nProbe: Int,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = false): DataFrame = {
    require(configs.nonEmpty, "ivfStalenessCard needs at least one centroid config")
    val truth = Materialize.view(Knn.knn(queries, base, k, metric, idCol, vecCol,
        excludeSelf = excludeSelf)
      .select(col("query_id"), col("neighbor_id")))
    val nQ = truth.select("query_id").distinct().count()
    val total = base.count().toDouble
    configs.map { case (name, cents) =>
      val index = Materialize.view(ivfIndex(base, cents, metric, idCol, vecCol))
      val pred = ivfSearch(queries, index, cents, k, nProbe, metric,
        idCol, vecCol, excludeSelf)
      val hits = pred.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(coalesce(sum(lit(1L)), lit(0L)).as("hits"))
      val skew = cellOccupancy(index)
        .agg(max(col("n")).cast("double").as("max_n"))
      hits.crossJoin(broadcast(skew))
        .select(lit(name).as("config"), lit(nProbe.toLong).as("n_probe"),
          round(col("hits").cast("double") / (nQ * k), 6).as("recall"),
          round(col("max_n") / total, 6).as("max_cell_frac"))
    }.reduce(_ unionAll _)
  }

  /** Per-(cell, metadata-value) occupancy of an index — the statistics
    * relation [[ivfSearchFilteredAdaptive]] plans probe widths from. Size
    * is nList × |distinct metaCol| (a broadcast-scale aggregate for the
    * categorical columns selective predicates filter on); build it once
    * per index generation, maintain it with the same append/delete deltas.
    */
  def cellSelectivityStats(index: DataFrame, metaCol: String): DataFrame =
    index.groupBy(col("cell"), col(metaCol)).agg(count(lit(1)).as("n"))

  /** Probe list carrying each cell's rank in the query's distance order
    * (rank 1 = nearest centroid) — the planning substrate: a width chosen
    * per query keeps exactly its `cell_rank <= width` prefix.
    */
  private def rankedProbes(queries: DataFrame, cents: Array[(Long, Array[Float])],
      maxProbe: Int, metric: String, idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val metricId = graft.functions.DistanceKernels.metricId(metric)
    queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col(HybridGroundTruth.PredicateIndex))
      .as[(Long, Array[Float], Int)]
      .flatMap { case (qid, qv, pred) =>
        nearestCells(qv, bc.value, maxProbe, metricId).zipWithIndex.map { case (cell, r) =>
          (qid, qv, pred, cell, r + 1)
        }
      }
      .toDF("query_id", "q_vec", "pred", "cell", "cell_rank")
  }

  /** PREDICATE-AWARE probe planning: for each query, the number of cells
    * to probe so the EXPECTED eligible-candidate count reaches
    * `ceil(safety · k)` — walked over the query's own nearest-cell order
    * with per-cell eligible counts from [[cellSelectivityStats]] (the
    * query's predicate evaluated against each cell's distinct `metaCol`
    * values, its tree taken from [[HybridGroundTruth.perQuery]] like every
    * hybrid path's). Queries whose cumulative eligible mass never reaches
    * the target plan `maxProbe` (the starved tail guaranteed-k heals
    * exactly).
    *
    * Output: (query_id, n_probe, est_eligible). This is the upfront
    * alternative to [[ivfSearchFilteredGuaranteed]]'s react-after-starving
    * escalation: selective queries widen BEFORE the candidate join, so the
    * common case needs one pass. Cost: one ranked probe list (map-side),
    * one join against the broadcast-scale stats relation, one windowed
    * cumsum over ≤ maxProbe rows per query.
    */
  def adaptiveProbeWidths(queries: DataFrame, centroids: DataFrame,
      stats: DataFrame, metaCol: String, k: Int, safety: Double,
      minProbe: Int, maxProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate"): DataFrame = {
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, Seq(metaCol))
    probeWidths(qs, preds, collectCentroids(centroids, idCol, vecCol, "adaptiveProbeWidths"),
      stats, metaCol, k, safety, minProbe, maxProbe, metric, idCol, vecCol)
  }

  /** [[adaptiveProbeWidths]] over a query side that went through
    * [[HybridGroundTruth.perQuery]].
    */
  private def probeWidths(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      cents: Array[(Long, Array[Float])], stats: DataFrame, metaCol: String, k: Int,
      safety: Double, minProbe: Int, maxProbe: Int, metric: String, idCol: String,
      vecCol: String): DataFrame = {
    require(minProbe > 0 && maxProbe >= minProbe && k > 0,
      s"bad widths: minProbe=$minProbe maxProbe=$maxProbe k=$k")
    require(safety > 0, s"safety must be positive, got $safety")
    val probes = rankedProbes(qs, cents, maxProbe, metric, idCol, vecCol)
    val target = math.ceil(safety * k).toLong
    // eligible mass per (query, probed cell): every distinct metaCol value
    // in the cell contributes its count iff the query's predicate matches
    // it; zero-eligible cells stay in the walk (their rank must not vanish
    // from the cumsum — a query whose every probed cell is ineligible
    // still plans maxProbe)
    val perCell = probes
      .join(broadcast(stats), Seq("cell"), "left")
      .withColumn("elig_n",
        when(col("n").isNotNull &&
          preds.filter(col("pred"), struct(col(metaCol).as(metaCol))), col("n"))
          .otherwise(lit(0L)))
      .groupBy("query_id", "cell", "cell_rank")
      .agg(sum("elig_n").as("elig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("cell_rank") // ≤ maxProbe rows/query
    perCell
      .withColumn("cum", sum("elig").over(w))
      .groupBy("query_id")
      .agg(
        coalesce(min(when(col("cum") >= target, col("cell_rank"))),
          lit(maxProbe.toLong)).as("reach"),
        max(col("cum")).as("total_est"))
      .select(col("query_id"),
        greatest(col("reach"), lit(minProbe.toLong)).as("n_probe"),
        col("total_est").as("est_eligible"))
  }

  /** Safety-calibration card — the instrument q246's honest finding asks
    * for: the expected-candidate target `ceil(safety·k)` is a lower-bound
    * proxy, so recall at a given safety is an EMPIRICAL question. For each
    * (tier, safety) the card reports the mean planned width and achieved
    * recall vs the filtered exact truth; `chosen` marks, per tier, the
    * SMALLEST safety whose recall reaches `targetRecall` (no row marked if
    * none does — escalate via the guaranteed-k path instead). Run once per
    * index generation; serve with the chosen factors.
    *
    * Scale shape: ONE truth pass shared across the grid; each grid cell
    * is one width plan + one filtered probe join.
    */
  def safetyCalibrationCard(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, stats: DataFrame, metaCol: String, k: Int,
      safeties: Seq[Double], minProbe: Int, maxProbe: Int, tierCol: String,
      targetRecall: Double, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    require(safeties.nonEmpty, "safetyCalibrationCard needs at least one safety")
    // the index feeds the truth pass plus one leg per grid safety —
    // materialize it once (no-op if already a leaf; see
    // Materialize.view): previously every grid cell re-ran the full
    // upstream index assignment. stats/queries stay lazy (broadcast-scale).
    val idx = Materialize.view(index)
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    preds.requireFields(Seq(metaCol))
    val cents = collectCentroids(centroids, idCol, vecCol, "safetyCalibrationCard")
    val truth = Materialize.view(HybridGroundTruth.knnWithPerQueryPredicates(
        queries, idx.select((Seq(col("id").as(idCol),
          col("vec").as(vecCol)) ++ metadataCols.map(col)): _*),
        k, metric, idCol, vecCol, predicateCol, metadataCols, excludeSelf)
      .select(col("query_id"), col("neighbor_id")))
    val truthN = truth.groupBy("query_id").agg(count(lit(1)).as("truth_n"))
    val tiers = queries.select(col(idCol).cast("long").as("query_id"),
      col(tierCol).as("tier"))
    val grid = safeties.map { s =>
      val widths = probeWidths(qs, preds, cents, stats, metaCol, k, s, minProbe, maxProbe,
        metric, idCol, vecCol)
      val pred = searchFilteredAdaptive(qs, preds, idx, centroids, stats, metaCol, k, s,
        minProbe, maxProbe, metric, idCol, vecCol, metadataCols, excludeSelf)
      val hits = pred.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      // tiers (one row per query) is shared by every grid cell: broadcast
      // it, so each cell reuses its exchange
      broadcast(tiers).join(widths.select("query_id", "n_probe"), Seq("query_id"))
        .join(truthN, Seq("query_id"))
        .join(hits, Seq("query_id"), "left")
        .groupBy("tier")
        .agg(round(avg("n_probe"), 4).as("avg_n_probe"),
          round(sum(coalesce(col("h"), lit(0L))).cast("double") /
            sum("truth_n"), 6).as("recall"))
        .select(col("tier"), lit(s).as("safety"), col("avg_n_probe"),
          col("recall"))
    }.reduce(_ unionAll _)
    val chosen = grid.filter(col("recall") >= targetRecall)
      .groupBy("tier").agg(min("safety").as("chosen_safety"))
    grid.join(chosen, Seq("tier"), "left")
      .select(col("tier"), col("safety"), col("avg_n_probe"), col("recall"),
        coalesce(col("safety") === col("chosen_safety"), lit(false))
          .as("chosen"))
  }

  /** Filtered IVF search with PER-QUERY probe widths from
    * [[adaptiveProbeWidths]]: each query keeps the `cell_rank <= n_probe`
    * prefix of its ranked probe list, then the standard pre-filter
    * candidate join + bounded heap. One pass for every query — selective
    * queries simply probe wider upfront.
    */
  def ivfSearchFilteredAdaptive(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, stats: DataFrame, metaCol: String, k: Int,
      safety: Double, minProbe: Int, maxProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    preds.requireFields(Seq(metaCol))
    searchFilteredAdaptive(qs, preds, index, centroids, stats, metaCol, k, safety,
      minProbe, maxProbe, metric, idCol, vecCol, metadataCols, excludeSelf)
  }

  /** [[ivfSearchFilteredAdaptive]] over a query side that went through
    * [[HybridGroundTruth.perQuery]].
    */
  private def searchFilteredAdaptive(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      index: DataFrame, centroids: DataFrame, stats: DataFrame, metaCol: String, k: Int,
      safety: Double, minProbe: Int, maxProbe: Int, metric: String, idCol: String,
      vecCol: String, metadataCols: Seq[String], excludeSelf: Boolean): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol, "ivfSearchFilteredAdaptive")
    val widths = probeWidths(qs, preds, cents, stats, metaCol, k, safety, minProbe, maxProbe,
      metric, idCol, vecCol)
    val probes = rankedProbes(qs, cents, maxProbe, metric, idCol, vecCol)
      .join(widths.select("query_id", "n_probe"), Seq("query_id"))
      .filter(col("cell_rank") <= col("n_probe"))
    filteredTopK(probes, preds, index, k, metric, metadataCols, excludeSelf)
  }

  /** GUARANTEED-k filtered search: [[ivfSearchFiltered]]'s pre-filter
    * semantics with the under-k failure mode healed. Under a selective
    * predicate the nProbe cells may hold fewer than k eligible candidates
    * — the approximate pass then silently returns short lists. Here any
    * query whose pass-1 list is short ESCALATES to an exhaustive probe
    * (nProbe = nList — an exact filtered scan of the index, never a rejoin
    * to the base), so every query returns exactly min(k, |eligible|) rows.
    * Output adds `escalated`; escalated rows equal the exact hybrid truth
    * by construction.
    *
    * This is the count-based escalation policy production filtered-ANN
    * serving uses: the common unfiltered/mildly-filtered mass stays on the
    * cheap path and only the starved tail (bounded by the card q229
    * measures) pays the full scan. Pass-2 runs over ONLY the starved
    * queries — one extra probe join sized by the tail, not the load.
    */
  def ivfSearchFilteredGuaranteed(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val nList = centroids.count().toInt
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    // consumed by the starvation count AND the union
    val approx = Materialize.view(searchFiltered(qs, preds, index, centroids, k, nProbe,
      metric, idCol, vecCol, metadataCols, excludeSelf))
    // a query is starved if its list is short — including EMPTY (absent
    // from approx entirely), hence the left join from the query relation
    val starvedIds = Materialize.view(queries.select(col(idCol).cast("long").as("query_id"))
      .join(approx.groupBy("query_id").agg(count(lit(1)).as("n_got")),
        Seq("query_id"), "left")
      .filter(coalesce(col("n_got"), lit(0L)) < k)
      .select("query_id"))
    val starved = qs.join(
      starvedIds.withColumnRenamed("query_id", idCol), Seq(idCol), "left_semi")
    val exact = searchFiltered(starved, preds, index, centroids, k, nList,
      metric, idCol, vecCol, metadataCols, excludeSelf)
    approx.join(starvedIds, Seq("query_id"), "left_anti")
      .withColumn("escalated", lit(false))
      .unionByName(exact.withColumn("escalated", lit(true)))
  }

  /** Per-query ROUTE choice for filtered serving — the dispatcher the
    * q247 calibration sweep showed is needed: no single probe policy wins
    * across predicate selectivities. The estimate is the query's GLOBAL
    * eligible mass (its predicate evaluated over the per-value rollup of
    * [[cellSelectivityStats]] — one broadcast join, no index touch):
    *
    *   - `exact`   (est ≤ exactMax): the eligible set is so small an
    *     exhaustive FILTERED scan of the index is cheaper than any probe
    *     plan — and recall is 1.0 by construction. This is the regime
    *     where IVF probing is pure overhead (q229's 1%-tier starvation).
    *   - `wide`    (est ≥ wideFraction·N): eligible mass is dense in
    *     every cell, so width planning saturates (q247's 50%-tier finding)
    *     — a fixed base nProbe behaves like unfiltered search.
    *   - `planned` (between): stats-planned adaptive widths earn their
    *     keep — selective enough that fixed nProbe starves, broad enough
    *     that exhaustive scan wastes.
    *
    * Output: (query_id, est_eligible, route). Stats size is
    * |distinct metaCol| after the rollup — the categorical-column
    * broadcast-scale contract [[cellSelectivityStats]] documents.
    */
  def routePlan(queries: DataFrame, stats: DataFrame, metaCol: String,
      exactMax: Long, wideFraction: Double, idCol: String = "vec_id",
      predicateCol: String = "predicate"): DataFrame = {
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, Seq(metaCol))
    routesAndRollup(qs, preds, stats, metaCol, exactMax, wideFraction, idCol)._1
  }

  /** [[routePlan]] computed once, for a caller that reads only the
    * routes: the per-value rollup they were planned from is freed.
    */
  private def materializedRoutes(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      stats: DataFrame, metaCol: String, exactMax: Long, wideFraction: Double,
      idCol: String): DataFrame = {
    val (routes, rollup) = routesAndRollup(qs, preds, stats, metaCol, exactMax,
      wideFraction, idCol)
    try Materialize.view(routes) finally Materialize.free(rollup)
  }

  /** (routes, the materialized per-value rollup they read), over a query
    * side that went through [[HybridGroundTruth.perQuery]].
    */
  private def routesAndRollup(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      stats: DataFrame, metaCol: String, exactMax: Long, wideFraction: Double,
      idCol: String): (DataFrame, DataFrame) = {
    require(exactMax >= 0, s"exactMax must be >= 0, got $exactMax")
    require(wideFraction > 0 && wideFraction <= 1,
      s"wideFraction must be in (0, 1], got $wideFraction")
    // tiny: one row per distinct metadata value
    val globalStats = Materialize.view(stats.groupBy(col(metaCol)).agg(sum("n").as("n")))
    val totalN = globalStats.agg(sum("n").as("total"))
    (qs
      .select(col(idCol).cast("long").as("query_id"), col(HybridGroundTruth.PredicateIndex))
      .crossJoin(broadcast(globalStats))
      .withColumn("elig_n",
        when(preds.filter(col(HybridGroundTruth.PredicateIndex),
          struct(col(metaCol).as(metaCol))), col("n")).otherwise(lit(0L)))
      .groupBy("query_id").agg(sum("elig_n").as("est_eligible"))
      .crossJoin(broadcast(totalN))
      .select(col("query_id"), col("est_eligible"),
        when(col("est_eligible") <= exactMax, lit("exact"))
          .when(col("est_eligible") >=
            col("total").cast("double") * wideFraction, lit("wide"))
          .otherwise(lit("planned")).as("route")), globalStats)
  }

  /** ROUTED filtered search: [[routePlan]] splits the query load, each
    * slice runs the policy that wins in its selectivity regime, and the
    * union carries the route taken. `exact` queries run the exhaustive
    * filtered scan (nProbe = nList — the cost is their tiny eligible set,
    * not the corpus); `planned` queries run the stats-planned adaptive
    * search; `wide` queries run fixed-`nProbeWide` pre-filter search.
    * Same predicate trees, candidate join and bounded heap on every
    * path — only the probe-set policy differs.
    *
    * Scale shape: three searches each sized by its slice (empty slices
    * plan to empty scans), one broadcast-stats route pass upfront. The
    * route column makes serving cost attributable per policy — the
    * report card [[routerReportCard]] reads it.
    */
  def hybridSearchRouted(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, stats: DataFrame, metaCol: String, k: Int,
      exactMax: Long, wideFraction: Double, nProbeWide: Int, safety: Double,
      minProbe: Int, maxProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    // the index feeds all three route searches — materialize it once
    // (no-op when the caller already did; Catalyst does not dedupe common
    // subplans across join/union legs, so an unmaterialized index is
    // re-assigned once per route — the q249 plan carried 16 parquet scans
    // / 56 exchanges before this). stats/queries are broadcast-scale
    // relations; re-deriving them per leg is cheaper than a checkpoint
    // job each (measured on the q246-q249 cards).
    val idx = Materialize.view(index)
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    preds.requireFields(Seq(metaCol))
    val routes = materializedRoutes(qs, preds, stats, metaCol, exactMax, wideFraction, idCol)
    routedSearch(qs, preds, routes, idx, centroids, stats, metaCol, k, nProbeWide, safety,
      minProbe, maxProbe, metric, idCol, vecCol, metadataCols, excludeSelf)
  }

  /** [[hybridSearchRouted]]'s three searches over a query side that went
    * through [[HybridGroundTruth.perQuery]], sliced by its `routes`.
    */
  private def routedSearch(qs: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      routes: DataFrame, idx: DataFrame, centroids: DataFrame, stats: DataFrame,
      metaCol: String, k: Int, nProbeWide: Int, safety: Double, minProbe: Int,
      maxProbe: Int, metric: String, idCol: String, vecCol: String,
      metadataCols: Seq[String], excludeSelf: Boolean): DataFrame = {
    val nList = centroids.count().toInt
    def slice(route: String): DataFrame = qs.join(
      routes.filter(col("route") === route)
        .select(col("query_id").as(idCol)), Seq(idCol), "left_semi")
    val exact = searchFiltered(slice("exact"), preds, idx, centroids, k, nList,
      metric, idCol, vecCol, metadataCols, excludeSelf)
      .withColumn("route", lit("exact"))
    val planned = searchFilteredAdaptive(slice("planned"), preds, idx,
      centroids, stats, metaCol, k, safety, minProbe, maxProbe, metric,
      idCol, vecCol, metadataCols, excludeSelf)
      .withColumn("route", lit("planned"))
    val wide = searchFiltered(slice("wide"), preds, idx, centroids, k,
      nProbeWide, metric, idCol, vecCol, metadataCols, excludeSelf)
      .withColumn("route", lit("wide"))
    exact.unionByName(planned).unionByName(wide)
  }

  /** Router report card: per route — query count, mean estimated eligible
    * mass, and recall vs the filtered exact truth. The `exact` row must
    * read 1.0 (structural — its scan IS the truth); the `planned` and
    * `wide` rows are the empirical halves the q246/q247 cards measured
    * tier-by-tier, now attributed to the dispatcher's actual slices. One
    * truth pass, one routed search.
    */
  def routerReportCard(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, stats: DataFrame, metaCol: String, k: Int,
      exactMax: Long, wideFraction: Double, nProbeWide: Int, safety: Double,
      minProbe: Int, maxProbe: Int, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    // materialize the INDEX once for the legs below (routed search ×3
    // routes, truth pass). stats/queries stay lazy (broadcast-scale; a
    // checkpoint job each costs more than re-derivation).
    val idx = Materialize.view(index)
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    preds.requireFields(Seq(metaCol))
    val routes = materializedRoutes(qs, preds, stats, metaCol, exactMax, wideFraction, idCol)
    val pred = routedSearch(qs, preds, routes, idx, centroids, stats, metaCol, k, nProbeWide,
      safety, minProbe, maxProbe, metric, idCol, vecCol, metadataCols, excludeSelf)
    val truth = Materialize.view(HybridGroundTruth.knnWithPerQueryPredicates(
        queries, idx.select((Seq(col("id").as(idCol),
          col("vec").as(vecCol)) ++ metadataCols.map(col)): _*),
        k, metric, idCol, vecCol, predicateCol, metadataCols, excludeSelf)
      .select(col("query_id"), col("neighbor_id")))
    val truthN = truth.groupBy("query_id").agg(count(lit(1)).as("truth_n"))
    val hits = pred.select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    routes.join(truthN, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .groupBy("route")
      .agg(count(lit(1)).as("n_queries"),
        round(avg("est_eligible"), 4).as("avg_est_eligible"),
        round(sum(coalesce(col("h"), lit(0L))).cast("double") /
          sum("truth_n"), 6).as("recall"))
  }
}
