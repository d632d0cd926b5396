package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.functions.DistanceKernels

/** Graph-based ANN: per-cell navigable small-world graphs with beam
  * search — the production serving-index family (Malkov & Yashunin 2016
  * HNSW / Malkov et al. 2014 NSW — public literature) the repo's
  * otherwise-complete index suite (IVF/PQ/OPQ/RVQ/SQ/binary) lacked.
  * The reference engine's search surface stops at exact KNN ground truth
  * (`Knn.scala`, /root/reference datatools-vectordata KNN semantics);
  * this is a pipeline extension.
  *
  * Distributed v1 shape — a MONOLITHIC navigable graph does not shard
  * (every hop may cross the cluster), so the scale formulation composes
  * the two structures that DO:
  *  - the existing k-means coarse quantizer routes a query to nProbe
  *    cells (the IVF discipline — map-side argmin over broadcast
  *    centroids, zero shuffle);
  *  - each cell carries its own single-layer navigable small-world graph
  *    built independently inside one task (`flatMapGroups` per cell —
  *    memory bound = cell size, the same bound the cell-partitioned IVF
  *    layout already imposes); beam search replaces the cell's exhaustive
  *    scan, visiting ~ef·M points instead of |cell|.
  * Exchanges carry the same payloads as `Ann.ivfSearch`'s probe join
  * (cell-keyed index rows + query vectors); the saving is the per-cell
  * CPU: HnswSpec measures < 10% of the exhaustive distance evaluations
  * at recall@10 ≥ 0.9 on the clustered fixture.
  *
  * Build (classic NSW insertion, deterministic): points insert in
  * ascending-id order; each new point beam-searches the graph built so
  * far (efConstruction) and links bidirectionally to its M nearest;
  * degrees are pruned to 2M keeping the closest (ties → lower id). Every
  * step is fixed-order arithmetic, so the graph — and therefore search —
  * is deterministic for a given (cell contents, M, efConstruction).
  *
  * Oracle discipline: the SUB-saturated beam is not SQL-replayable (the
  * greedy walk depends on construction order), but the SATURATED beam
  * (ef >= |cell|) provably explores the whole connected cell graph — the
  * prune invariant below keeps every node linked toward node 0 — so its
  * top-k EQUALS the exhaustive scan over the probed cells. q304
  * hash-oracles exactly that (q305 the filtered form); HnswSpec pins the
  * sub-saturated regime (recall@10 >= 0.9 at < 10% of the exhaustive
  * distance evaluations) against brute-force truth, plus bundle
  * round-trip and append/delete == from-scratch parity.
  */
object Hnsw {

  /** In-task NSW graph over one cell's points. Arrays are indexed by
    * insertion position (ascending id).
    */
  private final class CellGraph(val ids: Array[Long], val vecs: Array[Array[Float]],
      metricId: Int, m: Int, efConstruction: Int,
      counter: Option[LongAccumulator]) {
    val n: Int = ids.length
    private val maxDeg = 2 * m
    val adj: Array[scala.collection.mutable.ArrayBuffer[Int]] =
      Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int](maxDeg + 1))

    private def dist(qv: Array[Float], i: Int): Double = {
      counter.foreach(_.add(1L))
      DistanceKernels.computeArrays(qv, vecs(i), metricId)
    }

    /** Bounded beam from `entry` over the current graph: the ef best
      * ELIGIBLE (dist, idx) pairs, ascending. Standard HNSW layer-0
      * search; ties break to the lower insertion index (== lower id).
      * `eligible` implements the hybrid pre-filter discipline: traversal
      * walks EVERY visited node (a filtered graph may be disconnected),
      * but only eligible nodes enter the result heap — so the top-k is
      * over the eligible set, never "search then discard". Early exit
      * fires only once the result heap holds ef eligible entries, which
      * keeps the saturated-beam (ef >= |cell|) == filtered-exhaustive
      * equality a theorem under any predicate.
      */
    def beam(qv: Array[Float], entry: Int, ef: Int,
        eligible: Int => Boolean = _ => true): Array[(Double, Int)] = {
      val visited = new java.util.BitSet(n)
      // candidates: nearest-first; results: farthest-first, bounded ef
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Int)](p => (-p._1, -p._2)))
      val res = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(
        Ordering.by[(Double, Int), (Double, Int)](p => (p._1, p._2)))
      val d0 = dist(qv, entry)
      visited.set(entry)
      cand.enqueue((d0, entry))
      if (eligible(entry)) res.enqueue((d0, entry))
      while (cand.nonEmpty) {
        val (cd, ci) = cand.dequeue()
        if (res.size >= ef && cd > res.head._1) {
          cand.clear() // nearest candidate can no longer improve the beam
        } else {
          val nbrs = adj(ci)
          var j = 0
          while (j < nbrs.length) {
            val nb = nbrs(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val d = dist(qv, nb)
              if (res.size < ef || Ordering.Tuple2[Double, Int].lt((d, nb), res.head)) {
                cand.enqueue((d, nb))
                if (eligible(nb)) {
                  res.enqueue((d, nb))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
            j += 1
          }
        }
      }
      res.toArray.sortBy(p => (p._1, p._2))
    }

    /** Insert all points in ascending order, wiring M nearest + prune. */
    def build(): Unit = {
      var i = 1
      while (i < n) {
        val found = beam(vecs(i), 0, efConstruction)
        val take = math.min(m, found.length)
        var t = 0
        while (t < take) {
          val nb = found(t)._2
          adj(i) += nb
          adj(nb) += i
          if (adj(nb).length > maxDeg) prune(nb)
          t += 1
        }
        if (adj(i).length > maxDeg) prune(i)
        i += 1
      }
    }

    /** Keep the maxDeg closest neighbors of node `v` (ties → lower id),
      * ALWAYS retaining at least one edge to a lower insertion index.
      * Insertion wires every node to lower-indexed nodes, so this
      * invariant survives every prune — by induction every node has an
      * undirected path to node 0, i.e. the symmetrized cell graph is
      * CONNECTED. That is what makes beam search with ef >= |cell|
      * provably equal to the exhaustive scan (q304's oracle) instead of
      * "usually equal".
      */
    private def prune(v: Int): Unit = {
      val cand = adj(v).distinct
        .map(nb => (DistanceKernels.computeArrays(vecs(v), vecs(nb), metricId), nb))
        .sortBy(p => (p._1, p._2))
      var kept = cand.take(maxDeg)
      if (!kept.exists(_._2 < v) && cand.exists(_._2 < v))
        kept = kept.dropRight(1) :+ cand.filter(_._2 < v).minBy(p => (p._1, p._2))
      adj(v).clear()
      adj(v) ++= kept.map(_._2)
    }

    /** Undirected adjacency of node `i`: own list ∪ backlinks (an edge
      * pruned on one side may survive on the other; search must be able
      * to walk it in both directions for the connectivity guarantee).
      */
    def undirected: Array[Array[Int]] = {
      val sets = Array.fill(n)(scala.collection.mutable.SortedSet.empty[Int])
      var i = 0
      while (i < n) {
        adj(i).foreach { nb => sets(i) += nb; sets(nb) += i }
        i += 1
      }
      sets.map(_.toArray)
    }
  }

  /** Build the per-cell graphs: route rows through the coarse quantizer
    * (`Ann.ivfIndex`'s zero-shuffle argmin), then one `flatMapGroups` per
    * cell constructs that cell's NSW adjacency in-task. Output:
    * (cell, id, vec, nbrs ARRAY<LONG>) — the cell-partitioned layout
    * [[writeBundle]] persists, one graph row per vector.
    */
  def hnswIndex(base: DataFrame, centroids: DataFrame, m: Int = 8,
      efConstruction: Int = 32, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"hnswIndex: m must be >= 1, got $m")
    require(efConstruction >= m,
      s"hnswIndex: efConstruction ($efConstruction) must be >= m ($m)")
    buildGraphs(Ann.ivfIndex(base, centroids, metric, idCol, vecCol),
      m, efConstruction, metric)
  }

  /** [[hnswIndex]] carrying metadata columns beside the graph rows — the
    * shape [[hnswSearchFiltered]] evaluates per-query predicates against.
    * The graph build is unchanged (metadata never enters the kernel); the
    * metadata joins back by id afterwards — one equi-join at BUILD time,
    * amortized over every filtered search. Output:
    * (id, cell, vec, nbrs, metadataCols…).
    */
  def hnswIndexWithMeta(base: DataFrame, centroids: DataFrame, m: Int = 8,
      efConstruction: Int = 32, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Nil): DataFrame = {
    val g = hnswIndex(base, centroids, m, efConstruction, metric, idCol, vecCol)
    if (metaCols.isEmpty) g
    else g.join(
      base.select((col(idCol).cast("long").as("id") +: metaCols.map(col)): _*),
      "id")
  }

  /** The shared per-cell graph constructor over an assigned
    * (id, vec, cell) frame — used by the from-scratch build and by the
    * append/delete maintenance rebuilds. Insertion order is ascending id,
    * independent of HOW the points arrived, so maintenance output is
    * bit-identical to a from-scratch build over the same point set
    * (HnswSpec pins the parity).
    */
  private def buildGraphs(assigned: DataFrame, m: Int, efConstruction: Int,
      metric: String): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val mid = DistanceKernels.metricId(metric)
    assigned
      .select(col("cell"), col("id"), col("vec"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (cell, rows) =>
        val pts = rows.toArray.sortBy(_._2)
        val g = new CellGraph(pts.map(_._2), pts.map(_._3), mid, m,
          efConstruction, None)
        g.build()
        val und = g.undirected
        (0 until g.n).iterator.map { i =>
          (cell, g.ids(i), g.vecs(i), und(i).map(g.ids(_)))
        }
      }
      .toDF("cell", "id", "vec", "nbrs")
  }

  /** Maintain a graph index under appends: the slice assigns against the
    * FROZEN quantizer (the Ann maintenance contract), and only the
    * affected cells' graphs rebuild — untouched cells pass through by
    * anti-filter on a driver-side cell list (bounded by nList). Because
    * insertion order is ascending id regardless of arrival,
    * `hnswAppend(hnswIndex(A), B) == hnswIndex(A ∪ B)` exactly.
    */
  def hnswAppend(index: DataFrame, newVecs: DataFrame, centroids: DataFrame,
      m: Int = 8, efConstruction: Int = 32, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = Ann.ivfIndex(newVecs, centroids, metric, idCol, vecCol)
    val affected = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val untouched = index.filter(!col("cell").isin(affected: _*))
    val touched = index.filter(col("cell").isin(affected: _*))
      .select(col("cell"), col("id"), col("vec"))
      .unionByName(assigned.select(col("cell"), col("id"), col("vec")))
    untouched.select("cell", "id", "vec", "nbrs")
      .unionByName(buildGraphs(touched, m, efConstruction, metric))
  }

  /** Delete ids from a graph index: affected cells rebuild WITHOUT the
    * removed points (a tombstone that merely hides results would still
    * route beams through stale vectors; rebuilding keeps the graphs clean
    * and the from-scratch parity exact). Only cells containing removed
    * ids rebuild. `removedIds` is an (id) frame.
    */
  def hnswDelete(index: DataFrame, removedIds: DataFrame,
      m: Int = 8, efConstruction: Int = 32,
      metric: String = "COSINE"): DataFrame = {
    val rm = removedIds.select(col(removedIds.columns.head).cast("long").as("id"))
    val affected = index.join(rm, "id").select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return index.select("cell", "id", "vec", "nbrs")
    val untouched = index.filter(!col("cell").isin(affected: _*))
    val survivors = index.filter(col("cell").isin(affected: _*))
      .join(rm, Seq("id"), "left_anti")
      .select(col("cell"), col("id"), col("vec"))
    untouched.select("cell", "id", "vec", "nbrs")
      .unionByName(buildGraphs(survivors, m, efConstruction, metric))
  }

  /** Beam-search the probed cells: queries route to their nProbe nearest
    * cells (broadcast quantizer, zero shuffle), each probed cell's graph
    * loads once per task and serves all queries routed there, and the
    * per-cell beam results merge through the same bounded-heap top-k
    * aggregate as `Ann.ivfSearch` — exchanges carry (query, candidate)
    * scalars, never the graph. `counter`, when supplied, counts distance
    * evaluations (the HnswSpec <10%-of-exhaustive measurement).
    * Output: (query_id, neighbor_id, rank, dist), rank 1..k by (dist, id).
    */
  def hnswSearch(queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, ef: Int = 64, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false,
      counter: Option[LongAccumulator] = None,
      excluded: Set[Long] = Set.empty): DataFrame = {
    require(k >= 1 && nProbe >= 1 && ef >= k,
      s"hnswSearch: need k >= 1, nProbe >= 1, ef >= k (k=$k nProbe=$nProbe ef=$ef)")
    val spark = queries.sparkSession
    import spark.implicits._
    val mid = DistanceKernels.metricId(metric)
    val cents = Ann.collectCentroids(centroids, idCol, vecCol, "hnswSearch")
    val bc = spark.sparkContext.broadcast(cents)
    val probes = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        Ann.nearestCells(qv, bc.value, nProbe, mid).map(cell => (cell, qid, qv))
      }
    val rows = index.select(col("cell"), col("id"),
        col("vec").cast("array<float>"), col("nbrs").cast("array<long>"))
      .as[(Long, Long, Array[Float], Array[Long])]
    // tombstoned ids stay in the WALK (removing them could disconnect the
    // graph and break the saturated == exhaustive theorem) but never enter
    // the result heap — the hybrid pre-filter discipline applied to
    // deletes-at-rest. The set is bounded by deletes since the last
    // compact (searchBundle's contract), so the broadcast is tiny.
    val exB = spark.sparkContext.broadcast(excluded)
    val cand = probes.groupByKey(_._1).cogroup(rows.groupByKey(_._1)) {
      (cell, qs, grows) =>
        val pts = grows.toArray.sortBy(_._2)
        if (pts.isEmpty) Iterator.empty
        else {
          val idToIdx = pts.iterator.map(_._2).zipWithIndex.toMap
          val g = new CellGraph(pts.map(_._2), pts.map(_._3), mid, 1, 1, counter)
          pts.iterator.zipWithIndex.foreach { case (p, i) =>
            g.adj(i) ++= p._4.iterator.flatMap(idToIdx.get(_))
          }
          val ex = exB.value
          val elig: Int => Boolean =
            if (ex.isEmpty) _ => true else i => !ex.contains(g.ids(i))
          qs.flatMap { case (_, qid, qv) =>
            g.beam(qv, 0, ef, elig).take(ef).iterator
              .map { case (d, i) => (qid, g.ids(i), d) }
          }
        }
    }.toDF("query_id", "nid", "d")
    Knn.topK(cand, col("d"), col("nid"), k, excludeSelf)
  }

  /** FILTERED graph search — the hybrid pre-filter discipline
    * (`Ann.ivfSearchFiltered`'s contract) on the beam path: each query
    * row carries its own framed PNode blob (`predicateCol`, null =
    * unfiltered) evaluated against the index metadata DURING the beam —
    * traversal walks every visited node (the eligible subgraph may be
    * disconnected), but only predicate-satisfying nodes enter the result
    * heap, so the returned top-k is over the ELIGIBLE set, never "search
    * then discard". `index` must come from [[hnswIndexWithMeta]].
    * Saturated (ef >= |cell|) the result provably equals the filtered
    * exhaustive scan over the probed cells — q305's oracle. The trees
    * come from [[HybridGroundTruth.perQuery]], checked against the index
    * columns, so a missing field fails before any job runs.
    * Output: (query_id, neighbor_id, rank, dist).
    */
  def hnswSearchFiltered(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int, ef: Int = 64,
      metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", predicateCol: String = "predicate",
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1 && ef >= k,
      s"hnswSearchFiltered: need k >= 1, nProbe >= 1, ef >= k (k=$k nProbe=$nProbe ef=$ef)")
    // a predicate may name any index column, as the beam reads index rows
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, index.columns.toSeq)
    val spark = queries.sparkSession
    import spark.implicits._
    val mid = DistanceKernels.metricId(metric)
    val cents = Ann.collectCentroids(centroids, idCol, vecCol, "hnswSearchFiltered")
    val bc = spark.sparkContext.broadcast(cents)
    val probes = qs
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col(HybridGroundTruth.PredicateIndex))
      .as[(Long, Array[Float], Int)]
      .flatMap { case (qid, qv, pred) =>
        Ann.nearestCells(qv, bc.value, nProbe, mid).map(cell => (cell, qid, qv, pred))
      }
      .toDF("cell", "query_id", "q_vec", "pred")
    val cand = probes
      .groupByKey(_.getLong(0))(org.apache.spark.sql.Encoders.scalaLong)
      .cogroup(index
        .groupByKey(_.getAs[Long]("cell"))(org.apache.spark.sql.Encoders.scalaLong)) {
        (cell, cellQueries, grows) =>
          val rows = grows.toArray.sortBy(_.getAs[Long]("id"))
          if (rows.isEmpty) Iterator.empty
          else {
            val ids = rows.map(_.getAs[Long]("id"))
            val vecs = rows.map(_.getAs[Seq[Float]]("vec").toArray)
            val idToIdx = ids.zipWithIndex.toMap
            val g = new CellGraph(ids, vecs, mid, 1, 1, None)
            rows.iterator.zipWithIndex.foreach { case (r, i) =>
              g.adj(i) ++= r.getAs[Seq[Long]]("nbrs").iterator.flatMap(idToIdx.get(_))
            }
            cellQueries.flatMap { q =>
              val qid = q.getLong(1)
              val qv = q.getAs[Seq[Float]](2).toArray
              val pred = q.getInt(3)
              // memoized per-query eligibility over the cell's rows
              val memo = new Array[Byte](rows.length)
              def eligible(i: Int): Boolean = {
                if (excludeSelf && ids(i) == qid) return false
                if (memo(i) == 0) memo(i) = if (preds.matches(pred, rows(i))) 1 else 2
                memo(i) == 1
              }
              g.beam(qv, 0, ef, eligible).iterator
                .map { case (d, i) => (qid, ids(i), d) }
            }
          }
      }.toDF("query_id", "nid", "d")
    Knn.topK(cand, col("d"), col("nid"), k)
  }

  /** Effort/recall curve — the tuning card a serving deployment reads
    * before fixing ef (the `Ann.recallCurve` discipline for the graph
    * path): one row (ef, recall, evals_frac) per swept width, recall
    * against the SATURATED beam over the same probed cells (the provable
    * exhaustive equivalent, so the curve isolates the beam's loss from
    * the router's) and the measured distance-evaluation fraction of the
    * exhaustive scan. The index is built once; each point is one search.
    */
  def efRecallCurve(queries: DataFrame, index: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, efs: Seq[Int], metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(efs.nonEmpty, "efRecallCurve needs at least one ef")
    val spark = queries.sparkSession
    import spark.implicits._
    val idx = index.cache()
    try {
      val nBase = idx.count()
      val truth = hnswSearch(queries, idx, centroids, k, nProbe,
          ef = Int.MaxValue, metric = metric, idCol = idCol, vecCol = vecCol,
          excludeSelf = excludeSelf)
        .select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val nQ = math.max(1, truth.size)
      // sweep points are independent given the cached index — submit them
      // concurrently (the Matryoshka/SCC trick; each point gets its own
      // accumulator so the eval counts stay attributed)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val futures = efs.map { ef =>
        Future {
          val counter = spark.sparkContext.longAccumulator(s"hnsw-curve-ef$ef")
          val got = hnswSearch(queries, idx, centroids, k, nProbe, ef, metric,
              idCol, vecCol, excludeSelf, counter = Some(counter))
            .select(col("query_id"), col("neighbor_id"))
            .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          val recall = truth.map { case (q, t) =>
            if (t.isEmpty) 1.0 else (got.getOrElse(q, Set.empty) & t).size.toDouble / t.size
          }.sum / nQ
          (ef, recall, counter.value.toDouble / (nQ.toDouble * nBase))
        }
      }
      futures.map(Await.result(_, Duration.Inf)).toDF("ef", "recall", "evals_frac")
    } finally idx.unpersist()
  }

  /** Persist the graph index as a self-contained bundle — the `Ann`
    * bundle layout (`cells/` partitioned BY CELL + the frozen
    * `quantizer/`), so a probe reads nProbe/nList of the data via
    * partition pruning and a consumer needs nothing but the path.
    */
  def writeBundle(index: DataFrame, centroids: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    index.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$path/cells")
    centroids.select(col(idCol).cast("long").as(idCol), col(vecCol).as(vecCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/quantizer")
  }

  /** Serve a [[writeBundle]] directory: heal any crashed compact
    * ([[Ann.recoverBundle]] — the layouts are identical), quantizer from
    * the bundle, probed-cell static pruning on the cells scan, then
    * [[hnswSearch]] with the bundle's tombstones beam-ineligible
    * (traversed for connectivity, never returned — deletes hide
    * immediately, [[compactBundle]] reclaims).
    */
  def searchBundle(queries: DataFrame, path: String, k: Int, nProbe: Int,
      ef: Int = 64, metric: String = "COSINE", idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    Ann.recoverBundle(path)
    val quant = spark.read.parquet(s"$path/quantizer")
    val cells = Ann.probedCells(queries, quant, nProbe, metric, idCol, vecCol)
    val live = spark.read.parquet(s"$path/cells").filter(col("cell").isin(cells: _*))
    val tombFile = new java.io.File(s"$path/tombstones")
    val tombs: Set[Long] =
      if (tombFile.exists())
        spark.read.parquet(tombFile.toString)
          .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
      else Set.empty
    hnswSearch(queries, live, quant, k, nProbe, ef, metric, idCol, vecCol,
      excludeSelf, excluded = tombs)
  }

  /** Tombstone ids in a persisted graph bundle — the `Ann` takedown
    * discipline at the HNSW layer: one crash-atomic parquet append under
    * `path/tombstones` (a crashed append commits nothing — the delete
    * simply has not happened and the caller retries), hidden immediately
    * by [[searchBundle]] WITHOUT touching any graph (tombstoned nodes
    * stay walkable, so cell connectivity — the saturated-beam theorem —
    * survives), reclaimed by [[compactBundle]]. This is the safe
    * takedown path; [[deleteFromBundle]] is the eager rebuild whose
    * dynamic partition overwrite can land partially under a crash.
    */
  def tombstoneFromBundle(removedIds: DataFrame, path: String,
      idCol: String = "vec_id"): Unit =
    Ann.deleteFromBundle(removedIds, path, idCol)

  /** Reclaim tombstoned rows: rebuild the AFFECTED cells' graphs without
    * the removed points, pass untouched cells through byte-identically,
    * and swap the whole generation in with the `Ann.compactBundle`
    * crash discipline (tmp written → live renamed aside → tmp renamed
    * in → tombstones dropped → aside deleted; [[Ann.recoverBundle]]
    * heals every in-between window, and a fully-emptied cell simply has
    * no directory in the new generation — no dynamic-overwrite
    * empty-partition hole).
    */
  def compactBundle(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Int = 8, efConstruction: Int = 32, metric: String = "COSINE"): Unit =
    compactBundleWithFailpoint(spark, path, Int.MaxValue, m, efConstruction, metric)

  private[graft] def compactBundleWithFailpoint(
      spark: org.apache.spark.sql.SparkSession, path: String, failAfter: Int,
      m: Int = 8, efConstruction: Int = 32, metric: String = "COSINE"): Unit = {
    Ann.recoverBundle(path)
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

    val cellsDf = spark.read.parquet(s"$path/cells")
    require(cellsDf.columns.toSet == Set("cell", "id", "vec", "nbrs"),
      "Hnsw.compactBundle supports the plain (cell, id, vec, nbrs) layout; " +
        s"got ${cellsDf.columns.mkString(", ")} — meta bundles rebuild via hnswIndexWithMeta")
    val tombFile = new java.io.File(s"$path/tombstones")
    val out = if (tombFile.exists()) {
      val rm = spark.read.parquet(tombFile.toString)
        .select(col("id").cast("long").as("id"))
      val affected = cellsDf.join(rm, "id")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      if (affected.isEmpty) cellsDf
      else {
        val survivors = cellsDf.filter(col("cell").isin(affected: _*))
          .join(rm, Seq("id"), "left_anti")
          .select(col("cell").cast("long").as("cell"), col("id"), col("vec"))
        cellsDf.filter(!col("cell").isin(affected: _*))
          .select(col("cell").cast("long").as("cell"), col("id"), col("vec"),
            col("nbrs"))
          .unionByName(buildGraphs(survivors, m, efConstruction, metric))
      }
    } else cellsDf
    val stamp = System.nanoTime()
    val tmp = s"$path/.cells-compact-$stamp"
    // reads the path it will replace — the lineage-truncating checkpoint
    // dodges the self-overwrite check; LAZY, so the tmp write itself is
    // the materializing job (every task computes off the still-live old
    // files; the renames happen only after the write returns)
    val staged = Materialize.policy(spark, eager = false)(out)
    try staged.write.partitionBy("cell").parquet(tmp) finally Materialize.free(staged)
    crash(1)
    val live = new java.io.File(s"$path/cells")
    val aside = new java.io.File(s"$path/.cells-old-$stamp")
    require(live.renameTo(aside), s"hnsw compact: cannot rename $live aside")
    crash(2)
    require(new java.io.File(tmp).renameTo(live),
      s"hnsw compact: cannot rename $tmp live")
    crash(3)
    // tombstones BEFORE the aside: while the aside exists it marks the
    // tombstones as spent (recoverBundle retires them)
    rmTree(tombFile)
    crash(4)
    rmTree(aside)
  }

  /** Append a vector slice to a PERSISTED bundle: the slice assigns
    * against the bundle's frozen quantizer, the AFFECTED cells' graphs
    * rebuild, and ONLY those `cell=` partitions rewrite (dynamic
    * partition overwrite) — untouched cells' files never move, and the
    * on-disk bundle equals a from-scratch build over the union (the
    * in-memory [[hnswAppend]] parity, at rest). The rebuilt frame is
    * materialized before the write because it reads the same path it
    * overwrites.
    */
  def appendToBundle(newVecs: DataFrame, path: String, m: Int = 8,
      efConstruction: Int = 32, metric: String = "COSINE",
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val quant = spark.read.parquet(s"$path/quantizer")
    // LAZY checkpoint: the affected-cell collect below is the job that
    // computes and persists the assignment — the write's rebuild then
    // reads the stored blocks instead of re-running the quantizer pass
    val matLazy = Materialize.policy(spark, eager = false)
    val assigned = matLazy(Ann.ivfIndex(newVecs, quant, metric, idCol, vecCol))
    try {
      val affected = assigned.select("cell").distinct()
        .collect().map(_.getLong(0)).sorted
      if (affected.nonEmpty) {
        // dropDuplicates(id) makes the append IDEMPOTENT: re-appending rows
        // already in the bundle (an at-least-once streaming replay, a
        // retried job) rebuilds the same graphs instead of corrupting them
        // with duplicate points — the property the streaming ingest
        // (StreamHnsw.appendToBundle) relies on for exactly-once EFFECT
        val touched = spark.read.parquet(s"$path/cells")
          .filter(col("cell").isin(affected: _*))
          .select(col("cell").cast("long").as("cell"), col("id"), col("vec"))
          .unionByName(assigned.select(col("cell"), col("id"), col("vec")))
          .dropDuplicates("id")
        // lazy checkpoint (was eager): the rebuilt frame reads the same
        // path it overwrites, so it must be fully computed off the OLD
        // files before any of them move — the write job's TASKS do exactly
        // that (dynamic partition overwrite only deletes/renames at job
        // COMMIT, after every task has finished computing), so the write
        // itself is the materializing job and the rebuild runs ONE pass,
        // not compute-store-reread-write
        val rebuilt = matLazy(buildGraphs(touched, m, efConstruction, metric))
        try rebuilt.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(s"$path/cells")
        finally Materialize.free(rebuilt)
      }
    } finally Materialize.free(assigned)
  }

  /** Delete ids from a PERSISTED bundle EAGERLY: affected cells rebuild
    * without the removed points and only their partitions rewrite — the
    * [[hnswDelete]] semantics at rest. A cell whose every point is
    * removed keeps one tombstone-free rewrite pass: dynamic overwrite
    * only replaces partitions present in the WRITE, so a fully-emptied
    * cell is rewritten as an empty partition via an explicit drop list.
    * NOTE: the multi-partition overwrite commit is not atomic — a crash
    * mid-commit can leave SOME affected cells rebuilt and others still
    * holding the removed ids, with nothing marking the miss. Takedowns
    * (where a half-applied delete must be impossible to mistake for a
    * complete one) go through [[tombstoneFromBundle]] +
    * [[compactBundle]], whose every crash window either hides the ids
    * (tombstones still present) or is healed by recovery
    * (HnswBundleCrashSpec injects all of them).
    */
  def deleteFromBundle(removedIds: DataFrame, path: String, m: Int = 8,
      efConstruction: Int = 32, metric: String = "COSINE"): Unit = {
    val spark = removedIds.sparkSession
    val rm = removedIds
      .select(col(removedIds.columns.head).cast("long").as("id"))
    val cellsDf = spark.read.parquet(s"$path/cells")
    // the partition column reads back with an inferred (possibly int) type
    val affected = cellsDf.join(rm, "id")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return
    val survivors = cellsDf.filter(col("cell").isin(affected: _*))
      .join(rm, Seq("id"), "left_anti")
      .select(col("cell").cast("long").as("cell"), col("id"), col("vec"))
    // lazy: the write is the materializing job (see appendToBundle); the
    // stillThere probe below then reads the persisted blocks
    val rebuilt = Materialize.policy(spark, eager = false)(
      buildGraphs(survivors, m, efConstruction, metric))
    // dynamic overwrite cannot express "this cell is now empty" (no rows
    // → no partition in the write); drop those directories explicitly
    val stillThere = try {
      rebuilt.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$path/cells")
      rebuilt.select("cell").distinct().collect().map(_.getLong(0)).toSet
    } finally Materialize.free(rebuilt)
    affected.filterNot(stillThere).foreach { c =>
      val dir = new java.io.File(s"$path/cells/cell=$c")
      def rmTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
      }
      if (dir.exists()) rmTree(dir)
    }
  }
}
