package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization (PQ / IVF-PQ companion): the memory-compression leg
  * of vector search at the 100 TB posture. A D-dim float vector (D·4 bytes)
  * becomes `m` small codes (one byte each at ksub<=256) — 32× compression at
  * D=64, m=8 — and ADC (asymmetric distance computation) ranks candidates
  * from a per-query lookup table without ever touching the original floats.
  *
  * The reference stops at exact KNN ground truth (Knn.scala implements that
  * contract); PQ is the additive scale path this engine contributes for
  * billion-vector corpora, following Jégou et al., "Product Quantization for
  * Nearest Neighbor Search" (TPAMI 2011) — public literature, no reference
  * code involved.
  *
  * Spark shape (same discipline as Ann.ivfIndex/ivfSearch):
  *  - codebooks are tiny (m·ksub·dsub floats) → broadcast;
  *  - encode is a map-side typed kernel — zero shuffle;
  *  - ADC search scans the CODES table (m ints per row, not D floats) with a
  *    per-partition bounded heap, then one exchange of partitions×|Q| k-heaps
  *    (the [[Knn.topK]] partial-agg shape). No shuffle ever carries a
  *    full vector.
  *
  * Codebook frame layout: (subspace INT, code INT, centroid ARRAY<FLOAT>)
  * with centroid length D/m.
  */
object Pq {

  /** Deterministic codebooks from designated rows (the oracle-friendly
    * quantizer, mirroring q50's subset coarse quantizer): codeword `code` of
    * subspace `s` is the s-th slice of the row whose ascending-id rank is
    * `code`. `source` must hold exactly ksub rows.
    */
  def subsetCodebooks(source: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    val rows = source.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(rows.nonEmpty, "subsetCodebooks: empty source")
    val dim = rows.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val out = for {
      (row, code) <- rows.zipWithIndex
      s <- 0 until m
    } yield (s, code, row._2.slice(s * dsub, (s + 1) * dsub).toSeq)
    out.toSeq.toDF("subspace", "code", "centroid")
  }

  /** Production codebooks: one KMeans(ksub) per subspace over (optionally
    * sampled) sub-vectors. `sampleFraction` follows the trainCentroids
    * contract — pass it when the corpus scale is known and no pre-count pass
    * runs; NaN trains on everything (small/test corpora).
    */
  def trainCodebooks(base: DataFrame, m: Int, ksub: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      sampleFraction: Double = Double.NaN): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val vecs0 = base.select(col(vecCol).cast("array<float>"))
    val vecs = if (sampleFraction.isNaN) vecs0
      else vecs0.sample(withReplacement = false, sampleFraction, seed)
    // one pass: explode rows into (subspace, subvector) and cache the slim
    // projection so the m per-subspace fits don't rescan the base relation
    val first = vecs.limit(1).as[Array[Float]].collect()
    require(first.nonEmpty, "trainCodebooks: empty base")
    val dim = first.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val sub = vecs.as[Array[Float]]
      .flatMap(v => (0 until m).map(s => (s, v.slice(s * dsub, (s + 1) * dsub))))
      .toDF("subspace", "sv").cache()
    try {
      val codebooks = (0 until m).map { s =>
        val feat = sub.filter(col("subspace") === s)
          .select(array_to_vector(col("sv")).as("features"))
        val model = new KMeans().setK(ksub).setSeed(seed + s).setMaxIter(20).fit(feat)
        require(model.clusterCenters.length == ksub,
          s"subspace $s: KMeans returned ${model.clusterCenters.length} < $ksub centers — " +
            "training sample too small or too few distinct sub-vectors; " +
            "lower ksub or raise sampleFraction")
        model.clusterCenters.zipWithIndex.map { case (c, code) =>
          (s, code, c.toArray.map(_.toFloat).toSeq)
        }
      }
      codebooks.flatten.toDF("subspace", "code", "centroid")
    } finally sub.unpersist()
  }

  /** Collect a codebook frame into cb(subspace)(code) = centroid, validating
    * a dense rectangular layout.
    */
  private def collectCodebooks(codebooks: DataFrame): Array[Array[Array[Float]]] = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    val rows = codebooks
      .select(col("subspace").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<float>"))
      .as[(Int, Int, Array[Float])].collect()
    require(rows.nonEmpty, "empty codebooks")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    require(rows.length == m * ksub,
      s"codebooks not dense: ${rows.length} entries for m=$m ksub=$ksub")
    val cb = Array.ofDim[Array[Float]](m, ksub)
    rows.foreach { case (s, c, v) =>
      // a duplicate (subspace, code) row would mask a hole elsewhere and
      // pass the row-count check, leaving a null slot that NPEs in kernels
      require(cb(s)(c) == null, s"duplicate codebook entry (subspace=$s, code=$c)")
      cb(s)(c) = v
    }
    cb
  }

  private def l2sq(a: Array[Float], b: Array[Float], off: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < b.length) {
      val t = a(off + i).toDouble - b(i).toDouble
      d += t * t
      i += 1
    }
    d
  }

  /** Encode vectors into PQ codes: per subspace, the argmin-L2 codeword
    * (ties → lower code). Map-side typed kernel over broadcast codebooks —
    * the same zero-shuffle shape as ivfIndex assignment. Output:
    * (id LONG, codes ARRAY<INT>), codes.length = m.
    */
  def encode(df: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks)
    val bc = spark.sparkContext.broadcast(cb)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val books = bc.value
        val m = books.length
        val dsub = books(0)(0).length
        require(v.length == m * dsub, s"vector dim ${v.length} != m*dsub ${m * dsub}")
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < books(s).length) {
            val d = l2sq(v, books(s)(c), s * dsub)
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = best
          s += 1
        }
        (id, codes)
      }
      .toDF("id", "codes")
  }

  /** ADC top-k: for each query, distances to ALL encoded rows via the
    * per-query lookup table lut(s)(c) = ||q_s - centroid(s)(c)||², summed
    * over subspaces and sqrt'd (euclidean convention, rank-equivalent
    * either way). Queries (small, broadcast) scan the codes table with a
    * per-partition bounded heap; the exchange carries only partial k-heaps.
    * Output: (query_id, neighbor_id, rank, adc_dist), rank 1..k by
    * (dist, id).
    */
  def adcSearch(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"adcSearch: k must be positive, got $k")
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val qs: Array[(Long, Array[Double])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        require(qv.length == m * dsub, s"query dim ${qv.length} != ${m * dsub}")
        val lut = new Array[Double](m * ksub)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < ksub) {
            lut(s * ksub + c) = l2sq(qv, cb(s)(c), s * dsub)
            c += 1
          }
          s += 1
        }
        (qid, lut)
      }
    val bq = spark.sparkContext.broadcast(qs)
    // per-partition bounded heaps: emit at most |Q|·k candidates per
    // partition, so the single exchange is partitions×|Q|×k rows of
    // (qid, id, dist) — never the codes table itself
    val partials = codes.select(col("id").cast("long"), col("codes").cast("array<int>"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val queries = bq.value
        val heaps = queries.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
          Ordering.by(p => (p._1, p._2))))
        it.foreach { case (id, rowCodes) =>
          checkCodes(rowCodes, id, m, ksub)
          var qi = 0
          while (qi < queries.length) {
            val (qid, lut) = queries(qi)
            if (!(excludeSelf && id == qid)) {
              var d = 0.0
              var s = 0
              while (s < m) {
                d += lut(s * ksub + rowCodes(s))
                s += 1
              }
              d = math.sqrt(d)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((d, id))
              else if (Ordering.Tuple2[Double, Long].lt((d, id), h.head)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
            qi += 1
          }
        }
        queries.iterator.zip(heaps.iterator).flatMap { case ((qid, _), h) =>
          h.iterator.map { case (d, id) => (qid, id, d) }
        }
      }
      .toDF("query_id", "nid", "dist")
    Knn.topK(partials, col("dist"), col("nid"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("dist").as("adc_dist"))
  }

  /** [[adcSearch]] for query sets past the driver-LUT budget — the
    * `knnChunked` escape hatch applied to the ANN read path (each query
    * costs m·ksub doubles of driver LUT, so a large query set outgrows the
    * driver with no other recourse): deterministic hash split of the
    * queries into `nChunks`, per-chunk adcSearch, union. Per-query top-k is
    * independent, so the result is EXACTLY adcSearch's; the trade is
    * nChunks scans of the codes table for a |Q|/nChunks-sized LUT set.
    */
  def adcSearchChunked(queries: DataFrame, codes: DataFrame,
      codebooks: DataFrame, k: Int, nChunks: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = false): DataFrame = {
    require(nChunks > 0, s"adcSearchChunked: nChunks must be positive, got $nChunks")
    (0 until nChunks).map { i =>
      adcSearch(queries.filter(pmod(xxhash64(col(idCol)), lit(nChunks)) === i),
        codes, codebooks, k, idCol, vecCol, excludeSelf)
    }.reduce(_ unionByName _)
  }

  /** Codes/codebook geometry guard: a codes row with arity != m would throw
    * a bare ArrayIndexOutOfBoundsException deep in an executor, and codes
    * encoded with a LARGER ksub than this codebook silently read wrong LUT
    * slots (e.g. a search pointed at a stale or mismatched index dir). */
  private def checkCodes(rowCodes: Array[Int], id: Long, m: Int, ksub: Int): Unit = {
    if (rowCodes.length != m)
      throw new IllegalArgumentException(
        s"PQ codes row id=$id has ${rowCodes.length} subcodes but the codebooks " +
          s"have m=$m subspaces — codes table does not match these codebooks")
    var s = 0
    while (s < m) {
      val c = rowCodes(s)
      if (c < 0 || c >= ksub)
        throw new IllegalArgumentException(
          s"PQ codes row id=$id subcode $c (subspace $s) outside [0,$ksub) — " +
            "codes were encoded with a different ksub than these codebooks")
      s += 1
    }
  }

  /** Exact re-rank of an ADC shortlist — the production two-stage ANN read
    * path: PQ prunes the corpus to C candidates per query map-side, then
    * only the |Q|·C shortlisted RAW vectors are touched for exact scoring.
    * The shortlist (small by construction) broadcasts against the base
    * table — the 100TB scan reduces to a broadcast-hash semi-join, no
    * shuffle of the base — queries broadcast too, and the final top-k is a
    * per-query window over ≤C rows. Output mirrors [[adcSearch]] with the
    * exact `dist` instead of `adc_dist`.
    */
  def refine(queries: DataFrame, shortlist: DataFrame, base: DataFrame,
      k: Int, metric: String = "EUCLIDEAN", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"refine: k must be positive, got $k")
    val cand = base
      .select(col(idCol).cast("long").as("_nid"), col(vecCol).as("_bv"))
      .join(broadcast(shortlist.select(col("query_id"),
        col("neighbor_id").as("_nid"))), "_nid")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("_qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist"), col("_nid"))
    cand.join(broadcast(q), "query_id")
      .withColumn("dist",
        graft.functions.VectorFunctions.distance(col("_qv"), col("_bv"), metric))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("_nid").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("dist"))
  }

  private def l2sqFull(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) {
      val t = a(i).toDouble - b(i).toDouble
      d += t * t
      i += 1
    }
    d
  }

  /** IVF-PQ index: coarse L2 cell assignment (lowest-cell tie-break, the
    * ivfIndex kernel shape) + PQ codes of the RESIDUAL (v − centroid) —
    * residual quantization is what makes small codebooks sharp, because the
    * residual distribution is centered and much tighter than the raw space.
    * One map-side pass over broadcast centroids+codebooks, zero shuffle.
    * Output: (id LONG, cell LONG, codes ARRAY<INT>). Persist with
    * `Ann.writeIndex`-style partitionBy("cell") so probes prune partitions.
    */
  def ivfPqIndex(base: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val cents = Ann.collectCentroids(centroids, idCol, vecCol, "ivfPqIndex")
    val cb = collectCodebooks(codebooks)
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(cb)
    base.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bcC.value
        val books = bcB.value
        val m = books.length
        val dsub = books(0)(0).length
        var bestCell = -1
        var bestD = Double.MaxValue
        var i = 0
        while (i < cs.length) {
          val d = l2sqFull(v, cs(i)._2)
          if (d < bestD) { bestD = d; bestCell = i }
          i += 1
        }
        val cvec = cs(bestCell)._2
        val r = new Array[Float](v.length)
        var j = 0
        while (j < v.length) { r(j) = (v(j).toDouble - cvec(j).toDouble).toFloat; j += 1 }
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < books(s).length) {
            val d = l2sq(r, books(s)(c), s * dsub)
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          codes(s) = best
          s += 1
        }
        (id, cs(bestCell)._1, codes)
      }
      .toDF("id", "cell", "codes")
  }

  /** PQ-side index maintenance — the q235 discipline on the COMPRESSED
    * path: append assigns + residual-encodes ONLY the new slice against
    * the frozen quantizer and codebooks (cell and codes are per-vector
    * functions of them, so maintenance commutes with a from-scratch
    * rebuild — q244 pins the search equality); delete is one anti-join on
    * the codes table. What maintenance cannot heal here is codebook drift
    * — residuals of a drifted append quantize poorly under stale
    * codebooks; the q236 staleness card (recall leg) covers the retrain
    * trigger for the quantizer, and a rerank card (q214) bounds the ADC
    * error either way.
    */
  def ivfPqAppend(index: DataFrame, newVecs: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    index.unionByName(ivfPqIndex(newVecs, centroids, codebooks, idCol, vecCol))

  def ivfPqDelete(index: DataFrame, removedIds: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    index.join(removedIds.select(col(idCol).cast("long").as("id")),
      Seq("id"), "left_anti")

  /** IVF-PQ search: probe the nProbe nearest cells per query (L2 to
    * centroids, lowest-cell ties), then ADC over the residual codes of
    * probed cells with a per-(query, cell) LUT built on (q − centroid).
    * The `cell isin probes` filter runs BEFORE the kernel so a
    * cell-partitioned index table prunes to nProbe/nList of the data; the
    * scan then touches only m-int code rows, never vectors.
    */
  def ivfPqSearch(queries: DataFrame, index: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(nProbe > 0 && k > 0, s"ivfPqSearch: nProbe ($nProbe) and k ($k) must be positive")
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = Ann.collectCentroids(centroids, idCol, vecCol, "ivfPqSearch")
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val centById = cents.toMap

    // driver-side (queries are small by contract, like Knn): probe cells +
    // one residual LUT per (query, probed cell)
    val qs = queries.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val probers: Map[Long, Array[(Long, Array[Double])]] = qs.flatMap { case (qid, qv) =>
      val byDist = cents.map { case (cellId, cv) => (l2sqFull(qv, cv), cellId) }
        .sortBy(p => (p._1, p._2)).take(nProbe)
      byDist.map { case (_, cellId) =>
        val cvec = centById(cellId)
        val lut = new Array[Double](m * ksub)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < ksub) {
            val cw = cb(s)(c)
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val t = qv(s * dsub + i).toDouble - cvec(s * dsub + i).toDouble - cw(i).toDouble
              d += t * t
              i += 1
            }
            lut(s * ksub + c) = d
            c += 1
          }
          s += 1
        }
        (cellId, (qid, lut))
      }
    }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
    val probedCells = probers.keys.toSeq
    val bp = spark.sparkContext.broadcast(probers)

    val partials = index
      .filter(col("cell").isInCollection(probedCells)) // partition pruning on a cell-partitioned table
      .select(col("id").cast("long"), col("cell").cast("long"), col("codes").cast("array<int>"))
      .as[(Long, Long, Array[Int])]
      .mapPartitions { it =>
        val pr = bp.value
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (id, cell, rowCodes) =>
          checkCodes(rowCodes, id, m, ksub)
          pr.get(cell).foreach { qls =>
            var qi = 0
            while (qi < qls.length) {
              val (qid, lut) = qls(qi)
              if (!(excludeSelf && id == qid)) {
                var d = 0.0
                var s = 0
                while (s < m) {
                  d += lut(s * ksub + rowCodes(s))
                  s += 1
                }
                d = math.sqrt(d)
                val h = heaps.getOrElseUpdate(qid,
                  new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
                    Ordering.by(p => (p._1, p._2))))
                if (h.size < k) h.enqueue((d, id))
                else if (Ordering.Tuple2[Double, Long].lt((d, id), h.head)) {
                  h.dequeue(); h.enqueue((d, id))
                }
              }
              qi += 1
            }
          }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (d, id) => (qid, id, d) }
        }
      }
      .toDF("query_id", "nid", "dist")
    Knn.topK(partials, col("dist"), col("nid"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("dist").as("adc_dist"))
  }

  /** [[ivfPqSearch]] with the same chunked-query escape hatch as
    * [[adcSearchChunked]] — a per-(query, probed-cell) residual LUT is
    * nProbe × m·ksub doubles of driver state, so the query budget is even
    * tighter than ADC's. Exactly ivfPqSearch's result per query; nChunks
    * passes over the (cell-pruned) index table.
    */
  def ivfPqSearchChunked(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, k: Int, nProbe: Int,
      nChunks: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(nChunks > 0, s"ivfPqSearchChunked: nChunks must be positive, got $nChunks")
    (0 until nChunks).map { i =>
      ivfPqSearch(queries.filter(pmod(xxhash64(col(idCol)), lit(nChunks)) === i),
        index, centroids, codebooks, k, nProbe, idCol, vecCol, excludeSelf)
    }.reduce(_ unionByName _)
  }

  /** GUARANTEED-k on the filtered COMPRESSED path — the
    * [[Ann.ivfSearchFilteredGuaranteed]] escalation policy over
    * [[ivfPqSearchFiltered]]: queries whose pass-1 list is short re-run at
    * nProbe = nList (an exhaustive ADC scan of the codes table, never a
    * base rejoin), so every query returns min(k, |eligible|) rows;
    * `escalated` marks the path. ADC distances stay approximate either
    * way — the guarantee is about list COMPLETENESS under selective
    * predicates, not about rank exactness (that is [[refine]]'s job).
    */
  def ivfPqSearchFilteredGuaranteed(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val nList = centroids.count().toInt
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    val approx = Materialize.view(searchFiltered(qs, preds, index, centroids, codebooks,
      k, nProbe, idCol, vecCol, metadataCols, excludeSelf))
    val starvedIds = Materialize.view(queries.select(col(idCol).cast("long").as("query_id"))
      .join(approx.groupBy("query_id").agg(count(lit(1)).as("n_got")),
        Seq("query_id"), "left")
      .filter(coalesce(col("n_got"), lit(0L)) < k)
      .select("query_id"))
    val starved = qs.join(
      starvedIds.withColumnRenamed("query_id", idCol), Seq(idCol), "left_semi")
    val exact = searchFiltered(starved, preds, index, centroids, codebooks,
      k, nList, idCol, vecCol, metadataCols, excludeSelf)
    approx.join(starvedIds, Seq("query_id"), "left_anti")
      .withColumn("escalated", lit(false))
      .unionByName(exact.withColumn("escalated", lit(true)))
  }

  /** FILTERED IVF-PQ search — the hybrid discipline (per-query wire
    * predicates, specs/ordinal_predicate_writers_v1.md:23-26) on the
    * compressed path: each query carries a framed PNode blob (null =
    * unfiltered) and index rows are eliminated by that predicate BEFORE
    * the ADC distance is computed (pre-filter semantics: the heap ranks
    * only eligible candidates). The index must carry `metadataCols`
    * beside (id, cell, codes) — metadata travels WITH the cell-partitioned
    * codes table, so a filtered probe still reads nProbe/nList of the data
    * and never rejoins the base relation. Same probe selection, residual
    * LUTs and per-partition heaps as [[ivfPqSearch]]; the trees come from
    * [[HybridGroundTruth.perQuery]] and ride the same broadcast as the LUTs.
    */
  def ivfPqSearchFiltered(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    searchFiltered(qs, preds, index, centroids, codebooks, k, nProbe, idCol, vecCol,
      metadataCols, excludeSelf)
  }

  /** [[ivfPqSearchFiltered]] over a query side that went through
    * [[HybridGroundTruth.perQuery]].
    */
  private def searchFiltered(indexed: DataFrame, preds: HybridGroundTruth.QueryPredicates,
      index: DataFrame, centroids: DataFrame, codebooks: DataFrame, k: Int, nProbe: Int,
      idCol: String, vecCol: String, metadataCols: Seq[String],
      excludeSelf: Boolean): DataFrame = {
    require(nProbe > 0 && k > 0,
      s"ivfPqSearchFiltered: nProbe ($nProbe) and k ($k) must be positive")
    val spark = indexed.sparkSession
    import spark.implicits._
    val cents = Ann.collectCentroids(centroids, idCol, vecCol, "ivfPqSearchFiltered")
    val cb = collectCodebooks(codebooks)
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val centById = cents.toMap

    val qs = indexed
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col(HybridGroundTruth.PredicateIndex))
      .as[(Long, Array[Float], Int)].collect()
    // each LUT carries its query's predicate index; the decoded trees
    // broadcast beside the LUTs
    val probers: Map[Long, Array[(Long, Array[Double], Int)]] =
      qs.flatMap { case (qid, qv, pred) =>
        val byDist = cents.map { case (cellId, cv) => (l2sqFull(qv, cv), cellId) }
          .sortBy(p => (p._1, p._2)).take(nProbe)
        byDist.map { case (_, cellId) =>
          val cvec = centById(cellId)
          val lut = new Array[Double](m * ksub)
          var s = 0
          while (s < m) {
            var c = 0
            while (c < ksub) {
              val cw = cb(s)(c)
              var d = 0.0
              var i = 0
              while (i < dsub) {
                val t = qv(s * dsub + i).toDouble - cvec(s * dsub + i).toDouble - cw(i).toDouble
                d += t * t
                i += 1
              }
              lut(s * ksub + c) = d
              c += 1
            }
            s += 1
          }
          (cellId, (qid, lut, pred))
        }
      }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
    val probedCells = probers.keys.toSeq
    val bp = spark.sparkContext.broadcast((probers, preds))

    val metaStruct = struct(metadataCols.map(c => col(c).as(c)): _*)
    val partials = index
      .filter(col("cell").isInCollection(probedCells)) // partition pruning first
      .select(col("id").cast("long"), col("cell").cast("long"),
        col("codes").cast("array<int>"), metaStruct.as("_meta"))
      .rdd.mapPartitions { it =>
        val (pr, trees) = bp.value
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { r =>
          val id = r.getLong(0)
          val cell = r.getLong(1)
          val rowCodes = r.getSeq[Int](2).toArray
          val meta = r.getStruct(3)
          checkCodes(rowCodes, id, m, ksub)
          pr.get(cell).foreach { qls =>
            var qi = 0
            while (qi < qls.length) {
              val (qid, lut, pred) = qls(qi)
              // PRE-FILTER: the predicate eliminates the row BEFORE the ADC
              // distance — the heap only ever ranks eligible candidates
              if (!(excludeSelf && id == qid) && trees.matches(pred, meta)) {
                var d = 0.0
                var s = 0
                while (s < m) {
                  d += lut(s * ksub + rowCodes(s))
                  s += 1
                }
                d = math.sqrt(d)
                val h = heaps.getOrElseUpdate(qid,
                  new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
                    Ordering.by(p => (p._1, p._2))))
                if (h.size < k) h.enqueue((d, id))
                else if (Ordering.Tuple2[Double, Long].lt((d, id), h.head)) {
                  h.dequeue(); h.enqueue((d, id))
                }
              }
              qi += 1
            }
          }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (d, id) => (qid, id, d) }
        }
      }
      .toDF("query_id", "nid", "dist")
    Knn.topK(partials, col("dist"), col("nid"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("dist").as("adc_dist"))
  }

  /** Shortlist recall of ADC search against exact KNN over the same base —
    * the quality gate for a trained codebook (J4 analogue for the PQ path).
    * `shortlist` (>= k, default k) is the ADC candidate depth: the
    * production pattern is ADC-shortlist → exact re-rank, so the metric that
    * matters is how often the true top-k survive into the ADC top-`shortlist`
    * (quantization collapses fine-grained ranking by design — cells tie).
    */
  def adcRecall(spark: SparkSession, queries: DataFrame, base: DataFrame,
      codebooks: DataFrame, k: Int, shortlist: Int = -1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val depth = if (shortlist < 0) k else shortlist
    require(depth >= k, s"shortlist $depth < k $k")
    val codes = encode(base, codebooks, idCol, vecCol)
    val approx = adcSearch(queries, codes, codebooks, depth, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val exact = Knn.knn(queries, base, k, metric = "EUCLIDEAN",
        idCol = idCol, vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.intersect(exact).groupBy("query_id").agg(count(lit(1)).as("hits"))
    import spark.implicits._
    exact.groupBy("query_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .agg((sum(coalesce(col("hits"), lit(0L))).cast("double") /
        sum(col("n")).cast("double")).as("recall"))
  }
}
