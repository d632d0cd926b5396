package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Residual vector quantization (RVQ): a chain of S full-dimension
  * codebooks where stage s quantizes the RESIDUAL left by stages 0..s-1 —
  * x̂ = C₀[c₀] + C₁[c₁] + … — the additive-quantization counterpart to
  * PQ's subspace split (Juang & Gray, "Multiple stage vector quantization"
  * ICASSP 1982; the RQ leg of Babenko & Lempitsky's additive-quantization
  * line — public literature). Where PQ assumes independent subspaces and
  * OPQ rotates to soften that assumption, RVQ keeps full-dimension
  * codewords and spends its bits on successive error shells; at the same
  * code budget it wins exactly when the energy is NOT axis-separable.
  * The reference engine stops at exact KNN ground truth (`Knn.scala`
  * implements that contract, cf. /root/reference/datatools-vectordata KNN
  * semantics); RVQ extends the repo's own `Pq`/`Opq` compression family.
  *
  * Spark shape (same discipline as [[Pq]]):
  *  - codebooks are tiny (Σ_s k_s · D floats) → broadcast;
  *  - [[encode]] is a map-side typed kernel — zero shuffle; the residual is
  *    carried in DOUBLE through the stage chain (the storage dtype of the
  *    codewords stays float);
  *  - [[adcSearch]] scans the codes table (S ints per row) with
  *    per-partition bounded heaps and one exchange of k-heaps. The
  *    reconstruction norm decomposes as Σ_s ‖C_s‖² + 2·Σ_{s<t} C_s·C_t, so
  *    the scan cost per (query,row) is O(S²) table lookups, never O(D) —
  *    the self/cross/query·codeword tables are all query- or
  *    index-constant and broadcast.
  *
  * Oracle strategy (the `Pq.subsetCodebooks` convention): deterministic
  * stage codebooks from designated ascending-id rows — stage 0 = the rows
  * themselves, stage s>0 = the float-rounded residuals of the NEXT row
  * block under stages 0..s-1 — so DuckDB replays codebook construction,
  * the double-precision encode chain, the ADC table decomposition, and the
  * per-stage error card from first principles (q281–q283). The learned
  * path (sequential KMeans on residuals) is machine-checked in `RvqSpec`
  * with the oracled deterministic path as the contract twin.
  *
  * Codebook frame layout: (stage INT, code INT, centroid ARRAY<FLOAT>)
  * with full-dimension centroids.
  */
object Rvq {

  /** Deterministic stage codebooks from designated rows: `source` must hold
    * exactly `stageSizes.sum` rows; after sorting by ascending id, block 0
    * (first k₀ rows) becomes stage 0's codewords verbatim, block s becomes
    * stage s's codewords as the FLOAT-rounded residual of each row under
    * the already-built stages 0..s-1 (the exact [[encode]] chain, so the
    * oracle replays construction and encoding with one shared CTE).
    */
  def subsetStageCodebooks(source: DataFrame, stageSizes: Seq[Int],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(stageSizes.nonEmpty && stageSizes.forall(_ > 0),
      s"subsetStageCodebooks: bad stage sizes $stageSizes")
    val spark = source.sparkSession
    import spark.implicits._
    val rows = source.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(rows.length == stageSizes.sum,
      s"subsetStageCodebooks: need exactly ${stageSizes.sum} rows, got ${rows.length}")
    val dim = rows.head._2.length
    val books = scala.collection.mutable.ArrayBuffer[Array[Array[Float]]]()
    var off = 0
    for (ks <- stageSizes) {
      val block = rows.slice(off, off + ks).map(_._2)
      val cents = block.map { v =>
        require(v.length == dim, s"subsetStageCodebooks: ragged dim ${v.length} != $dim")
        val r = residualAfter(v, books.map(b => b).toArray)
        r.map(_.toFloat)
      }
      books += cents
      off += ks
    }
    val out = for {
      (book, s) <- books.zipWithIndex
      (cw, c) <- book.zipWithIndex
    } yield (s, c, cw.toSeq)
    out.toSeq.toDF("stage", "code", "centroid")
  }

  /** Learned stage codebooks: sequential KMeans — stage s clusters the
    * residual relation left by stages 0..s-1 (each pass one map-side
    * residual kernel + one MLlib fit; `sampleFraction` follows the
    * `Pq.trainCodebooks` contract). Centroids are float-rounded, matching
    * the subset path's storage dtype.
    */
  def trainStageCodebooks(base: DataFrame, stages: Int, k: Int,
      vecCol: String = "embedding", seed: Long = 42L,
      sampleFraction: Double = Double.NaN): DataFrame = {
    require(stages >= 1 && k >= 1, s"trainStageCodebooks: bad stages=$stages k=$k")
    val spark = base.sparkSession
    import spark.implicits._
    val vecs0 = base.select(col(vecCol).cast("array<float>"))
    // every stage reads the sample, and KMeans reads its input twice in one
    // task (a zip), which a DSv2 scan such as the xvec source cannot serve
    // (one reader per task): materialize the sample once
    val sample = Materialize.view(if (sampleFraction.isNaN) vecs0
      else vecs0.sample(withReplacement = false, sampleFraction, seed))
    val vecs = sample.as[Array[Float]]
    val books = scala.collection.mutable.ArrayBuffer[Array[Array[Float]]]()
    try for (s <- 0 until stages) {
      val snapshot = books.toArray
      val bb = spark.sparkContext.broadcast(snapshot)
      val resid = vecs.map { v =>
        residualAfter(v, bb.value).map(_.toFloat)
      }.toDF("rv")
      val km = new KMeans().setK(k).setSeed(seed + s)
        .setFeaturesCol("feat").setPredictionCol("cell")
      val model = km.fit(resid.withColumn("feat", array_to_vector(col("rv"))))
      books += model.clusterCenters.map(_.toArray.map(_.toFloat))
    } finally Materialize.free(sample)
    val out = for {
      (book, s) <- books.zipWithIndex
      (cw, c) <- book.zipWithIndex
    } yield (s, c, cw.toSeq)
    out.toSeq.toDF("stage", "code", "centroid")
  }

  /** Encode: per row, walk the stage chain — c_s = argmin ‖r − C_s[c]‖²
    * (ties → lower code), r ← r − C_s[c_s] in DOUBLE. Broadcast codebooks,
    * map-side, zero shuffle. Output: (id LONG, codes ARRAY<INT>), one code
    * per stage — the same frame shape `Pq.encode` emits.
    */
  def encode(df: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val books = collectStageBooks(codebooks)
    val bc = spark.sparkContext.broadcast(books)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val bs = bc.value
        require(v.length == bs(0)(0).length,
          s"vector dim ${v.length} != codebook dim ${bs(0)(0).length}")
        (id, encodeChain(v, bs)._1)
      }
      .toDF("id", "codes")
  }

  /** Per-stage cumulative error card: one row per stage s with the corpus
    * mean ‖x − Σ_{t≤s} C_t[c_t]‖² — the monotone-descent curve that says
    * what each extra stage buys. One map-side pass, one tiny aggregate.
    * Output: (stage INT, mse DOUBLE).
    */
  def errorCard(df: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val books = collectStageBooks(codebooks)
    val bc = spark.sparkContext.broadcast(books)
    df.select(col(vecCol).cast("array<float>")).as[Array[Float]]
      .flatMap { v =>
        val bs = bc.value
        val (_, errs) = encodeChain(v, bs)
        errs.zipWithIndex.map { case (e, s) => (s, e) }
      }
      .toDF("stage", "err")
      .groupBy("stage").agg(avg(col("err")).as("mse"))
  }

  /** ADC top-k over the codes table: dist²(q, row) = ‖q‖² − 2·Σ_s q·C_s[c_s]
    * + Σ_s ‖C_s[c_s]‖² + 2·Σ_{s<t} C_s[c_s]·C_t[c_t]. The self-norm and
    * cross-dot tables are index constants; the q·C tables are per-query —
    * all broadcast, so the scan never touches a float vector. Same bounded-
    * heap + single-exchange shape as `Pq.adcSearch`; output (query_id,
    * neighbor_id, rank, adc_dist), rank 1..k by (dist, id), dist =
    * sqrt(max(0, dist²)) guarding fp cancellation.
    */
  def adcSearch(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"adcSearch: k must be positive, got $k")
    val spark = queries.sparkSession
    import spark.implicits._
    val books = collectStageBooks(codebooks)
    val nStages = books.length
    // index constants: selfDot(s)(c) and crossDot(s)(t)(cs)(ct) for s<t
    val selfDot = books.map(_.map(cw => dot(cw, cw)))
    val crossDot = Array.tabulate(nStages, nStages) { (s, t) =>
      if (s < t) books(s).map(a => books(t).map(b => dot(a, b)))
      else null
    }
    val qs: Array[(Long, Double, Array[Array[Double]])] = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        require(qv.length == books(0)(0).length,
          s"query dim ${qv.length} != codebook dim ${books(0)(0).length}")
        val qq = dotF(qv, qv)
        val qdot = books.map(_.map(cw => dotQ(qv, cw)))
        (qid, qq, qdot)
      }
    val bq = spark.sparkContext.broadcast(qs)
    val bSelf = spark.sparkContext.broadcast(selfDot)
    val bCross = spark.sparkContext.broadcast(crossDot)
    val ks = books.map(_.length)
    val partials = codes.select(col("id").cast("long"), col("codes").cast("array<int>"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val queries = bq.value
        val self = bSelf.value
        val cross = bCross.value
        val heaps = queries.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
          Ordering.by(p => (p._1, p._2))))
        it.foreach { case (id, rowCodes) =>
          require(rowCodes.length == nStages,
            s"row $id: ${rowCodes.length} codes for $nStages stages")
          var s = 0
          while (s < nStages) {
            require(rowCodes(s) >= 0 && rowCodes(s) < ks(s),
              s"row $id: code ${rowCodes(s)} out of range at stage $s")
            s += 1
          }
          // reconstruction norm² — query-independent, O(S²) lookups
          var recon = 0.0
          s = 0
          while (s < nStages) {
            recon += self(s)(rowCodes(s))
            var t = s + 1
            while (t < nStages) {
              recon += 2.0 * cross(s)(t)(rowCodes(s))(rowCodes(t))
              t += 1
            }
            s += 1
          }
          var qi = 0
          while (qi < queries.length) {
            val (qid, qq, qdot) = queries(qi)
            if (!(excludeSelf && id == qid)) {
              var cd = 0.0
              s = 0
              while (s < nStages) { cd += qdot(s)(rowCodes(s)); s += 1 }
              val d = math.sqrt(math.max(0.0, qq - 2.0 * cd + recon))
              val h = heaps(qi)
              if (h.size < k) h.enqueue((d, id))
              else if (Ordering.Tuple2[Double, Long].lt((d, id), h.head)) {
                h.dequeue(); h.enqueue((d, id))
              }
            }
            qi += 1
          }
        }
        queries.iterator.zip(heaps.iterator).flatMap { case ((qid, _, _), h) =>
          h.iterator.map { case (d, id) => (qid, id, d) }
        }
      }
      .toDF("query_id", "nid", "dist")
    Knn.topK(partials, col("dist"), col("nid"), k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        col("dist").as("adc_dist"))
  }

  /** The stage chain shared by encode/errorCard: returns (codes, cumulative
    * per-stage errors ‖r‖² AFTER subtracting each stage's codeword). The
    * residual runs in double; codewords are float (storage dtype).
    */
  private def encodeChain(v: Array[Float],
      books: Array[Array[Array[Float]]]): (Array[Int], Array[Double]) = {
    val dim = v.length
    val r = new Array[Double](dim)
    var i = 0
    while (i < dim) { r(i) = v(i).toDouble; i += 1 }
    val codes = new Array[Int](books.length)
    val errs = new Array[Double](books.length)
    var s = 0
    while (s < books.length) {
      val book = books(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0
        i = 0
        while (i < dim) { val t = r(i) - cw(i).toDouble; d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      val cw = book(best)
      i = 0
      while (i < dim) { r(i) -= cw(i).toDouble; i += 1 }
      errs(s) = bestD
      s += 1
    }
    (codes, errs)
  }

  /** Residual of `v` under an ALREADY-BUILT stage prefix (greedy argmin per
    * stage, double precision) — the codebook-construction primitive.
    */
  private def residualAfter(v: Array[Float],
      books: Array[Array[Array[Float]]]): Array[Double] = {
    val dim = v.length
    val r = new Array[Double](dim)
    var i = 0
    while (i < dim) { r(i) = v(i).toDouble; i += 1 }
    var s = 0
    while (s < books.length) {
      val book = books(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0
        i = 0
        while (i < dim) { val t = r(i) - cw(i).toDouble; d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cw = book(best)
      i = 0
      while (i < dim) { r(i) -= cw(i).toDouble; i += 1 }
      s += 1
    }
    r
  }

  private def collectStageBooks(codebooks: DataFrame): Array[Array[Array[Float]]] = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    val rows = codebooks
      .select(col("stage").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<float>"))
      .as[(Int, Int, Array[Float])].collect()
    require(rows.nonEmpty, "empty codebooks")
    val nStages = rows.map(_._1).max + 1
    val books = Array.tabulate(nStages) { s =>
      val stageRows = rows.filter(_._1 == s)
      require(stageRows.nonEmpty, s"codebooks missing stage $s")
      val ks = stageRows.map(_._2).max + 1
      require(stageRows.length == ks, s"stage $s not dense: ${stageRows.length} rows for k=$ks")
      val book = new Array[Array[Float]](ks)
      stageRows.foreach { case (_, c, cw) =>
        require(book(c) == null, s"duplicate codebook entry (stage=$s, code=$c)")
        book(c) = cw
      }
      book
    }
    val dim = books(0)(0).length
    require(books.forall(_.forall(_.length == dim)),
      s"codebooks not all dimension $dim")
    books
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def dotF(a: Array[Float], b: Array[Float]): Double = dot(a, b)

  private def dotQ(q: Array[Float], cw: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < q.length) { s += q(i).toDouble * cw(i).toDouble; i += 1 }
    s
  }
}
