package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Scalar quantization (SQ8): per-dimension affine int8 compression — the
  * simpler, higher-fidelity sibling of PQ (4× memory instead of 32×, but no
  * codebook training and near-exact recall). Public technique (e.g. the
  * FAISS SQ8 index family); no reference-code involvement.
  *
  * Spark shape: the quantization grid (per-dim min/max) is ONE tiny
  * aggregation row broadcast to typed map kernels — encode and decode are
  * single-pass map jobs with zero shuffle. (Typed kernels, not
  * `zip_with`/`transform` columns: higher-order-function lambdas are
  * interpreted per element in Spark, which is exactly the hot path here.)
  *
  *  - `fitGrid`: per-dim [min, max] over the corpus (one pass).
  *  - `encode`: v → round((v − min)·255/(max − min)), clamped to [0, 255],
  *    stored as ARRAY<SMALLINT> (Spark has no unsigned byte; 2 bytes on the
  *    wire still halves f32, and parquet dictionary/RLE encoding takes it
  *    to ~1 byte at rest).
  *  - `decode`: code → min + code·(max − min)/255 (grid midpoint-free affine
  *    dequantization, exactly invertible for grid points).
  *  - `l2Error`: per-row reconstruction L2 — the quality gate.
  */
object Sq {

  /** One row: (mins ARRAY<DOUBLE>, maxs ARRAY<DOUBLE>) per dimension. */
  def fitGrid(base: DataFrame, vecCol: String = "embedding", dim: Int): DataFrame = {
    val cols = (0 until dim).map(i => element_at(col(vecCol), i + 1).cast("double"))
    base.agg(
      array(cols.map(c => min(c)): _*).as("mins"),
      array(cols.map(c => max(c)): _*).as("maxs"))
  }

  private def validateGrid(mins: Array[Double], maxs: Array[Double]): Unit = {
    require(mins.length == maxs.length && mins.nonEmpty, "empty grid")
    mins.indices.foreach(i => require(maxs(i) >= mins(i), s"grid dim $i: max < min"))
  }

  private def gridArrays(grid: DataFrame): (Array[Double], Array[Double]) = {
    val row = grid.select(col("mins").cast("array<double>"), col("maxs").cast("array<double>"))
      .collect() match {
      case Array(r) => r
      case rs => throw new IllegalArgumentException(s"grid must be 1 row, got ${rs.length}")
    }
    val mins = row.getSeq[Double](0).toArray
    val maxs = row.getSeq[Double](1).toArray
    validateGrid(mins, maxs)
    (mins, maxs)
  }

  /** Quantize `vecCol` to int8 codes against the grid: a map-side typed
    * kernel over the broadcast grid (HALF_UP rounding, clamped to [0,255];
    * degenerate constant dims → code 0).
    */
  def encode(df: DataFrame, grid: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (mins, maxs) = gridArrays(grid)
    encodeArrays(df, mins, maxs, idCol, vecCol)
  }

  /** Encode against an already-collected grid (no re-scan of the grid
    * aggregation — `gridArrays` collects an uncached one-row agg, so every
    * call re-runs the min/max pass over the corpus).
    */
  def encodeArrays(df: DataFrame, mins: Array[Double], maxs: Array[Double],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    validateGrid(mins, maxs)
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((mins, maxs))
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val (lo, hi) = bc.value
        require(v.length == lo.length, s"vector dim ${v.length} != grid dim ${lo.length}")
        val codes = new Array[Short](v.length)
        var i = 0
        while (i < v.length) {
          codes(i) =
            if (hi(i) == lo(i)) 0
            else {
              val scaled = (v(i) - lo(i)) * 255.0 / (hi(i) - lo(i))
              // math.round = floor(x+0.5): equals HALF_UP after the clamp
              math.max(0L, math.min(255L, math.round(scaled))).toShort
            }
          i += 1
        }
        (id, codes)
      }
      .toDF("id", "codes")
  }

  /** Dequantize codes back to doubles (the approximate vector). */
  def decode(codes: DataFrame, grid: DataFrame, idCol: String = "id",
      codesCol: String = "codes"): DataFrame = {
    val (mins, maxs) = gridArrays(grid)
    decodeArrays(codes, mins, maxs, idCol, codesCol)
  }

  /** Decode against an already-collected grid (see [[encodeArrays]]). */
  def decodeArrays(codes: DataFrame, mins: Array[Double], maxs: Array[Double],
      idCol: String = "id", codesCol: String = "codes"): DataFrame = {
    validateGrid(mins, maxs)
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((mins, maxs))
    codes.select(col(idCol).cast("long"), col(codesCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, cs) =>
        val (lo, hi) = bc.value
        require(cs.length == lo.length, s"codes dim ${cs.length} != grid dim ${lo.length}")
        val v = new Array[Double](cs.length)
        var i = 0
        while (i < cs.length) {
          v(i) = lo(i) + cs(i) * (hi(i) - lo(i)) / 255.0
          i += 1
        }
        (id, v)
      }
      .toDF("id", "vector")
  }

  /** Per-row L2 reconstruction error vs the original vectors — the SQ
    * quality gate (bounded by sqrt(dim)·step/2, step = (max−min)/255).
    */
  def l2Error(df: DataFrame, grid: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (mins, maxs) = gridArrays(grid) // collect the grid agg ONCE
    val decoded = decodeArrays(encodeArrays(df, mins, maxs, idCol, vecCol), mins, maxs)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("orig"))
      .join(decoded, "id")
      .select(col("id"),
        sqrt(aggregate(
          zip_with(col("orig"), col("vector"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)).as("l2_err"))
  }

  /** Binary (sign) quantization — the 32×-compression end of the family
    * (PQ 32× with codebooks, SQ8 4× affine, binary 32× sign-only): bit i
    * = 1 iff v_i ≥ 0, packed 16 dims per word so every engine's SIGNED
    * integer arithmetic replays the words exactly (no 2^63 sign traps).
    * Output (idCol, bits ARRAY<BIGINT> of ⌈dim/16⌉ words).
    */
  def binarize(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .na.drop().as[(Long, Array[Float])]
      .map { case (id, v) =>
        val words = new Array[Long]((v.length + 15) / 16)
        var i = 0
        while (i < v.length) {
          if (v(i) >= 0f) words(i / 16) |= 1L << (i % 16)
          i += 1
        }
        (id, words)
      }.toDF(idCol, "bits")
  }

  /** [[binarize]] as a pure column expression (dim known statically):
    * word w = Σ_j [v[16w+j] ≥ 0] · 2^j. Bit-identical to the typed-map
    * form (SqSpec pins it); exists so a binarized relation can KEEP
    * arbitrary metadata columns without a rebinarize-and-join shuffle —
    * the shape [[binaryTopKFiltered]] needs.
    */
  def binarizeExpr(vecCol: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val words = (dim + 15) / 16
    array((0 until words).map { w =>
      aggregate(
        transform(slice(vecCol, w * 16 + 1, 16), (x, j) =>
          when(x >= 0f, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x)
    }: _*)
  }

  /** FILTERED Hamming top-k: the per-query wire-predicate discipline
    * (q56/q228's pre-filter semantics, the trees of the exact hybrid
    * path's seam, [[HybridGroundTruth.perQuery]]) on the BINARY read path — candidates are eliminated by
    * each query's framed PNode blob BEFORE the XOR-popcount kernel and
    * heap, so the shortlist ranks only eligible rows. Same zero-shuffle
    * plan as [[binaryTopK]] (stream base × broadcast queries → bounded
    * heaps); metadata rides the binarized base via [[binarizeExpr]].
    */
  def binaryTopKFiltered(queries: DataFrame, base: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      predicateCol: String = "predicate", metadataCols: Seq[String] = Nil,
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val (qs, preds) = HybridGroundTruth.perQuery(queries, predicateCol, metadataCols)
    val q = qs.select(col(idCol).cast("long").as("query_id"),
      binarizeExpr(col(vecCol).cast("array<float>"), dim).as("q_bits"),
      col(HybridGroundTruth.PredicateIndex).as("pred"))
    val b = base.select(
      (Seq(col(idCol).cast("long").as("neighbor_id"),
        binarizeExpr(col(vecCol).cast("array<float>"), dim).as("b_bits")) ++
        metadataCols.map(col)): _*)
    val metaStruct = struct(metadataCols.map(c => col(c).as(c)): _*)
    val pairs = b.crossJoin(broadcast(q))
      .filter(preds.filter(col("pred"), metaStruct))
    val ham = aggregate(
      zip_with(col("q_bits"), col("b_bits"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double")
    Knn.topK(pairs, ham, col("neighbor_id"), k, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("dist").cast("long").as("hamming"))
  }

  /** Hamming top-k over binarized vectors: the [[Knn.knn]] plan shape
    * (stream base × broadcast queries → bounded per-query heaps), with
    * XOR-popcount as the distance — integer-exact, so the oracle (q213)
    * replays the ranking bit for bit. Output: (query_id, neighbor_id,
    * rank, hamming). A production read path takes this as the shortlist
    * and exact-reranks the survivors (the [[Pq]] refine discipline).
    */
  def binaryTopK(queries: DataFrame, base: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = binarize(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("bits").as("q_bits"))
    val b = binarize(base, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("bits").as("b_bits"))
    val ham = aggregate(
      zip_with(col("q_bits"), col("b_bits"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x).cast("double")
    Knn.topK(b.crossJoin(broadcast(q)), ham, col("neighbor_id"), k, excludeSelf)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("dist").cast("long").as("hamming"))
  }
}
