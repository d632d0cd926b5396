package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Tight distance kernels over Spark's ArrayData, called from both the
  * interpreted path and generated code (static forwarders keep these inside
  * whole-stage codegen — no boxing, no per-element virtual dispatch beyond
  * ArrayData accessors).
  *
  * Distance semantics follow the reference's DistanceFunction
  * (/root/reference/datatools-testdata-apis/.../types/DistanceFunction.java:22-101):
  * all metrics are lower-is-better distances; COSINE = 1 - cosine similarity;
  * DOT_PRODUCT = -dot(a,b) (the reference's deliberate sign flip,
  * DistanceFunction.java:26-27,133-135). Accumulation in f64.
  */
object DistanceKernels {
  final val COSINE = 0
  final val EUCLIDEAN = 1
  final val L1 = 2
  final val DOT_PRODUCT = 3

  def metricId(name: String): Int = name.toUpperCase match {
    case "COSINE"                     => COSINE
    case "EUCLIDEAN" | "L2"           => EUCLIDEAN
    case "L1" | "MANHATTAN"           => L1
    case "DOT_PRODUCT" | "DOT" | "IP" => DOT_PRODUCT
    case other => throw new IllegalArgumentException(s"unknown distance metric: $other")
  }

  private def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) {
      // fail-fast dim validation, mirroring the reference's uniform-dimension
      // constraint (docs/specs/dataset_yaml_v1.md:106-113)
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${a.numElements()} vs ${b.numElements()}")
    }
    n
  }

  def compute(a: ArrayData, b: ArrayData, metric: Int): Double = metric match {
    case COSINE      => cosine(a, b)
    case EUCLIDEAN   => euclidean(a, b)
    case L1          => l1(a, b)
    case DOT_PRODUCT => negDot(a, b)
    case m           => throw new IllegalArgumentException(s"unknown metric id: $m")
  }

  /** Plain float-array form for typed kernels (zero-copy path for
    * Dataset.map operators like ivfIndex). Accumulation order is identical
    * to the ArrayData loops, so results are bit-equal across both forms.
    */
  def computeArrays(a: Array[Float], b: Array[Float], metric: Int): Double = {
    val n = a.length
    if (n != b.length) {
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${a.length} vs ${b.length}")
    }
    if (metric == COSINE) {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      finish(COSINE, dot, math.sqrt(na), math.sqrt(nb))
    } else {
      var s = 0.0; var i = 0
      while (i < n) { s = step(metric, s, a(i).toDouble, b(i).toDouble); i += 1 }
      finish(metric, s, 0.0, 0.0)
    }
  }

  /** One pair loop's accumulation step, query element `x`, base element
    * `y`: COSINE and DOT_PRODUCT sum the products.
    */
  @inline private def step(metric: Int, s: Double, x: Double, y: Double): Double =
    if (metric == EUCLIDEAN) { val d = x - y; s + d * d }
    else if (metric == L1) s + math.abs(x - y)
    else s + x * y

  /** A pair loop's sum to its distance; only COSINE reads the norms. */
  private def finish(metric: Int, s: Double, na: Double, nb: Double): Double = metric match {
    case COSINE      => if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - s / (na * nb)
    case EUCLIDEAN   => math.sqrt(s)
    case L1          => s
    case DOT_PRODUCT => -s
    case m           => throw new IllegalArgumentException(s"unknown metric id: $m")
  }

  /** The prepared-query kernel of exact KNN: the distances from one base
    * vector `b` to the queries `qs(live(m))`, m < n, into `out(m)`; `out`
    * holds n + 1 values. `qNorms` holds each query's [[norm]], computed
    * once per query; only COSINE reads it. Every distance is
    * [[computeArrays]]'s double bit for bit: each pair keeps its own sum in
    * the pair loops' order. Those sums are latency-bound add chains, so the
    * queries share passes over `b` four or two at a time and their chains
    * run side by side; COSINE's norm of `b` is one more chain, `b` against
    * itself.
    */
  def scoreBlock(qs: Array[Array[Float]], qNorms: Array[Double], live: Array[Int], n: Int,
      b: Array[Float], metric: Int, out: Array[Double]): Unit = {
    val d = b.length
    var m = 0
    while (m < n) {
      val len = qs(live(m)).length
      if (len != d) throw new IllegalArgumentException(s"vector dimension mismatch: $len vs $d")
      m += 1
    }
    // chain m < n scores query live(m); chain n, with COSINE, is b itself
    val chains = if (metric == COSINE) n + 1 else n
    def vec(c: Int): Array[Float] = if (c == n) b else qs(live(c))
    m = 0
    while (m + 4 <= chains) {
      val q0 = vec(m); val q1 = vec(m + 1); val q2 = vec(m + 2); val q3 = vec(m + 3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < d) {
        val y = b(i).toDouble
        s0 = step(metric, s0, q0(i).toDouble, y)
        s1 = step(metric, s1, q1(i).toDouble, y)
        s2 = step(metric, s2, q2(i).toDouble, y)
        s3 = step(metric, s3, q3(i).toDouble, y)
        i += 1
      }
      out(m) = s0; out(m + 1) = s1; out(m + 2) = s2; out(m + 3) = s3
      m += 4
    }
    if (m + 2 <= chains) {
      val q0 = vec(m); val q1 = vec(m + 1)
      var s0 = 0.0; var s1 = 0.0
      var i = 0
      while (i < d) {
        val y = b(i).toDouble
        s0 = step(metric, s0, q0(i).toDouble, y)
        s1 = step(metric, s1, q1(i).toDouble, y)
        i += 1
      }
      out(m) = s0; out(m + 1) = s1
      m += 2
    }
    if (m < chains) {
      val q = vec(m)
      var s = 0.0; var i = 0
      while (i < d) { s = step(metric, s, q(i).toDouble, b(i).toDouble); i += 1 }
      out(m) = s
    }
    val bNorm = if (metric == COSINE) math.sqrt(out(n)) else 0.0
    m = 0
    while (m < n) { out(m) = finish(metric, out(m), qNorms(live(m)), bNorm); m += 1 }
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def euclidean(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  def l1(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble)
      i += 1
    }
    s
  }

  def negDot(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    -s
  }

  /** L2 norm of a single vector (f64 accumulation). */
  def norm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** L2 norm of a single vector (f64 accumulation). */
  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }
}
