package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

class DistanceKernelsSpec extends AnyFunSuite {

  private def arr(xs: Seq[Float]) = new GenericArrayData(xs.toArray)
  private val rnd = new scala.util.Random(42)
  private def randVecs(trial: Int): (Array[Float], Array[Float]) = {
    val n = 1 + rnd.nextInt(64)
    (Array.fill(n)(rnd.nextFloat() * 20 - 10), Array.fill(n)(rnd.nextFloat() * 20 - 10))
  }

  test("cosine matches naive formula") {
    (0 until 200).foreach { t =>
      val (a, b) = randVecs(t)
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      val expected = if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (na * nb)
      assert(math.abs(DistanceKernels.cosine(arr(a), arr(b)) - expected) < 1e-9)
    }
  }

  test("euclidean / l1 / negDot match naive formulas") {
    (0 until 200).foreach { t =>
      val (a, b) = randVecs(t)
      val l2 = math.sqrt(a.zip(b).map { case (x, y) => val d = x.toDouble - y.toDouble; d * d }.sum)
      val l1 = a.zip(b).map { case (x, y) => math.abs(x.toDouble - y.toDouble) }.sum
      val nd = -a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      assert(math.abs(DistanceKernels.euclidean(arr(a), arr(b)) - l2) < 1e-9)
      assert(math.abs(DistanceKernels.l1(arr(a), arr(b)) - l1) < 1e-9)
      assert(math.abs(DistanceKernels.negDot(arr(a), arr(b)) - nd) < 1e-9)
    }
  }

  test("zero vector cosine is defined as distance 1") {
    assert(DistanceKernels.cosine(arr(Seq(0f, 0f)), arr(Seq(1f, 2f))) == 1.0)
  }

  test("DOT_PRODUCT keeps the reference's -dot lower-is-better sign (DistanceFunction.java:26-27)") {
    val a = arr(Seq(1f, 2f, 3f)); val far = arr(Seq(-1f, -2f, -3f))
    assert(DistanceKernels.negDot(a, a) < DistanceKernels.negDot(a, far))
  }

  test("dimension mismatch fails fast") {
    intercept[IllegalArgumentException] {
      DistanceKernels.cosine(arr(Seq(1f)), arr(Seq(1f, 2f)))
    }
  }

  test("metric name resolution") {
    assert(DistanceKernels.metricId("cosine") == DistanceKernels.COSINE)
    assert(DistanceKernels.metricId("L2") == DistanceKernels.EUCLIDEAN)
    assert(DistanceKernels.metricId("manhattan") == DistanceKernels.L1)
    assert(DistanceKernels.metricId("DOT_PRODUCT") == DistanceKernels.DOT_PRODUCT)
    intercept[IllegalArgumentException](DistanceKernels.metricId("hamming"))
  }

  test("scoreBlock gives computeArrays's doubles bit for bit at every live count") {
    val dim = 37
    val qs = Array.fill(9)(Array.fill(dim)(rnd.nextFloat() * 20 - 10))
    qs(3) = new Array[Float](dim)
    val norms = qs.map(DistanceKernels.norm)
    for (b <- Seq(Array.fill(dim)(rnd.nextFloat() * 20 - 10), new Array[Float](dim));
         metric <- 0 to 3; n <- 0 to 9) {
      val live = rnd.shuffle((0 until 9).toList).take(n).toArray
      val out = new Array[Double](n + 1)
      DistanceKernels.scoreBlock(qs, norms, live, n, b, metric, out)
      (0 until n).foreach { m =>
        val want = DistanceKernels.computeArrays(qs(live(m)), b, metric)
        assert(java.lang.Double.doubleToLongBits(out(m)) == java.lang.Double.doubleToLongBits(want),
          s"metric $metric, $n live, chain $m: ${out(m)} vs $want")
      }
    }
  }
}
