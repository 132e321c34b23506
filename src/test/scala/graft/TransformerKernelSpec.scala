package graft

import graft.enrich.TransformerEmbedder
import org.scalatest.funsuite.AnyFunSuite

/** The embedder's token-batched dense kernel against the per-token
  * definition: each output starts from its bias and adds every non-zero
  * input's product in input order, one float add at a time. Compared bit
  * for bit, so a reordered add, a fused multiply-add or a zero that is
  * added instead of skipped all fail. */
class TransformerKernelSpec extends AnyFunSuite {

  /** The naive triple loop: token, output, input. */
  private def naive(x: Array[Array[Float]], w: Array[Float], b: Array[Float],
                    m: Int, n: Int): Array[Array[Float]] =
    x.map { xt =>
      Array.tabulate(n) { j =>
        var y = b(j)
        for (i <- 0 until m if xt(i) != 0f) y += xt(i) * w(i * n + j)
        y
      }
    }

  private def batched(x: Array[Array[Float]], w: Array[Float], b: Array[Float],
                      m: Int, n: Int): Array[Array[Float]] = {
    val y = Array.fill(x.length)(new Array[Float](n))
    TransformerEmbedder.dense(x, w, b, m, n, y)
    y
  }

  private def assertBitIdentical(x: Array[Array[Float]], w: Array[Float],
                                 b: Array[Float], m: Int, n: Int): Unit = {
    // floatToIntBits keeps the sign of zero and folds NaN payloads into one
    val want = naive(x, w, b, m, n).map(_.map(java.lang.Float.floatToIntBits).toSeq).toSeq
    val got = batched(x, w, b, m, n).map(_.map(java.lang.Float.floatToIntBits).toSeq).toSeq
    assert(got == want, s"${x.length} tokens, $m×$n")
  }

  private def gauss(rng: scala.util.Random, len: Int): Array[Float] =
    Array.fill(len)(rng.nextGaussian().toFloat)

  test("dense matches the per-token loop bit for bit on 1×1, 3×17, 17×33 and 33×17") {
    val rng = new scala.util.Random(11)
    for ((m, n) <- Seq((1, 1), (3, 17), (17, 33), (33, 17)); tokens <- Seq(1, 2, 5)) {
      val w = gauss(rng, m * n)
      val b = gauss(rng, n)
      // every third input exact zero, so pairs mix zero and non-zero slots
      val x = Array.fill(tokens)(Array.tabulate(m)(i =>
        if (rng.nextInt(3) == 0) 0f else rng.nextGaussian().toFloat))
      assertBitIdentical(x, w, b, m, n)
    }
  }

  test("dense skips an exact 0f input in either slot of a pair, and in both") {
    // every weight +Inf: a non-zero (positive) input makes an output +Inf,
    // while a zero input that is multiplied instead of skipped makes it NaN
    val m = 5
    val n = 3
    val w = Array.fill(m * n)(Float.PositiveInfinity)
    val b = Array(1f, -2f, 0.5f)
    val inputs = Seq(
      Array(0f, 2f, 0f, 3f, 0f),     // zero in the first slot of each pair
      Array(2f, 0f, 3f, 0f, 4f),     // zero in the second slot
      Array(0f, 0f, 0f, 0f, 0f),     // both slots, every pair and the tail
      Array(-0f, 1f, 1f, -0f, -0f))  // negative zero is a zero too
    inputs.foreach(xt => assertBitIdentical(Array(xt), w, b, m, n))
    assertBitIdentical(inputs.toArray, w, b, m, n)
  }

  test("dense keeps a -0.0f bias: all-zero inputs leave it, and sums start from it") {
    val m = 4
    val n = 17
    val rng = new scala.util.Random(3)
    val w = gauss(rng, m * n)
    val b = Array.fill(n)(-0f)
    val zeros = Array.fill(m)(0f)
    val y = batched(Array(zeros), w, b, m, n)
    assert(y(0).forall(v => java.lang.Float.floatToIntBits(v) ==
      java.lang.Float.floatToIntBits(-0f)))
    assertBitIdentical(Array(zeros, gauss(rng, m), Array(0f, 1f, 0f, -1f)), w, b, m, n)
  }
}
