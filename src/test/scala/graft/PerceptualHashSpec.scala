package graft

import graft.multimodal.{PerceptualHash, PpmCodec, WavCodec, Y4mCodec}
import org.scalatest.funsuite.AnyFunSuite

class PerceptualHashSpec extends AnyFunSuite {

  private def img(w: Int, h: Int)(pix: (Int, Int) => Int): PpmCodec.Image = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = pix(x, y).toByte
    PpmCodec.Image(w, h, rgb)
  }

  test("dHash of a horizontal gradient is all-ones; of a constant image all-zeros") {
    // strictly increasing left->right at every downsampled column
    val grad = img(18, 16)((x, _) => x * 14)
    assert(PerceptualHash.dHash(grad).forall(_ == 0xff))
    assert(PerceptualHash.hex(PerceptualHash.dHash(grad)) == "ff" * 8)
    val const = img(18, 16)((_, _) => 77)
    assert(PerceptualHash.dHash(const).forall(_ == 0))
  }

  test("dHash survives a nearest-neighbor upscale (the near-dup property)") {
    val base = img(9, 8)((x, y) => (x * 29 + y * 53) % 256)
    val up = PpmCodec.resizeNearest(base, 18, 16)
    // 2x nearest upscale samples the identical source pixels at every
    // grid point, so the perceptual hash is EXACTLY preserved
    assert(PerceptualHash.dHash(up).sameElements(PerceptualHash.dHash(base)))
  }

  /** Exact bit distance between two band arrays: the reference for the
    * queries' `bit_count(xor(a, b))` over the packed 64-bit hash. */
  private def hamming(a: Array[Int], b: Array[Int]): Int =
    a.indices.map(i => Integer.bitCount(a(i) ^ b(i))).sum

  /** The 64-bit word the queries compare: the 16-hex-char rendering. */
  private def packed(bands: Array[Int]): Long =
    java.lang.Long.parseUnsignedLong(PerceptualHash.hex(bands), 16)

  test("hamming counts exact bit differences across bands") {
    val a = Array(0x00, 0xff, 0x0f, 0xa5, 0, 0, 0, 0)
    val b = Array(0x01, 0xff, 0xf0, 0x5a, 0, 0, 0, 0)
    assert(hamming(a, a) == 0)
    assert(hamming(a, b) == 1 + 0 + 8 + 8)
    assert(java.lang.Long.bitCount(packed(a) ^ packed(b)) == hamming(a, b))
  }

  test("pigeonhole: any two hashes within hamming 7 share at least one band") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val a = Array.fill(8)(rnd.nextInt(256))
      val b = a.clone()
      // flip up to 7 random bits
      for (_ <- 1 to rnd.nextInt(8)) {
        val bit = rnd.nextInt(64)
        b(bit / 8) ^= (1 << (bit % 8))
      }
      if (hamming(a, b) <= 7)
        assert((0 until 8).exists(i => a(i) == b(i)),
          s"no shared band: ${a.toSeq} vs ${b.toSeq}")
    }
  }

  test("energyFingerprint: gain-invariant, deterministic, frame-localized") {
    def clip(gain: Int) = WavCodec.Clip(8000, 1,
      Array.tabulate[Short](320)(i => ((i % 37 - 18) * gain).toShort))
    val f1 = PerceptualHash.energyFingerprint(clip(10))
    assert(f1 == PerceptualHash.energyFingerprint(clip(10))) // deterministic
    assert(f1 == PerceptualHash.energyFingerprint(clip(20))) // 2x gain: same
    // zeroing ONE frame (20 samples of 16) flips only the adjacent
    // comparison bits -> hamming <= 2 from the original
    val s = clip(10).samples.clone()
    for (i <- 100 until 120) s(i) = 0
    val f2 = PerceptualHash.energyFingerprint(WavCodec.Clip(8000, 1, s))
    assert(Integer.bitCount(f1 ^ f2) <= 2 && f1 != f2)
  }

  test("round-trip: encode/decode preserves the hash (decoded-bytes path)") {
    val im = img(13, 11)((x, y) => (x * 7 + y * 31) % 256)
    val back = PpmCodec.decode(PpmCodec.encode(im)).get
    assert(PerceptualHash.dHash(back).sameElements(PerceptualHash.dHash(im)))
  }

  private def video(w: Int, h: Int, nf: Int)(luma: (Int, Int) => Int) = {
    val fb = w * h * 3 / 2
    Y4mCodec.Video(w, h, 10, 1, Vector.tabulate(nf) { f =>
      Array.tabulate[Byte](fb)(i =>
        (if (i < w * h) luma(f, i) else 128).toByte)
    })
  }

  test("videoFingerprint: brightness-invariant, deterministic, 24-bit") {
    def v(shift: Int) = video(8, 8, 3)((f, i) => (i * 3 + f * 11) % 200 + shift)
    val f1 = PerceptualHash.videoFingerprint(v(0))
    assert(f1 == PerceptualHash.videoFingerprint(v(0))) // deterministic
    assert(f1 == PerceptualHash.videoFingerprint(v(30))) // +30 brightness: same
    assert((f1 & ~((1 << 24) - 1)) == 0) // fits in 24 bits
    // a horizontal luma gradient on both frames sets all 24 comparison
    // bits; a constant plane sets none
    assert(PerceptualHash.videoFingerprint(
      video(8, 8, 2)((_, i) => (i % 8) * 30)) == (1 << 24) - 1)
    assert(PerceptualHash.videoFingerprint(
      video(8, 8, 2)((_, _) => 77)) == 0)
  }

  test("videoFingerprint: one perturbed sample flips at most two bits " +
    "and only frames 0-1 are sampled") {
    val base = video(8, 8, 4)((f, i) => (i * 5 + f * 7) % 256)
    val f1 = PerceptualHash.videoFingerprint(base)
    // flip one sampled luma byte of frame 1 (w=h=8 samples rows/cols
    // 0,2,4,6 — byte (row 2, col 2) is grid point gy=1,gx=1): a grid
    // point participates in at most the two adjacent comparisons
    val pert = video(8, 8, 4)((f, i) => (i * 5 + f * 7) % 256)
    pert.frames(1)(2 * 8 + 2) = 255.toByte
    val f2 = PerceptualHash.videoFingerprint(pert)
    assert(Integer.bitCount(f1 ^ f2) <= 2)
    // frames >= 2 never affect the fingerprint
    val tail = video(8, 8, 4)((f, i) =>
      if (f >= 2) 0 else (i * 5 + f * 7) % 256)
    assert(PerceptualHash.videoFingerprint(tail) == f1)
  }

  test("videoFingerprint round-trip: decode(encode) preserves it") {
    val v = video(10, 6, 2)((f, i) => (i * 13 + f * 101) % 256)
    val back = Y4mCodec.decode(Y4mCodec.encode(v)).get
    assert(PerceptualHash.videoFingerprint(back) ==
      PerceptualHash.videoFingerprint(v))
  }
}
