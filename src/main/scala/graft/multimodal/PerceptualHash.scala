package graft.multimodal

/** Perceptual image fingerprints over DECODED pixels — the image-side
  * near-duplicate signature (the visual analog of MinHash for text
  * dedup; cf. the reference's text-only dedup surface). dHash is the
  * classic difference hash: downsample to a 9×8 gray grid, emit one bit
  * per horizontally-adjacent comparison → 64 bits that survive
  * re-encoding, small crops, and brightness shifts.
  *
  * The hash is exposed as 8 per-row band BYTES rather than one packed
  * 64-bit value: bands are exactly what LSH-style candidate generation
  * joins on (two hashes within hamming distance 7 MUST share at least
  * one of 8 bands — pigeonhole), and keeping each band in 0..255 avoids
  * 64-bit sign pitfalls in SQL engines. All arithmetic is integer-exact
  * (floor downsample, integer-mean gray), so a SQL oracle replays the
  * hash bit-for-bit from the pixel formula.
  */
object PerceptualHash {

  /** 8 row-band bytes of the 64-bit dHash: gray(gy,gx) is the integer
    * mean of the RGB channels at source pixel `(gx*w/9, gy*h/8)` (floor
    * nearest-neighbor), and bit `gx` of band `gy` is set when
    * `gray(gy,gx+1) > gray(gy,gx)`. */
  def dHash(img: PpmCodec.Image): Array[Int] = {
    val g = Array.ofDim[Int](8, 9)
    var gy = 0
    while (gy < 8) {
      val sy = gy * img.height / 8
      var gx = 0
      while (gx < 9) {
        val sx = gx * img.width / 9
        g(gy)(gx) =
          (img.at(sx, sy, 0) + img.at(sx, sy, 1) + img.at(sx, sy, 2)) / 3
        gx += 1
      }
      gy += 1
    }
    Array.tabulate(8) { r =>
      var b = 0
      var gx = 0
      while (gx < 8) {
        if (g(r)(gx + 1) > g(r)(gx)) b |= (1 << gx)
        gx += 1
      }
      b
    }
  }

  /** Canonical 16-hex-char rendering of the 8 band bytes. */
  def hex(bands: Array[Int]): String = bands.map(b => f"$b%02x").mkString

  /** 15-bit energy-delta fingerprint of a DECODED audio clip — the
    * audio analog of [[dHash]] (a chromaprint-style sketch reduced to
    * what integer-exact SQL can replay): samples split into 16
    * equal frames (floor boundaries), bit `j` set when frame `j+1`'s
    * exact integer energy (Σ s², Long) exceeds frame `j`'s. Comparing
    * energies makes the fingerprint GAIN-INVARIANT (scaling every
    * sample scales every energy; comparisons are unchanged) and robust
    * to small edits localized in one frame. */
  def energyFingerprint(clip: WavCodec.Clip): Int = {
    val nFrames = 16
    val n = clip.samples.length
    val e = new Array[Long](nFrames)
    var j = 0
    while (j < nFrames) {
      var i = j * n / nFrames
      val end = (j + 1) * n / nFrames
      var s = 0L
      while (i < end) {
        val v = clip.samples(i).toLong
        s += v * v
        i += 1
      }
      e(j) = s
      j += 1
    }
    var f = 0
    var b = 0
    while (b < nFrames - 1) {
      if (e(b + 1) > e(b)) f |= (1 << b)
      b += 1
    }
    f
  }

  /** 24-bit spatio-temporal fingerprint of a DECODED video clip — the
    * video analog of [[dHash]]/[[energyFingerprint]], completing the
    * per-modality dedup-signature set. The first TWO frames (every
    * well-formed clip has at least two) each contribute 12 dHash-style
    * luma comparison bits on a point-sampled 4-row × 4-column grid:
    * bit `f*12 + gy*3 + gx` is set when the luma byte at row
    * `gy*h/4`, column `(gx+1)*w/4` exceeds the one at column
    * `gx*w/4` of frame `f`. Point sampling (floor nearest-neighbor,
    * no averaging) keeps every step integer-exact so a SQL oracle
    * replays the fingerprint bit-for-bit from the plane formula, and
    * comparisons (not absolute levels) make it brightness-shift
    * invariant, as dHash is. Two frames capture both layout and
    * motion: a clip re-encoded or gain-shifted keeps its fingerprint;
    * a different scene or different motion flips many bits. */
  def videoFingerprint(v: Y4mCodec.Video): Int = {
    var fp = 0
    var bit = 0
    var f = 0
    while (f < 2) {
      val plane = v.frames(f)
      var gy = 0
      while (gy < 4) {
        val row = (gy * v.height / 4) * v.width
        var gx = 0
        while (gx < 3) {
          val a = plane(row + gx * v.width / 4) & 0xff
          val b = plane(row + (gx + 1) * v.width / 4) & 0xff
          if (b > a) fp |= (1 << bit)
          bit += 1
          gx += 1
        }
        gy += 1
      }
      f += 1
    }
    fp
  }
}
