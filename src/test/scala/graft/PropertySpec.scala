package graft

import graft.parse.Parsers
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Property tests for the pure scalar transforms (SURVEY §5 implication:
  * ScalaCheck for P5, P9, P16, C5). Cases are generated with ScalaCheck
  * Gens under a fixed seed, evaluated in ONE DataFrame pass per property
  * (per-case Spark jobs would be prohibitively slow), and compared
  * against an independent Scala model. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val N = 300
  private def cases[A](g: Gen[A]): Seq[A] =
    (0 until N).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("P9 property: path form wins, all three forms parse, garbage -> null") {
    val datePart = for {
      y <- Gen.choose(1990, 2030); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    } yield (y, m, d)
    val keyGen = for {
      (y, m, d) <- datePart
      (y2, m2, d2) <- datePart
      form <- Gen.choose(0, 3)
    } yield {
      val path = f"raw_events/$y%04d/$m%02d/$d%02d/"
      val fname = f"event_data_$y2%04d-$m2%02d-$d2%02d_20250101_000000.json"
      form match {
        case 0 => (path + fname, Some(f"$y%04d-$m%02d-$d%02d")) // path wins
        case 1 => ("x/" + fname, Some(f"$y2%04d-$m2%02d-$d2%02d"))
        case 2 => (f"a/b_$y%04d$m%02d$d%02d" + "_120000.json",
          Some(f"$y%04d-$m%02d-$d%02d"))
        case _ => ("no/digits/here.json", None)
      }
    }
    val cs = cases(keyGen)
    val got = cs.map(_._1).toDF("key")
      .select(Parsers.extractDateFromKey($"key")).as[Option[String]].collect()
    cs.zip(got).foreach { case ((key, want), g) =>
      assert(g == want, s"key=$key")
    }
  }

  test("C5 property: TTL matches the tier model for any date distance") {
    val gen = Gen.choose(-400, 400)
    val cs = cases(gen)
    def model(diff: Int): Long =
      if (diff < 0) 604800L else if (diff == 0) 3600L
      else if (diff <= 7) 43200L else 86400L
    val today = java.time.LocalDate.of(2024, 6, 15)
    val got = cs.map(d => today.plusDays(d.toLong).toString).toDF("d")
      .select(Parsers.ttlSeconds(to_date($"d"), to_date(lit(today.toString))))
      .as[Long].collect()
    cs.zip(got).foreach { case (diff, g) => assert(g == model(diff), s"diff=$diff") }
  }

  test("P5 property: any h:mm am/pm round-trips; garbage defaults to 12:00am") {
    val timeGen = for {
      h <- Gen.choose(1, 12); m <- Gen.choose(0, 59)
      ap <- Gen.oneOf("am", "pm"); pad <- Gen.oneOf("", " ", "  ")
    } yield (f"$pad$h:$m%02d$ap$pad", h, m, ap)
    val cs = cases(timeGen)
    val got = cs.map(_._1).toDF("t")
      .select(date_format(
        Parsers.parsePerformanceTime(lit("2024-06-15"), $"t", "UTC"),
        "H:mm").as("r")).as[String].collect()
    cs.zip(got).foreach { case ((s, h, m, ap), g) =>
      val h24 = (h % 12) + (if (ap == "pm") 12 else 0)
      assert(g == f"$h24:$m%02d", s"in=$s")
    }
    val garbage = Seq("tonight", "25:99", "", "late").toDF("t")
      .select(date_format(
        Parsers.parsePerformanceTime(lit("2024-06-15"), $"t", "UTC"),
        "H:mm")).as[String].collect()
    garbage.foreach(g => assert(g == "0:00"))
  }

  test("ZOrder property: monotone per dimension for any dims/bits") {
    val gen = for {
      nd <- Gen.choose(2, 4)
      bits <- Gen.choose(1, 62 / nd)
      lo <- Gen.listOfN(nd, Gen.choose(0L, (1L << bits) - 1))
      hi <- lo.foldRight(Gen.const(List.empty[Long])) { (l, acc) =>
        for (t <- acc; v <- Gen.choose(l, (1L << bits) - 1)) yield v :: t
      }
    } yield (bits, lo, hi)
    cases(gen).foreach { case (bits, lo, hi) =>
      val zLo = graft.store.ZOrder.zvalueLong(bits, lo)
      val zHi = graft.store.ZOrder.zvalueLong(bits, hi)
      assert(zLo <= zHi, s"bits=$bits lo=$lo hi=$hi")
      assert(zLo >= 0 && zHi >= 0)
    }
  }

  test("CountMin property: estimate >= exact for any input multiset") {
    import org.apache.spark.unsafe.types.UTF8String
    val gen = for {
      n <- Gen.choose(0, 200)
      ws <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"t$i"))
      depth <- Gen.choose(1, 6)
      width <- Gen.choose(2, 64)
    } yield (ws, depth, width)
    cases(gen).foreach { case (ws, depth, width) =>
      val b = new graft.sketch.CmsBuffer(depth, width)
      ws.foreach(w => b.update(UTF8String.fromString(w), 1L))
      ws.groupBy(identity).foreach { case (w, occ) =>
        val est = b.query(UTF8String.fromString(w))
        assert(est >= occ.size, s"$w est=$est exact=${occ.size} d=$depth w=$width")
      }
    }
  }

  test("HLL union property: est(A∪B) via merge >= max(est side) and " +
       "self-union is identity") {
    import org.apache.spark.unsafe.types.UTF8String
    def sk(vals: Seq[String]): graft.sketch.HllBuffer = {
      val b = new graft.sketch.HllBuffer(9)
      vals.foreach(v => b.update(
        graft.text.RollingHash.hashToken(UTF8String.fromString(v))))
      b
    }
    val gen = for {
      a <- Gen.listOfN(100, Gen.choose(0, 5000).map(i => s"a$i"))
      b <- Gen.listOfN(100, Gen.choose(0, 5000).map(i => s"b$i"))
    } yield (a, b)
    cases(gen).take(50).foreach { case (as, bs) =>
      val (sa, sb) = (sk(as), sk(bs))
      val (ea, eb) = (sa.estimate, sb.estimate)
      val su = sk(as); su.mergeFrom(sb)
      assert(su.estimate >= math.max(ea, eb) ||
        // estimates are not strictly monotone at correction boundaries;
        // allow the documented ~5% band
        su.estimate >= (math.max(ea, eb) * 0.95).toLong)
      val self = sk(as); self.mergeFrom(sk(as))
      assert(self.estimate == ea)
    }
  }

  test("gopher repetition property: engine fractions equal a plain-Scala model") {
    // small alphabet forces heavy repetition; include empty/blank docs
    val docGen = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield ws.mkString(" ")
    val docs = cases(docGen).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val got = graft.text.TextFunctions.gopherRepetition(df, "text", "doc_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap

    def q4(num: Long, den: Long): Double =
      math.floor(num * 10000.0 / den + 0.5) / 10000.0
    def grams(ts: Seq[String], n: Int): Seq[String] =
      if (ts.length < n) Nil else ts.sliding(n).map(_.mkString(" ")).toSeq
    docs.foreach { case (id, text) =>
      val ts = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      if (ts.isEmpty) assert(!got.contains(id))
      else {
        val (nw, topw, top2, dup3) = got(id)
        assert(nw == ts.length.toLong)
        assert(topw == q4(ts.groupBy(identity).values.map(_.size).max, ts.length))
        val g2 = grams(ts, 2)
        val expTop2 = if (g2.isEmpty) 0.0
          else q4(g2.groupBy(identity).values.map(_.size).max, g2.length)
        assert(top2 == expTop2, s"doc $id top2 $top2 != $expTop2")
        val g3 = grams(ts, 3)
        val expDup3 = if (g3.isEmpty) 0.0
          else q4(g3.length - g3.distinct.length, g3.length)
        assert(dup3 == expDup3, s"doc $id dup3 $dup3 != $expDup3")
        Seq(topw, top2, dup3).foreach(f => assert(f >= 0.0 && f <= 1.0))
      }
    }
  }

  test("decontaminate property: flags exactly the docs sharing a 3-gram") {
    val docGen = for {
      n <- Gen.choose(0, 15)
      ws <- Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "v"))
    } yield ws.mkString(" ")
    val all = cases(docGen).take(120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val (bench0, corpus0) = all.partition(_._1 % 7 == 0)
    val corpus = corpus0.toDF("doc_id", "text")
    val bench = bench0.toDF("doc_id", "text")
    val got = graft.dedup.Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    def gramSet(t: String): Set[String] = {
      val ts = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      if (ts.length < 3) Set.empty
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val evalGrams = bench0.flatMap(d => gramSet(d._2)).toSet
    corpus0.foreach { case (id, text) =>
      val gs = gramSet(text)
      val hits = (gs intersect evalGrams).size.toLong
      if (hits == 0) assert(!got.contains(id), s"doc $id falsely flagged")
      else {
        val (nGrams, nHits) = got(id)
        assert(nGrams == gs.size.toLong && nHits == hits,
          s"doc $id: got ($nGrams, $nHits), expected (${gs.size}, $hits)")
        assert(nHits <= nGrams)
      }
    }
  }

  test("stutterCollapse property: idempotent, no adjacent equals, " +
      "equals a plain-Scala fold") {
    val wordGen = Gen.oneOf("a", "b", "the", "cat", "sat")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val texts = cases(textGen).distinct
    def model(t: String): String = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      toks.foldLeft(List.empty[String]) { (acc, w) =>
        if (acc.headOption.contains(w)) acc else w :: acc
      }.reverse.mkString(" ")
    }
    val got = texts.toDF("text")
      .select(col("text"),
        graft.text.TextFunctions.stutterCollapse(col("text")).as("c1"))
      .select(col("text"), col("c1"),
        graft.text.TextFunctions.stutterCollapse(col("c1")).as("c2"))
      .collect()
    got.foreach { r =>
      val (t, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == model(t), s"model mismatch for '$t': '$c1'")
      assert(c2 == c1, s"not idempotent for '$t': '$c1' -> '$c2'")
      val toks = c1.split(" ").filter(_.nonEmpty)
      toks.sliding(2).foreach { p =>
        if (p.length == 2) assert(p(0) != p(1), s"adjacent equal in '$c1'")
      }
    }
  }

  test("WavCodec property: arbitrary PCM16 clips round-trip byte-exactly") {
    import graft.multimodal.WavCodec
    val clipGen = for {
      rate <- Gen.choose(1, 192000)
      channels <- Gen.choose(1, 4)
      frames <- Gen.choose(0, 200)
      samples <- Gen.listOfN(frames * channels,
        Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield WavCodec.Clip(rate, channels, samples.map(_.toShort).toArray)
    cases(clipGen).foreach { c =>
      val back = WavCodec.decode(WavCodec.encode(c)).get
      assert(back.sampleRate == c.sampleRate && back.channels == c.channels)
      assert(back.samples.toSeq == c.samples.toSeq)
      // stats model: independent Scala fold over the samples
      val st = WavCodec.stats(c)
      assert(st.sumSquares == c.samples.map(s => s.toLong * s).sum)
      assert(st.peak == (if (c.samples.isEmpty) 0
        else c.samples.map(s => math.abs(s.toInt)).max))
      assert(st.clipped == c.samples.count(s => math.abs(s.toInt) >= 32767))
      assert(st.durationMs ==
        (c.samples.length / c.channels).toLong * 1000L / c.sampleRate)
    }
  }

  test("Y4mCodec property: arbitrary C420 clips round-trip byte-exactly") {
    import graft.multimodal.Y4mCodec
    val vidGen = for {
      w <- Gen.choose(1, 12).map(_ * 2)
      h <- Gen.choose(1, 12).map(_ * 2)
      fn <- Gen.choose(1, 120); fd <- Gen.choose(1, 4)
      nf <- Gen.choose(0, 6)
      frames <- Gen.listOfN(nf,
        Gen.listOfN(w * h * 3 / 2, Gen.choose(0, 255)))
    } yield Y4mCodec.Video(w, h, fn, fd,
      frames.map(_.map(_.toByte).toArray).toVector)
    cases(vidGen).foreach { v =>
      val back = Y4mCodec.decode(Y4mCodec.encode(v)).get
      assert(back.width == v.width && back.height == v.height &&
        back.fpsNum == v.fpsNum && back.fpsDen == v.fpsDen)
      assert(back.frames.size == v.frames.size)
      back.frames.zip(v.frames).foreach { case (a, b) =>
        assert(a.toSeq == b.toSeq)
      }
      // stats model
      val st = Y4mCodec.stats(v)
      val wh = v.width * v.height
      assert(st.lumaSum ==
        v.frames.map(_.take(wh).map(b => (b & 0xff).toLong).sum).sum)
      val motion = v.frames.sliding(2).collect { case Seq(p, c) =>
        (0 until wh).map(i => math.abs((c(i) & 0xff) - (p(i) & 0xff)).toLong).sum
      }.sum
      assert(st.motionSum == motion)
      assert(st.durationMs == v.frames.size.toLong * 1000L * v.fpsDen / v.fpsNum)
    }
  }

  test("offset-trick floor property: (a + K·b) div b − K == floorDiv " +
      "for either sign of a (the q262 negative-numerator contract)") {
    // div truncates toward zero in Spark AND DuckDB, so the engine
    // floors negative quotients via the constant offset; this pins the
    // identity against the JVM's floorDiv over both signs in one pass
    val gen = for {
      a <- Gen.choose(-2000000L, 2000000L)
      b <- Gen.choose(1L, 99999L)
    } yield (a, b)
    val rows = cases(gen)
    val got = rows.toDF("a", "b")
      .selectExpr("a", "b",
        "(cast(a as decimal(38,0)) + 100000000 * b) div b - 100000000 " +
          "as f")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == Math.floorDiv(a, b),
        s"floor($a / $b): got ${got((a, b))}")
    }
  }

  test("PngCodec property: arbitrary RGB images round-trip byte-exactly " +
      "through real zlib; RGBA round-trips modulo alpha") {
    import graft.multimodal.{PngCodec, PpmCodec}
    val imgGen = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 24) // > 5 rows exercises all five y%5 filters
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield PpmCodec.Image(w, h, px.map(_.toByte).toArray)
    cases(imgGen).foreach { img =>
      val enc = PngCodec.encode(img)
      assert(PngCodec.isPng(enc))
      val back = PngCodec.decode(enc).get
      assert(back.width == img.width && back.height == img.height)
      assert(back.rgb.toSeq == img.rgb.toSeq)
    }
    val rgbaGen = for {
      w <- Gen.choose(1, 16)
      h <- Gen.choose(1, 16)
      px <- Gen.listOfN(w * h * 4, Gen.choose(0, 255))
    } yield (w, h, px.map(_.toByte).toArray)
    cases(rgbaGen).foreach { case (w, h, rgba) =>
      val back = PngCodec.decode(PngCodec.encodeRgba(w, h, rgba)).get
      val want = (0 until w * h).flatMap(p =>
        Seq(rgba(p * 4), rgba(p * 4 + 1), rgba(p * 4 + 2)))
      assert(back.rgb.toSeq == want)
    }
  }

  test("context-window chunking property (q318): chunks cover the stream, " +
    "overlap by L-S, and stitch back losslessly") {
    // the q318 expression pipeline over arbitrary token streams,
    // checked against the HF-stride model: starts at 0,S,2S,… while
    // start < n; chunk k holds tokens [kS, min(kS+L, n)); dropping the
    // first L-S tokens of every chunk after the first reconstructs
    // the stream exactly
    val L = 32
    val S = 24
    val docGen = for {
      n <- Gen.choose(1, 200)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "d4", "e_5", "ß"))
    } yield toks
    val docs = cases(docGen).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) - lit(1)) / lit(S)).cast("int"))).as("k"))
      .select(col("doc_id"), col("k"),
        slice(col("t"), col("k") * S + 1,
          least(lit(L), size(col("t")) - col("k") * S)).as("chunk"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getSeq[String](2).toList).toList
      }
    cases(docGen).zipWithIndex.foreach { case (ts, i) =>
      val chunks = got(i.toLong)
      val starts = chunks.indices.map(_ * S)
      // model: every start < n, last start covers the tail
      assert(starts.last < ts.size && starts.last + L >= ts.size ||
        chunks.size == 1 && ts.size <= L)
      chunks.zip(starts).foreach { case (c, st) =>
        assert(c == ts.slice(st, math.min(st + L, ts.size)))
      }
      // lossless stitch: first chunk whole, then each chunk minus the
      // L-S overlap tokens it shares with its predecessor
      val stitched = chunks.head ++ chunks.tail.flatMap(_.drop(L - S))
      assert(stitched == ts, s"doc $i stitch mismatch")
    }
  }
}
