package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),     // exact dup of 1
    (3L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  "),   // case/trim dup of 1
    (4L, "the quick brown fox jumps over the sleepy dog"),   // near-dup
    (5L, "completely different words entirely here now ok"),
  ).toDF("doc_id", "text")

  test("exactGroups reports group sizes") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("survivor_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2))
    assert(g.toSeq == Seq(1L -> 3L, 4L -> 1L, 5L -> 1L))
  }

  test("ngram jaccard: identical docs 1.0, near-dups high, distinct absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.3, maxShingleFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 4L)) > 0.3 && pairs((1L, 4L)) < 1.0)
    assert(!pairs.contains((1L, 5L)))
  }

  test("transitive minhash clustering groups chained near-dups") {
    val chain = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (2L, "aa bb cc dd ee ff gg hh ii jj kk zz"),  // near 1
      (3L, "xx bb cc dd ee ff gg hh ii jj kk zz"),  // near 2, far from 1
      (4L, "totally different words in this one here now"),
    ).toDF("doc_id", "text")
    val out = Dedup.minhashClustersTransitive(chain, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L) && out(2L) == out(3L)) // chain fully merged
    assert(out(4L) != out(1L))
  }

  test("size guard: distributed closure path equals driver union-find") {
    // maxDriverEdges = 0 forces the Graph.connectedComponents route; the
    // two paths must agree cluster-for-cluster on the same input
    val chain = Seq(
      (1L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      (2L, "aa bb cc dd ee ff gg hh ii jj kk zz"),
      (3L, "xx bb cc dd ee ff gg hh ii jj kk zz"),
      (4L, "totally different words in this one here now"),
    ).toDF("doc_id", "text")
    val viaDriver = Dedup.minhashClustersTransitive(chain, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDistributed = Dedup.minhashClustersTransitive(chain, "text",
        "doc_id", maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaDistributed)
  }

  test("distributed closure equals union-find on a large synthetic edge set") {
    // 4 000 nodes, seeded-random edges plus a few long chains (deep
    // components stress the pointer-jumping); exact same (id, cluster_id)
    // map from both closure implementations
    val rnd = new scala.util.Random(42)
    val n = 4000L
    val randomEdges = (1 to 6000).map { _ =>
      (rnd.nextLong(n) + 1, rnd.nextLong(n) + 1)
    }
    val chains = (0 until 4).flatMap { c =>
      val base = c * 1000L + 1
      (0L until 200L).map(i => (base + i, base + i + 1))
    }
    val edges = (randomEdges ++ chains).toDF("id_a", "id_b")
    val ids = (1L to n).toDF("id")
    val uf = Dedup.unionFindClusters(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = graft.graph.Graph.connectedComponents(ids, edges, strict = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == cc)
  }

  test("simhash: identical docs same signature, near-dups close in Hamming") {
    val sig = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val hamming14 = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    val hamming15 = java.lang.Long.bitCount(sig(1L) ^ sig(5L))
    assert(hamming14 < hamming15)
  }

  test("incremental LSH candidates: batch probes the corpus index only") {
    val corpus = docs.filter(col("doc_id") <= 3)
    val batch = docs.filter(col("doc_id") >= 4)
    val cand = Dedup.minhashIncrementalCandidates(corpus, batch,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // near-dup doc 4 hits its corpus twins 1 and 2; distinct doc 5 hits none
    assert(cand.map(c => (c._1, c._2)).toSet == Set((4L, 1L), (4L, 2L)))
    assert(cand.forall(_._3 >= 1L))
    assert(!cand.exists(_._1 == 5L))
  }

  test("simhash banded pairs == brute-force pairs for hamming <= nBands-1") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),     // h = 0
      (3L, "the quick brown fox jumps over the sleepy dog"),   // small h
      (4L, "completely different words entirely here now ok"),
      (5L, "another unrelated document about spark and scala"),
      (6L, "the quick brown fox leaps over the lazy dog"),     // small h
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = Dedup.simhashHammingPairs(corpus, "text", "doc_id",
        maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    assert(banded.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
  }

  test("simhashHammingPairs rejects a threshold the banding cannot prove") {
    intercept[IllegalArgumentException] {
      Dedup.simhashHammingPairs(docs, "text", "doc_id",
        maxHamming = 4, nBands = 4)
    }
  }

  test("editNeighborPairs equals brute-force levenshtein<=1 within blocks") {
    val names = Seq(
      (1L, "smith", 0), (2L, "smyth", 0), (3L, "smiths", 0),  // sub / insert
      (4L, "mith", 0),                                        // delete
      (5L, "jones", 0), (6L, "smith", 1),                     // other block
      (7L, "smith", 0),                                       // exact dup
      (8L, "sximth", 0), (9L, "bob", 0), (10L, "rob", 0)
    ).toDF("id", "nm", "blk")
    val got = Dedup.editNeighborPairs(names, "nm", "id", "blk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force within block
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, na, ba) <- rows; (ib, nb, bb) <- rows
      if ia < ib && ba == bb && lev(na, nb) <= 1
    } yield (ia, ib, lev(na, nb).toLong)).toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("embedding near-dup pairs via cosine over blocked candidates") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "a"),
      (2L, Array(0.999f, 0.04f, 0.0f), "a"),
      (3L, Array(0.0f, 1.0f, 0.0f), "a"),
      (4L, Array(1.0f, 0.0f, 0.0f), "b"), // same vector, different block
    ).toDF("id", "emb", "blk")
    val pairs = Dedup.embeddingNearDupPairs(emb, "emb", "id", col("blk"), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L))) // 3 dissimilar; 4 blocked away
  }

  test("semanticDedup: lowest id survives per cell neighborhood; cross-cell near-dups not compared") {
    // two centroid cells on the x and y axes
    val cs = Array(0 -> Array(1.0f, 0.0f, 0.0f), 1 -> Array(0.0f, 1.0f, 0.0f))
    val emb = Seq(
      (10L, Array(1.0f, 0.00f, 0.0f)),  // cell 0, survivor
      (11L, Array(1.0f, 0.01f, 0.0f)),  // cell 0, near-dup of 10 → dropped
      (12L, Array(0.9f, 0.60f, 0.0f)),  // cell 0 (x-leaning), far from 10/11 at τ=0.99
      (20L, Array(0.0f, 1.0f, 0.0f)),   // cell 1, survivor
      (21L, Array(0.01f, 1.0f, 0.0f)),  // cell 1, near-dup of 20 → dropped
    ).toDF("id", "emb")
    val out = Dedup.semanticDedup(emb, "emb", "id", cs, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val kept = out.filter(_._3 == 1).map(_._1).toSet
    val cells = out.map(t => t._1 -> t._2).toMap
    assert(out.length == 5)
    assert(kept == Set(10L, 12L, 20L))
    assert(cells(12L) == 0L && cells(21L) == 1L)

    // the blocking tradeoff, pinned: an identical pair split across two
    // cells is never compared, so both survive
    val split = Seq(
      (30L, Array(1.0f, 1.0f, 0.0f)),
      (31L, Array(1.0f, 1.0f, 0.0f))).toDF("id", "emb")
    val cs2 = Array(0 -> Array(1.0f, 0.9f, 0.0f), 1 -> Array(0.9f, 1.0f, 0.0f))
    // 30 and 31 are equidistant; with identical vectors both land in the
    // SAME cell (deterministic lowest-cid tie-break) → one is dropped
    val both = Dedup.semanticDedup(split, "emb", "id", cs2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(both == Map(30L -> 1, 31L -> 0))
  }

  test("crossDocSpans finds exact maximal shared spans at any offset") {
    // docs 1 and 2 share a 60-char verbatim region at DIFFERENT offsets
    // (the case stride-sampling misses); doc 3 is unrelated. stride=1
    // guarantees detection with exact maximal boundaries.
    val shared = "A" * 10 + "shared-boilerplate-region-" + "B" * 24 // 60 chars
    val d = Seq(
      (1L, shared + "unique tail one xxxxxxxxxx"),
      (2L, "prefix-two " + shared + " and its own ending"),
      (3L, "c" * 80)).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(d, "text", "doc_id", window = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // both docs report exactly one merged span; doc 3 none
    assert(spans.map(_._1).sorted == List(1L, 2L))
    val s1 = spans.find(_._1 == 1L).get
    val s2 = spans.find(_._1 == 2L).get
    // doc 1's shared region spans chars 1..60 exactly
    assert(s1._2 == 1L && s1._3 == 60L)
    // doc 2's starts after its 11-char prefix: 12..71
    assert(s2._2 == 12L && s2._3 == 71L)
  }

  test("contaminationSpans flags only corpus text verbatim in the " +
      "benchmark; corpus-corpus dups never flag") {
    val leaked = "L" * 10 + "benchmark-answer-string-" + "M" * 26 // 60 chars
    val trainDup = "D" * 60 // shared between two TRAIN docs only
    val corpus = Seq(
      // continuation chars differ from the benchmark's so the true
      // shared region is exactly the 60-char `leaked`
      (1L, leaked + "Qplus training context xxxx"),
      (2L, trainDup + " one"),
      (3L, trainDup + " two"),
      (4L, "z" * 80)).toDF("doc_id", "text")
    val bench = Seq((100L, "intro " + leaked + "Zoutro"))
      .toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(corpus, bench, "text", "doc_id",
        window = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // ONLY doc 1 is contaminated — the train-train dup (2,3) must NOT
    // flag (that's crossDocSpans' job, not contamination's)
    assert(spans.map(_._1) == List(1L))
    assert(spans.head._2 == 1L && spans.head._3 == 60L) // maximal island
  }

  test("crossDocSpans keepFirst: owner doc keeps, higher ids flagged") {
    val shared = "shared-text-" * 5 // 60 chars
    val d = Seq(
      (1L, shared),
      (2L, shared),
      (3L, shared)).toDF("doc_id", "text")
    val out = Dedup.crossDocSpans(d, "text", "doc_id",
        window = 20, keepFirst = true)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L)) // doc 1 owns the text, nothing flagged
  }

  test("crossDocSpans: within-doc repeats alone never flag in detection") {
    val d = Seq(
      (1L, "repeat-me-" * 8), // 80 chars of self-repetition, one doc only
      (2L, "x" * 80)).toDF("doc_id", "text")
    val out = Dedup.crossDocSpans(d, "text", "doc_id", window = 20)
    assert(out.count() == 0L)
  }

  test("crossDocSpans: hashed shuffle key (default) equals substring key") {
    // the production shuffle carries xxhash64(win) — 8 bytes/occurrence
    // instead of `window` chars; identical output absent a 64-bit
    // collision. Gate both modes against each other on real corpus text.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def run(hashed: Boolean) =
      Dedup.crossDocSpans(docs, "text", "doc_id", window = 40,
          keepFirst = true, hashKey = hashed)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val hashedSpans = run(hashed = true)
    assert(hashedSpans == run(hashed = false))
    assert(hashedSpans.nonEmpty) // the corpus genuinely exercises the path
  }

  test("single-pass window hasher == xxhash64(substr) on multibyte text, " +
      "and lookupWindow still matches the expression hash") {
    // round 10 rewrote the hashed path as one O(bytes) walk per doc
    // (substr counts codepoints, so the expression path is O(len²) per
    // doc). The walk must produce BIT-IDENTICAL xxhash64 values on any
    // UTF-8 — pin it against the substring path on 2/3/4-byte
    // codepoints, combining marks and ASCII mixes.
    val emoji = new String(Character.toChars(0x1F600))
    val base = s"padding ${emoji}中文序列 Präzisionstext eàé${emoji} " +
      "shared-tail-0123456789-abcdefghijklmnopqrstuvwxyz"
    val docs = Seq(
      (1L, base + " unique-one"),
      (2L, base + " unique-two"),
      (3L, s"ascii only corpus line with the shared-tail-0123456789-" +
        s"abcdefghijklmnopqrstuvwxyz body"))
      .toDF("doc_id", "text")
    def run(hashed: Boolean) =
      Dedup.crossDocSpans(docs, "text", "doc_id", window = 12,
          keepFirst = false, hashKey = hashed)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val spans = run(hashed = true)
    assert(spans == run(hashed = false))
    assert(spans.nonEmpty)
    // the stored index rows come from the single-pass walk; the
    // xxhash64 EXPRESSION of a multibyte window must find its row
    val idx = java.nio.file.Files
      .createTempDirectory("graft-uniwin").toString + "/idx"
    Dedup.writeWindowFingerprints(docs, "text", "doc_id", idx, window = 12)
    val passage = base.substring(
      base.offsetByCodePoints(0, 8),
      base.offsetByCodePoints(0, 20))
    assert(passage.codePointCount(0, passage.length) == 12)
    val h = Seq(passage).toDF("t").select(xxhash64(col("t"))).head().getLong(0)
    assert(spark.read.parquet(idx).filter(col("win_hash") === h).count() == 1L)
  }

  test("incremental ExactSubstr: stored fingerprints == full keep-first " +
      "run restricted to the batch (monotone ids)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-fp-spec").toString + "/idx"
    Dedup.writeWindowFingerprints(corpus, "text", "doc_id", idx)
    def spanSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val incr = spanSet(
      Dedup.crossDocSpansIncremental(spark, idx, batch, "text", "doc_id"))
    val full = spanSet(
      Dedup.crossDocSpans(docs, "text", "doc_id", keepFirst = true)
        .filter(col("doc_id") >= 250))
    assert(incr == full)
    assert(incr.nonEmpty)
  }

  /** Append a batch's (doc_id, text) window fingerprints to the index. */
  private def appendFingerprints(batch: org.apache.spark.sql.DataFrame,
                                 idx: String, window: Int = 40): Unit =
    Dedup.appendWindowFingerprintStats(
      Dedup.batchWindowStats(batch, "text", "doc_id", window), idx, window)

  /** The stored fingerprints, min-merged across appended generations:
    * (win_hash, min_did). */
  private def fingerprints(path: String) = spark.read.parquet(path)
    .groupBy("win_hash").agg(min(col("min_did")).as("min_did"))

  test("incremental ExactSubstr: appended generations min-merge; " +
      "batch-internal sharing flags only the later doc") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-fp-spec2").toString + "/idx"
    val g1 = Seq((1L, "A" * 60)).toDF("doc_id", "text")
    val g2 = Seq((2L, "B" * 60)).toDF("doc_id", "text")
    Dedup.writeWindowFingerprints(g1, "text", "doc_id", idx, window = 20)
    appendFingerprints(g2, idx, window = 20)
    // batch: doc 10 repeats g2's text (indexed via append → flagged);
    // docs 11/12 share NEW text the corpus lacks → only 12 flagged;
    // doc 13 is unique → clean
    val batch = Seq(
      (10L, "B" * 60),
      (11L, "fresh-shared-text-" * 3),
      (12L, "fresh-shared-text-" * 3),
      (13L, "z" * 60)).toDF("doc_id", "text")
    val out = Dedup.crossDocSpansIncremental(spark, idx, batch,
        "text", "doc_id", window = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet == Set(10L, 12L))
    assert(out.find(_._1 == 10L).get == ((10L, 1L, 60L))) // whole doc
    // fingerprint reader min-merges across the two generations
    val fp = fingerprints(idx)
    assert(fp.filter(col("min_did") === 1L).count() > 0)
    assert(fp.filter(col("min_did") === 2L).count() > 0)
    assert(fp.groupBy("win_hash").count()
      .filter(col("count") > 1).count() == 0L)
    // a second append duplicates hashes physically; the reader's
    // min-merge keeps the logical fingerprints, probes still flag doc 10
    val before = fp.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    appendFingerprints(batch, idx, window = 20)
    assert(spark.read.parquet(idx).count() >
      spark.read.parquet(idx).select("win_hash").distinct().count())
    val merged = fingerprints(idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // old hashes keep their old owners (batch ids are higher), and the
    // batch's novel windows joined the set
    assert(before.subsetOf(merged) && merged.size > before.size)
    assert(Dedup.crossDocSpansIncremental(spark, idx,
        Seq((999L, "B" * 60)).toDF("doc_id", "text"),
        "text", "doc_id", window = 20)
      .count() > 0L)
  }

  test("doc-grain incremental probe == span probe's distinct doc set; " +
      "pairs-derived stats == text-scanning stats") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-fp-docgrain").toString + "/idx"
    // two generations so the index holds DUPLICATE hashes across
    // appends — the doc-grain probe skips the index-side distinct and
    // must still match
    Dedup.writeWindowFingerprints(docs.filter(col("doc_id") < 150),
      "text", "doc_id", idx)
    appendFingerprints(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 250), idx)
    val batch = docs.filter(col("doc_id") >= 250)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaSpans = ids(Dedup.crossDocSpansIncremental(spark, idx, batch,
      "text", "doc_id").select("doc_id").distinct())
    assert(ids(Dedup.dupDocIdsIncremental(spark, idx, batch,
      "text", "doc_id")) == viaSpans)
    // the funnel shape: one persisted pairs frame feeds probe AND stats
    val pairs = Dedup.windowDocPairs(batch, "text", "doc_id")
    assert(ids(Dedup.dupDocIdsIncremental(spark, idx, batch,
      "text", "doc_id", pairs = Some(pairs),
      stats = Some(Dedup.batchWindowStatsFromPairs(pairs)))) == viaSpans)
    assert(viaSpans.nonEmpty)
    def statRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference built from the EXPRESSION path (sequence + substr +
    // xxhash64, occurrence grain — the oracle's plan), so the pairs
    // form is pinned against an independent implementation
    val ref = batch.filter(length(col("text")) >= 40)
      .select(col("doc_id").cast("long").as("_did"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("_p"),
        col("text"))
      .select(col("_did"),
        xxhash64(col("text").substr(col("_p"), lit(40))).as("win_hash"))
      .groupBy("win_hash").agg(min(col("_did")).as("min_did"))
    assert(statRows(Dedup.batchWindowStatsFromPairs(pairs)) ==
      statRows(ref))
    assert(statRows(Dedup.batchWindowStats(batch, "text", "doc_id")) ==
      statRows(ref))
  }

  test("contaminatedDocIds == decontaminate's flagged doc set") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val viaCounts = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaSemi = Dedup.contaminatedDocIds(corpus,
        Dedup.gramSet(bench, "text"), "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaSemi == viaCounts && viaSemi.nonEmpty)
  }

  test("exciseSpans stitches kept segments; no-span docs pass through") {
    val shared = "Z" * 30
    val d = Seq(
      (1L, shared + "-one-tail"),
      (2L, "two-head-" + shared + "-two-tail"),
      (3L, "untouched document text here")).toDF("doc_id", "text")
    val spans = Dedup.crossDocSpans(d, "text", "doc_id",
      window = 20, keepFirst = true)
    val out = Dedup.exciseSpans(d, "text", "doc_id", spans)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == shared + "-one-tail") // doc 1 owns the share
    // the shared MAXIMAL span is the Z-run plus the "-" both docs
    // continue it with, so the excision eats that "-" too
    assert(out(2L) == "two-head-two-tail")
    assert(out(3L) == "untouched document text here")
  }

  test("exciseSpans handles a fully-removed doc and multiple spans") {
    val a = "A" * 25
    val b = "B" * 25
    val d = Seq(
      (1L, a + b),
      (2L, a + b), // entire doc duplicated → cleaned to ""
      (3L, a + "-mid-" + b)).toDF("doc_id", "text") // two disjoint spans
    val spans = Dedup.crossDocSpans(d, "text", "doc_id",
      window = 20, keepFirst = true)
    val out = Dedup.exciseSpans(d, "text", "doc_id", spans)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == a + b)
    assert(out(2L) == "")
    assert(out(3L) == "-mid-")
  }

  test("decontaminate: flags corpus docs sharing a distinct 3-gram with the benchmark") {
    val corpus = Seq(
      (1L, "a b c d e"),            // grams abc bcd cde; cde leaks
      (2L, "x y z w"),              // no overlap -> absent
      (3L, "c d e c d e c d e"),    // dup gram counted once per doc
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "c d e f g")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 1L, 0.3333)))
    assert(out(3L) == ((3L, 1L, 0.3333)))
    assert(!out.contains(2L))
  }

  test("crossSplitLeakage: planted cross-split dup found, verified, oriented") {
    val d = Seq(
      // train side (is_test = false)
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      // test side: 10 is an exact dup of train doc 1; 11 is unrelated
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "unrelated content about entirely different things here now"),
      // 12/13: a WITHIN-test dup pair — must never appear in the audit
      (12L, "red orange yellow green blue indigo violet pink brown black"),
      (13L, "red orange yellow green blue indigo violet pink brown black"),
    ).toDF("doc_id", "text").withColumn("is_test", col("doc_id") >= 10)
    val out = Dedup.crossSplitLeakage(d, "text", "doc_id", "is_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((10L, 1L, 1.0))) // exact dup: jaccard 1.0,
    // oriented test->train, and neither 11 (clean) nor 12/13
    // (within-split dup) are reported
  }

  test("fingerprint index records window/stride; mismatched probes and " +
      "appends fail loudly instead of returning silently-empty spans") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-fp-meta").toString + "/idx"
    val g1 = Seq((1L, "A" * 60)).toDF("doc_id", "text")
    Dedup.writeWindowFingerprints(g1, "text", "doc_id", idx, window = 20)
    assert(Dedup.readFpMeta(spark, idx).contains((20, 1, 64)))
    val batch = Seq((10L, "A" * 60)).toDF("doc_id", "text")
    // matching probe works; a mismatched window throws
    assert(Dedup.crossDocSpansIncremental(spark, idx, batch,
      "text", "doc_id", window = 20).count() > 0)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.crossDocSpansIncremental(spark, idx, batch,
        "text", "doc_id", window = 40)
    }
    assert(e1.getMessage.contains("window=20"))
    intercept[IllegalArgumentException] {
      Dedup.dupDocIdsIncremental(spark, idx, batch,
        "text", "doc_id", window = 40)
    }
    intercept[IllegalArgumentException] {
      appendFingerprints(batch, idx, window = 40)
    }
    // an append with a different BUCKET count must throw too: old rows
    // sit in pmod(hash, 64) directories, and re-stamping nBuckets=8
    // would make pruned lookups silently miss them
    val eNb = intercept[IllegalArgumentException] {
      Dedup.appendWindowFingerprintStats(
        Dedup.batchWindowStats(batch, "text", "doc_id", 20), idx,
        window = 20, nBuckets = 8)
    }
    assert(eNb.getMessage.contains("nBuckets=8"))
    assert(Dedup.readFpMeta(spark, idx).contains((20, 1, 64))) // unstamped
  }
}
