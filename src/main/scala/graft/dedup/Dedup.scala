package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each designed as
  * a shuffle-on-key plan that survives 100 TB:
  *
  *  - exact: content-hash groupBy (one shuffle on the 128-bit hash, never
  *    on the text itself — keys are fixed-width, skew-free);
  *  - n-gram Jaccard: shingle-explode + candidate-pair join + pair-level
  *    agg (shuffles on shingle then pair; frequent-shingle cap bounds
  *    the quadratic blowup);
  *  - MinHash+LSH: signature per doc (map-side), band-bucket explode,
  *    groupBy bucket (shuffle on 32-bit bucket ids only);
  *  - SimHash: 64-bit signature per doc, map-side only;
  *  - embedding near-dup: cosine over LSH-bucketed candidates.
  */
object Dedup {

  /** Exact-dup groups: hash → survivor id + group size (diagnostics). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", md5(lower(trim(col(textCol)))))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("group_size"))

  /** N-gram Jaccard near-dup pairs.
    *
    * Candidate generation: explode distinct n-word shingles, self-join on
    * shingle, count shared shingles per (a,b) pair; Jaccard from the
    * per-doc distinct-shingle counts. `maxShingleFreq` drops shingles
    * shared by too many docs (stopword-shingle skew guard — at scale this
    * is the difference between a bounded join and a quadratic one).
    */
  /** Distinct 64-bit FNV-1a shingle hashes per document in ONE primitive
    * JVM pass (tokenize → slide → hash → dedup). Replaces the
    * `array_distinct(transform(...))` expression tree, whose higher-order
    * functions are interpreted (CodegenFallback) — measured ~3× slower —
    * and shrinks the downstream shuffle key from a ~n-word string to 8
    * bytes. Hash collisions could only merge two distinct shingles
    * (2^-64-scale probability; cost = one spurious candidate pair, never
    * a crash), the standard shingle-hashing trade every MinHash paper
    * makes. */
  private def shingleHashesUdf(n: Int) = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else {
      val toks = text.trim.split("\\s+")
      if (toks.length < n) Array.empty[Long]
      else {
        val seen = new java.util.HashSet[java.lang.Long]()
        val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          val h = graft.text.RollingHash.hashToken(
            org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
          if (seen.add(h)) out += h
          i += 1
        }
        out.toArray
      }
    }
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleFreq: Int = 1000): DataFrame = {
    val shArr = df
      .select(col(idCol).as("id"),
        shingleHashesUdf(n)(col(textCol)).as("sh_arr"))
      .cache()
    // per-doc sizes come from the array length MAP-SIDE — no groupBy over
    // the exploded shingles needed
    val docSizes = shArr.select(col("id"),
      size(col("sh_arr")).cast("long").as("n_shingles"))
    val sh = shArr.select(col("id"), explode(col("sh_arr")).as("shingle"))

    // candidate pairs: ONE shuffle on shingle (groupBy + collect sorted
    // doc list), then map-side pair generation — instead of a self-join,
    // which would shuffle the exploded frame twice more. The size cap is
    // the same doc-frequency cut a window-count filter would apply, and
    // doubles as the skew guard for stopword-like shingles.
    val docLists = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleFreq))
    val pairs = docLists.select(explode(pairCombinations(col("ids"))).as("p"))
      .groupBy(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .agg(count(lit(1)).as("inter"))

    pairs
      .join(broadcast(docSizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "size_a")), "id_a")
      .join(broadcast(docSizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "size_b")), "id_b")
      // exact integer ratio: quantize via floor(num*1e4/den + 0.5)/1e4 —
      // round() resolves true 4dp decimal ties differently per engine
      // (Spark: decimal shortest-repr HALF_UP; DuckDB: binary double)
      .withColumn("jaccard",
        floor(col("inter") * lit(10000L) /
            (col("size_a") + col("size_b") - col("inter")) + lit(0.5d))
          / lit(10000d))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** All ordered (a,b) pairs, a<b, from a SORTED id-array column — the
    * map-side pair generator shared by the shingle-join and LSH-bucket
    * candidate paths. Generating pairs from one grouped list costs ONE
    * shuffle (the groupBy); a self-join on the exploded frame would
    * shuffle it twice more. A primitive UDF (one JVM call per group)
    * rather than nested `transform`/`slice` lambdas: higher-order
    * functions are interpreted (CodegenFallback), and expanding ~1M pairs
    * through them measured ~1 s at sf0.1 vs ~0.1 s here. */
  private val pairCombinations = udf { (ids: Seq[Long]) =>
    val n = ids.size
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      math.max(n * (n - 1) / 2, 1))
    var i = 0
    while (i < n) {
      val a = ids(i)
      var j = i + 1
      while (j < n) { out += ((a, ids(j))); j += 1 }
      i += 1
    }
    out.toSeq
  }

  /** Candidate pairs from any (key, id) co-occurrence frame: group by
    * key (ONE shuffle), map-side pair expansion, count shared keys per
    * pair. `maxIdsPerKey` is the boilerplate/skew guard — a key shared
    * by half the corpus is an n² bomb and carries no dedup signal.
    * Duplicate (key, id) rows are collapsed first, so each shared key
    * counts once per pair. */
  def sharedKeyPairs(df: DataFrame, keyCol: String, idCol: String,
                     maxIdsPerKey: Int): DataFrame = {
    val lists = df.select(col(keyCol).as("k"), col(idCol).as("id"))
      .distinct()
      .groupBy("k")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxIdsPerKey))
    lists.select(explode(pairCombinations(col("ids"))).as("p"))
      .groupBy(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Edit-distance-1 candidate pairs via the symmetric-delete
    * (SymSpell) neighborhood: every string shares a member of
    * `{s} ∪ deletes1(s)` with each string at edit distance ≤ 1 — an
    * EXACT blocking (substitution deletes the same position from both;
    * an indel's longer side deletes the inserted char), with false
    * positives removed by one bounded `levenshtein(a, b, 1)` per
    * candidate. Replaces the blocked n² scan: n·(len+1) variant rows,
    * one shuffle on (block, variant), candidate pairs ≪ n².
    * A cap of 1000 ids per key guards degenerate variants (single-char
    * names). */
  def editNeighborPairs(df: DataFrame, nameCol: String, idCol: String,
                        blockCol: String): DataFrame = {
    val names = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(nameCol).as("nm"))
    val variants = names
      .withColumn("del_pos",
        explode(sequence(lit(0), length(col("nm")))))
      .withColumn("variant",
        when(col("del_pos") === 0, col("nm"))
          .otherwise(concat(
            expr("substring(nm, 1, del_pos - 1)"),
            expr("substring(nm, del_pos + 1, 2147483647)"))))
      .select(concat_ws("\u0001", col("blk"), col("variant")).as("k"),
        col("id"))
    val cands = sharedKeyPairs(variants, "k", "id", 1000)
      .select("id_a", "id_b")
    cands
      .join(names.select(col("id").as("id_a"), col("nm").as("nm_a")), "id_a")
      .join(names.select(col("id").as("id_b"), col("nm").as("nm_b")), "id_b")
      .withColumn("dist", levenshtein(col("nm_a"), col("nm_b"), 1))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  // --- MinHash + LSH ---

  /** The MinHash shape of every clustering, leakage and incremental
    * probe (the oracle SQL hardcodes the same): 3-word shingles, 64
    * permutations, bands of 4 rows. */
  private val ShingleN = 3
  private val NumHashes = 64
  private val RowsPerBand = 4

  private val Prime = 2038074743L // large 31-bit prime for affine permutations

  /** Per-doc MinHash signature over word-shingle hashes.
    * 64 affine permutations h_i(x) = (a_i·x + b_i) mod P of a
    * 64-bit FNV-1a base hash — all map-side, no shuffle.
    *
    * The permutation constants are CLOSED-FORM (multiplicative spreads of
    * the permutation index), not RNG-drawn, so the whole signature is
    * reproducible in plain SQL for the DuckDB oracle.
    *
    * Implemented as a single primitive-loop UDF rather than nested
    * `transform`/`array_min` lambdas: higher-order functions are
    * interpreted (CodegenFallback), and the 64×|shingles| inner loop in
    * boxed expression space measured ~10× slower than this one JVM call
    * per document. */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // locals, so the UDF closure captures two ints, not the object
    val n = ShingleN
    val numHashes = NumHashes
    val as = Array.tabulate(numHashes)(j =>
      1L + java.lang.Math.floorMod((j + 1) * 2654435761L, Prime - 1))
    val bs = Array.tabulate(numHashes)(j =>
      java.lang.Math.floorMod((j + 1) * 1099511628211L, Prime))
    val p = Prime
    // Raw-text input (tokenize in the same JVM pass) and NO distinct-set:
    // a duplicate shingle re-minimizes to the same values, so dedup work
    // is pure overhead for a min-aggregate.
    val sigUdf = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.trim.split("\\s+")
        if (toks.length < n) null
        else {
          val sig = Array.fill(numHashes)(Long.MaxValue)
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i <= toks.length - n) {
            sb.setLength(0)
            var k = 0
            while (k < n) {
              if (k > 0) sb.append(' ')
              sb.append(toks(i + k)); k += 1
            }
            val h = java.lang.Math.floorMod(
              graft.text.RollingHash.hashToken(
                org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)), p)
            var j = 0
            while (j < numHashes) {
              val v = java.lang.Math.floorMod(as(j) * h + bs(j), p)
              if (v < sig(j)) sig(j) = v
              j += 1
            }
            i += 1
          }
          sig
        }
      }
    }
    df.withColumn("minhash_sig", sigUdf(col(textCol)))
  }

  /** LSH banding: split the signature into 16 bands of 4 rows; the
    * band's value-tuple (joined as a string) is the bucket key. Docs
    * sharing any (band, bucket) are candidates. Returns
    * (id, band, bucket) — the exploded index.
    *
    * The bucket key is the exact tuple string, not a 64-bit hash of it:
    * zero false bucket collisions and byte-identical to the SQL oracle's
    * `array_to_string`. The key is ~40 bytes instead of 8 — at 100 TB one
    * would wrap it in xxhash64 before the shuffle (collisions only cost
    * extra candidate pairs, never correctness). */
  def lshBuckets(sigDf: DataFrame, idCol: String): DataFrame = {
    val numBands = NumHashes / RowsPerBand
    val bands = transform(sequence(lit(0), lit(numBands - 1)), b =>
      struct(b.as("band"),
        concat_ws(",",
          slice(col("minhash_sig"), b * RowsPerBand + 1, lit(RowsPerBand))).as("bucket")))
    sigDf.filter(col("minhash_sig").isNotNull)
      .select(col(idCol).as("id"), explode(bands).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Exact connected components via driver-side union-find over a
    * COLLECTED edge list. The LSH candidate-edge set is orders of
    * magnitude smaller than the corpus (only near-dups produce edges), so
    * even at 100 TB it usually fits on the driver; callers that cannot
    * assume that must size-guard, as [[minhashClustersTransitive]] does
    * (count first, route big edge sets through
    * [[graft.graph.Graph.connectedComponents]]). Exact closure, no
    * iteration cap, no per-iteration plan codegen. */
  def unionFindClusters(ids: DataFrame, edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.select(col("id_a"), col("id_b")).collect()
      .foreach(r => union(r.getLong(0), r.getLong(1)))
    val spark = ids.sparkSession
    val mapping = parent.keys.map(k => (k, find(k))).toSeq
    if (mapping.isEmpty) return ids.withColumn("cluster_id", col("id"))
    val mapDf = spark.createDataFrame(mapping).toDF("id", "root")
    ids.join(broadcast(mapDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** MinHash-LSH dedup with FULL transitive closure: candidate pairs from
    * shared buckets, then exact closure on the edge set.
    *
    * The closure is SIZE-GUARDED: the candidate-edge count is measured
    * first (the edge set is persisted, so the probe costs one count over
    * already-materialized partitions). At or below `maxDriverEdges` the
    * exact driver-side union-find runs (edges ≪ corpus for typical LSH
    * candidate graphs — no iteration cap, no superstep jobs); above it —
    * a near-dup-heavy crawl corpus at 100 TB can emit billions of
    * candidate edges — the closure routes through the fully-distributed
    * pointer-jumping [[graft.graph.Graph.connectedComponents]] (strict:
    * non-convergence throws rather than returning non-fixpoint labels).
    * Both paths compute the same exact transitive closure. */
  def minhashClustersTransitive(df: DataFrame, textCol: String, idCol: String,
                                maxDriverEdges: Long = 2000000L): DataFrame = {
    val sig = minhashSignature(df, textCol, idCol)
    val buckets = lshBuckets(sig, idCol)
    // candidate pairs map-side from each bucket's sorted doc list: ONE
    // shuffle on (band, bucket) — a bucket self-join would shuffle the
    // exploded index twice more and recompute the signature per side
    val docLists = buckets.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val pairs = docLists.select(explode(pairCombinations(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b")).distinct()
      .persist()
    try {
      val ids = df.select(col(idCol).as("id")).distinct()
      if (pairs.count() <= maxDriverEdges) unionFindClusters(ids, pairs)
      else graft.graph.Graph.connectedComponents(ids, pairs,
        maxIter = 20, strict = true)
    } finally pairs.unpersist()
  }

  /** SimHash: 64-bit signature — sum per-bit ±1 votes of token hashes
    * (FNV-1a 64, same primitive as [[graft.text.RollingHash]], so the
    * oracle can replay it in SQL), sign → bit. Near-dups = small Hamming
    * distance. One primitive-loop UDF per document: entirely map-side, no
    * explode/shuffle — at 100 TB this is a single narrow pass. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val simUdf = udf { (toks: Seq[String]) =>
      val votes = new Array[Int](64)
      if (toks != null) toks.foreach { t =>
        val h = graft.text.RollingHash.hashToken(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            if (t == null) "" else t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    df.select(col(idCol).as("id"),
      simUdf(split(trim(col(textCol)), "\\s+")).as("simhash"))
  }

  /** Cross-split contamination audit: test-side documents whose
    * near-duplicate sits on the TRAIN side of a split — the leak a
    * random or temporal train/eval split inherits from duplicated web
    * content (dedup-then-split prevents it; this measures what a given
    * split actually leaks). Candidates come from MinHash-LSH buckets
    * restricted to CROSS-split (train, test) co-occupancy — never
    * within-split pairs, so the candidate count is bounded by
    * Σ_bucket |bucket∩train|·|bucket∩test|, a strict subset of the
    * full LSH candidate set. Each candidate is then VERIFIED with the
    * exact n-gram Jaccard over the hashed shingle sets (array
    * intersection at pair grain — no shingle-key shuffle; the shingle
    * arrays ride the candidate join), so LSH false positives never
    * reach the metric. Returns verified (test_id, train_id, jaccard)
    * pairs with jaccard ≥ 0.5; jaccard is the engine-portable floor(x·1e4+0.5)/1e4
    * quantization.
    *
    * At 100 TB: signatures/buckets for the train side are the same
    * precomputed index [[minhashIncrementalCandidates]] probes; docs
    * shorter than 3 tokens have no signature and exit the audit (they
    * carry no shingle evidence either way). A degenerate bucket flooded
    * by one template (identical sigs) costs |train|·|test| of THAT
    * bucket — apply a doc-frequency cap upstream if the corpus is
    * template-heavy (the [[sharedKeyPairs]] guard). */
  def crossSplitLeakage(df: DataFrame, textCol: String, idCol: String,
                        testCol: String): DataFrame = {
    val buckets = lshBuckets(minhashSignature(df, textCol, idCol), idCol)
    val flags = df.select(col(idCol).as("id"),
      col(testCol).cast("boolean").as("is_test"))
    val b2 = buckets.join(flags, Seq("id"))
    val cand = b2.filter(!col("is_test"))
      .select(col("band"), col("bucket"), col("id").as("train_id"))
      .join(b2.filter(col("is_test"))
        .select(col("band"), col("bucket"), col("id").as("test_id")),
        Seq("band", "bucket"))
      .select(col("test_id"), col("train_id")).distinct()
    val shingles = df.select(col(idCol).as("id"),
      shingleHashesUdf(ShingleN)(col(textCol)).as("sh"))
    cand
      .join(shingles.select(col("id").as("test_id"), col("sh").as("sh_t")),
        Seq("test_id"))
      .join(shingles.select(col("id").as("train_id"), col("sh").as("sh_r")),
        Seq("train_id"))
      .withColumn("inter",
        size(array_intersect(col("sh_t"), col("sh_r"))).cast("long"))
      .withColumn("jaccard",
        floor(col("inter") * lit(10000L) /
            (size(col("sh_t")) + size(col("sh_r")) - col("inter")) +
          lit(0.5d)) / lit(10000d))
      .filter(col("jaccard") >= 0.5)
      .select(col("test_id"), col("train_id"), col("jaccard"))
  }

  /** Incremental dedup: candidate near-dup pairs of a NEW batch against
    * an EXISTING corpus via shared MinHash-LSH buckets — the per-crawl
    * shape of a production dedup stage (the global q23 clustering runs
    * once; every subsequent ingest only probes the index). Both sides
    * shuffle once on (band, bucket); the output count of shared bands is
    * a Jaccard-monotone integer score (b/16 bands agreeing ≈ s^4 ≥ ...),
    * so downstream can threshold without floats.
    *
    * At 100 TB the corpus-side signatures/buckets are PRECOMPUTED and
    * stored (8 ints per doc per band); only the new batch pays the
    * signature pass. */
  def minhashIncrementalCandidates(corpus: DataFrame, batch: DataFrame,
                                   textCol: String, idCol: String): DataFrame = {
    val bktOld = lshBuckets(minhashSignature(corpus, textCol, idCol), idCol)
      .withColumnRenamed("id", "id_old")
    val bktNew = lshBuckets(minhashSignature(batch, textCol, idCol), idCol)
      .withColumnRenamed("id", "id_new")
    bktNew.join(bktOld, Seq("band", "bucket"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("n_bands_shared"))
  }

  /** SimHash near-dup pairs within `maxHamming` bit flips, found WITHOUT a
    * cross product: split each 64-bit signature into `nBands` contiguous
    * chunks; by pigeonhole, any pair within distance `nBands - 1` agrees
    * on at least one whole chunk, so candidates come from an equi-group on
    * (band, chunk). One shuffle on the chunk key, map-side pair expansion
    * from each bucket's sorted member list (same single-shuffle shape as
    * the LSH path), then an exact popcount(xor) filter over the — tiny —
    * candidate set. At 100 TB the bucket lists are bounded by true
    * near-dup density, not corpus size.
    *
    * Exactness: blocked result == brute-force O(n²) result for
    * maxHamming ≤ nBands - 1 (enforced). */
  def simhashHammingPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3, nBands: Int = 4): DataFrame = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxHamming < nBands,
      s"pigeonhole guarantee needs maxHamming < nBands ($maxHamming >= $nBands)")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sig = simhash(df, textCol, idCol)
    val bands = sig.select(col("id"), col("simhash"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * width)
            .bitwiseAND(lit(mask)).as("chunk"))
      }: _*)).as("bc"))
      .select(struct(col("id"), col("simhash")).as("m"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val buckets = bands.groupBy("band", "chunk")
      .agg(array_sort(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) >= 2)
    val cand = buckets
      .select(explode(sigPairCombinations(col("ms"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("p._3").as("sig_a"), col("p._4").as("sig_b"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Pair generator over (id, sig) members sorted by id — carries both
    * signatures through so no join back is needed. Primitive loop for the
    * same codegen reasons as [[pairCombinations]]. */
  private val sigPairCombinations = udf { (ms: Seq[org.apache.spark.sql.Row]) =>
    val n = ms.size
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)](
      math.max(n * (n - 1) / 2, 1))
    var i = 0
    while (i < n) {
      val (ia, sa) = (ms(i).getLong(0), ms(i).getLong(1))
      var j = i + 1
      while (j < n) { out += ((ia, ms(j).getLong(0), sa, ms(j).getLong(1))); j += 1 }
      i += 1
    }
    out.toSeq
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold, candidates
    * restricted by a blocking column (label or LSH bucket) to keep the
    * pair space linear-ish at scale. */
  def embeddingNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                            blockCol: Column, threshold: Double): DataFrame = {
    import graft.vector.VectorFunctions.cosine_sim
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"), blockCol.as("blk"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"), blockCol.as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine_sim(col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-shape semantic dedup (cluster-blocked embedding pruning):
    * assign every vector to its nearest centroid cell, pairwise-compare
    * ONLY within a cell, survivor = the lowest id of each near-dup
    * neighborhood (a vector is dropped iff some lower-id vector in its
    * cell has 4dp-rounded cosine above `threshold` — the rounding makes
    * the comparison engine-agnostic, [[embeddingNearDupPairs]]'s idiom).
    *
    * The cell blocking is the 100 TB story: pairwise work is
    * O(Σ|cell|²) instead of O(n²), the self-join's shuffle key is
    * `centroid_id` so cells land on independent reducers, and an index
    * table written `partitionBy(centroid_id)` turns each cell into a
    * pruned partition read. The tradeoff (shared with the paper): a
    * near-dup pair split across two cells is NOT compared — centroid
    * count trades recall for tractability.
    *
    * @param cs centroids as (cellId, vector) — k×dim driver state only
    * @return one row per input vector: (id, centroid_id, kept 1|0)
    */
  def semanticDedup(df: DataFrame, embCol: String, idCol: String,
                    cs: Array[(Int, Array[Float])],
                    threshold: Double): DataFrame = {
    import graft.vector.{IvfIndex, VectorFunctions}
    val asg = IvfIndex.build(df, embCol, idCol, cs)
      .select(col(idCol).as("id"), col(embCol).as("emb"), col("centroid_id"))
    val left = asg.select(col("centroid_id"),
      col("id").as("id_a"), col("emb").as("emb_a"))
    val right = asg.select(col("centroid_id"),
      col("id").as("id_b"), col("emb").as("emb_b"))
    val dropped = left.join(right, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.cosine_sim(col("emb_a"), col("emb_b")), 4)
        > lit(threshold))
      .select(col("id_b").as("id")).distinct()
    asg.join(dropped.withColumn("_dropped", lit(1)), Seq("id"), "left")
      .select(col("id"),
        col("centroid_id").cast("bigint").as("centroid_id"),
        when(col("_dropped").isNull, 1).otherwise(0).cast("int").as("kept"))
  }

  /** Cross-document exact-substring duplicate spans — the distributed
    * re-expression of suffix-array ExactSubstr dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * reference keeps only pgvector-side near-dup machinery, but a
    * training corpus needs verbatim cross-document span removal too.
    *
    * Shape: fixed-width character windows of `window` chars at every
    * position (this is what makes detection EXACT: any cross-doc
    * duplicated span of ≥ `window` chars is found with its maximal
    * boundaries), ONE wide shuffle keyed on the window
    * text (distinct (win, doc) then an aggregate — no pair expansion,
    * so boilerplate shared by millions of docs costs one aggregate row,
    * never n²), a key-stats join back onto the occurrences, then a
    * per-document gaps-and-islands merge of flagged windows into
    * maximal spans (window partitioned by doc — parallel across docs).
    *
    * `keepFirst = false` (detection): an occurrence is flagged when the
    * identical substring appears in ≥ 2 distinct documents.
    * `keepFirst = true` (excision contract): only occurrences in docs
    * ABOVE the window's minimum doc id are flagged — the lowest doc
    * "owns" the text and keeps it, everyone else cuts the span.
    *
    * 100 TB notes: exploded rows = total_chars (linear, no blowup); `hashKey = true` (the default) keys the wide shuffle on
    * `xxhash64(win)` instead of the substring — 8 bytes per occurrence
    * across the wire instead of `window` chars (5× less at window=40),
    * and the aggregate hashes a long, not a string. Results are
    * identical absent a 64-bit collision (birthday bound ~2^32 distinct
    * windows; a collision only ever ADDS a flagged span — the
    * conservative direction for dedup — and the per-sf oracle gate
    * replays the substring grouping, so an actual collision would
    * surface as a hash mismatch). `hashKey = false` groups on the
    * substring itself, byte-for-byte the oracle's plan. AQE skew-join
    * splits hot boilerplate keys on the stats join-back either way.
    *
    * @return one row per merged span: (idCol, span_start, span_end,
    *         n_windows), 1-based inclusive char positions
    */
  def crossDocSpans(df: DataFrame, textCol: String, idCol: String,
                    window: Int = 40, keepFirst: Boolean = false,
                    hashKey: Boolean = true): DataFrame = {
    require(window >= 2, "window >= 2")
    val occ = windowOccurrences(df, textCol, idCol, window, hashKey)
    // keep-first only compares against the window's minimum doc id, and
    // min over raw occurrences equals min over the distinct (win, doc)
    // pairs — so that mode skips the distinct (a full extra exchange of
    // the occurrence set) and aggregates map-side partially instead.
    // Detection mode still needs the distinct doc count per window.
    val stats =
      if (keepFirst) occ.groupBy("_win").agg(min(col("_did")).as("_min_did"))
      else occ.select("_win", "_did").distinct()
        .groupBy("_win")
        .agg(count(lit(1)).as("_n_docs"), min(col("_did")).as("_min_did"))
    val flagged = occ.join(stats, "_win")
      .filter(if (keepFirst) col("_did") > col("_min_did")
              else col("_n_docs") > 1)
      .select(col("_did"), col("_p"), (col("_p") + (window - 1)).as("_e"))
    mergeFlaggedWindows(flagged, idCol)
  }

  /** All window hashes of one document in ONE O(bytes) pass — the
    * values are bit-identical to `xxhash64(substr(txt, p, window))`
    * (same UTF-8 bytes, same seed-42 XXH64), but the per-window cost is
    * O(window bytes) instead of the expression path's O(p): `substr`
    * counts CODEPOINTS, so every window pays an offset scan from the
    * string start and a document costs O(len²) chars — fine at web-page
    * lengths, a scale-killer on book-length docs (measured 27× time for
    * 10× bytes at 100 MB synthetic corpus; linear after this change).
    * One codepoint-offset table per doc, then each hash reads its byte
    * range directly. */
  private def windowHashArray(txt: String, window: Int): Array[Long] = {
    if (txt == null) return Array.emptyLongArray
    val bytes = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // byte start of each codepoint (UTF8String's char grain)
    var nChars = 0
    var b = 0
    while (b < bytes.length) {
      val v = bytes(b) & 0xff
      b += (if (v < 0x80) 1 else if (v < 0xE0) 2 else if (v < 0xF0) 3
            else 4)
      nChars += 1
    }
    if (nChars < window) return Array.emptyLongArray
    val starts = new Array[Int](nChars + 1)
    b = 0; var c = 0
    while (b < bytes.length) {
      starts(c) = b
      val v = bytes(b) & 0xff
      b += (if (v < 0x80) 1 else if (v < 0xE0) 2 else if (v < 0xF0) 3
            else 4)
      c += 1
    }
    starts(nChars) = bytes.length
    val out = new Array[Long](nChars - window + 1)
    var p = 0
    while (p < out.length) {
      out(p) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + starts(p),
          starts(p + window) - starts(p), 42L)
      p += 1
    }
    out
  }

  /** Every fixed-width window occurrence of `df`'s text:
    * (`_did`, `_p`, `_win`) where `_win` is the window's `xxhash64`
    * (`hashKey = true`) or the substring itself. Map-side only — the
    * explode never shuffles. The hashed path runs [[windowHashArray]]'s
    * single-pass walk; the substring path keeps the expression form
    * (it is only used where the raw window text must survive). */
  private def windowOccurrences(df: DataFrame, textCol: String,
                                idCol: String, window: Int,
                                hashKey: Boolean): DataFrame = {
    if (hashKey) {
      val wh = udf { (t: String) => windowHashArray(t, window) }
      df.filter(length(col(textCol)) >= window)
        .select(col(idCol).cast("long").as("_did"),
          posexplode(wh(col(textCol))).as(Seq("_i", "_win")))
        .select(col("_did"), (col("_i") + 1).as("_p"), col("_win"))
    } else {
      val win = col("_txt").substr(col("_p"), lit(window))
      df.filter(length(col(textCol)) >= window)
        .select(col(idCol).cast("long").as("_did"),
          explode(sequence(lit(1), length(col(textCol)) - (window - 1)))
            .as("_p"),
          col(textCol).as("_txt"))
        .select(col("_did"), col("_p"), win.as("_win"))
    }
  }

  /** Gaps-and-islands merge of flagged windows (`_did`, `_p`, `_e`) into
    * maximal per-document spans — the shared tail of [[crossDocSpans]]
    * and [[crossDocSpansIncremental]]. Window-partitioned by doc:
    * parallel across documents, never a global sort. */
  private def mergeFlaggedWindows(flagged: DataFrame,
                                  idCol: String): DataFrame = {
    val wD = Window.partitionBy("_did").orderBy("_p")
    flagged
      .withColumn("_prev_e",
        max(col("_e")).over(wD.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_b",
        when(col("_prev_e").isNull || col("_p") > col("_prev_e") + 1, 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_b")).over(wD))
      .groupBy(col("_did"), col("_isl"))
      .agg(min(col("_p")).cast("long").as("span_start"),
        max(col("_e")).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("_did").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Apply [[crossDocSpans]]' excision: rewrite each document with its
    * flagged spans cut out — the cleaned-corpus emit of ExactSubstr
    * dedup. `spans` must be per-doc sorted-disjoint (what
    * [[crossDocSpans]] returns); docs with no spans pass through
    * verbatim.
    *
    * Plan shape: spans collapse to ONE array row per doc (bounded —
    * merged maximal spans, not windows), one join back to the corpus,
    * then a map-side `aggregate` higher-order fold stitches the kept
    * segments in order. No window over the corpus, no shuffle of the
    * text beyond the single join.
    *
    * @return (idCol, cleaned) — the rewritten text column
    */
  def exciseSpans(docs: DataFrame, textCol: String, idCol: String,
                  spans: DataFrame): DataFrame = {
    val spanType = "array<struct<span_start:bigint,span_end:bigint>>"
    val spansAgg = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("span_start").cast("long").as("span_start"),
          col("span_end").cast("long").as("span_end")))).as("_sp"))
    docs.join(spansAgg, Seq(idCol), "left")
      .withColumn("_sp", coalesce(col("_sp"), array().cast(spanType)))
      .select(col(idCol),
        aggregate(col("_sp"),
          struct(lit(1L).as("pos"), lit("").as("acc")),
          (st, s) => struct(
            (s.getField("span_end") + 1L).as("pos"),
            concat(st.getField("acc"),
              col(textCol).substr(st.getField("pos").cast("int"),
                (s.getField("span_start") - st.getField("pos"))
                  .cast("int"))).as("acc")),
          st => concat(st.getField("acc"),
            col(textCol).substr(st.getField("pos").cast("int"),
              (length(col(textCol)) - st.getField("pos") + 1).cast("int"))))
          .as("cleaned"))
  }

  // ------------------------------------------ incremental ExactSubstr

  /** Sidecar metadata a fingerprint index is stamped with at write time
    * (`_graft_fp_meta.json` under the index dir — underscore-prefixed so
    * parquet readers ignore it). Windows start at every position
    * (stride 1). A probe with a different window/stride than the index
    * was built with produces silently EMPTY or wrong spans (hashes never
    * match; span ends are computed from the probe's window), so writes
    * record the parameters and probes/appends require they match. */
  private val FpMetaFile = "_graft_fp_meta.json"

  private def fpMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, FpMetaFile)

  private def writeFpMeta(spark: SparkSession, path: String,
                          window: Int, nBuckets: Int): Unit = {
    val p = fpMetaPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write(
      s"""{"window":$window,"stride":1,"nBuckets":$nBuckets}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** (window, stride, nBuckets) the index at `path` was written with;
    * None for a pre-metadata index (parameters caller-asserted). */
  def readFpMeta(spark: SparkSession,
                 path: String): Option[(Int, Int, Int)] = {
    val p = fpMetaPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
      in.close()
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      def f(k: String) =
        s"""\"$k\":(\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
      for (w <- f("window"); st <- f("stride"); nb <- f("nBuckets"))
        yield (w, st, nb)
    }
  }

  private def requireFpMeta(spark: SparkSession, path: String,
                            window: Int, what: String,
                            nBuckets: Option[Int] = None): Unit =
    readFpMeta(spark, path).foreach { case (w, st, nb) =>
      require(w == window && st == 1,
        s"$what: index at $path was written with window=$w stride=$st " +
          s"but probed with window=$window stride=1 — spans would " +
          "be silently empty/wrong; rebuild the index or match the " +
          "parameters")
      // an APPEND must also match the bucket layout: old rows are
      // partitioned pmod(hash, stored nb); stamping a different count
      // would make bucket-pruned lookups silently miss pre-append rows
      nBuckets.foreach(n => require(n == nb,
        s"$what: index at $path is bucketed pmod(win_hash, $nb) but the " +
          s"append asked for nBuckets=$n — old rows would be silently " +
          "missed by pruned lookups; match nBuckets or rebuild with " +
          "mode=overwrite"))
    }

  /** Persist the corpus's window-fingerprint index at `path`: one row
    * per distinct window, `(win_hash: long, min_did: long)` — the
    * window's `xxhash64` and its first-owner doc id. 16 bytes per
    * DISTINCT window at rest (the hashed-key form is what makes the
    * index plausible at 100 TB — substrings would store `window` chars
    * per entry), laid out `partitionBy(bucket)` on `pmod(win_hash,
    * nBuckets)`: point-lookups of single windows prune to one bucket
    * directory, and each [[appendWindowFingerprintStats]] generation
    * lands as its own files inside the bucket dirs (no monolithic
    * rewrite). Re-write periodically to compact. */
  def writeWindowFingerprints(df: DataFrame, textCol: String,
                              idCol: String, path: String,
                              window: Int = 40,
                              nBuckets: Int = 64): Unit = {
    writeWindowStats(batchWindowStats(df, textCol, idCol, window),
      path, nBuckets, "overwrite")
    // stamp AFTER the parquet write: overwrite mode clears the dir
    writeFpMeta(df.sparkSession, path, window, nBuckets)
  }

  /** The fingerprint aggregate of one batch at the index's at-rest
    * grain: one row per distinct window, (win_hash, min_did). This is
    * the frame [[writeWindowFingerprints]] persists AND the one
    * [[crossDocSpansIncremental]] probes with — a streaming funnel
    * that both probes and appends computes it ONCE per micro-batch
    * (persist it, pass it to both) instead of re-hashing the batch
    * text per consumer (r13: the q284 funnel's "index append" phase
    * was a second full window-hash pass over every day). */
  def batchWindowStats(df: DataFrame, textCol: String, idCol: String,
                       window: Int = 40): DataFrame =
    // r13: via the map-side-distinct pairs — `array_distinct` before
    // the explode dedups a document's repeated windows BEFORE the
    // shuffle (min over distinct pairs = min over occurrences, so the
    // rows are unchanged; repetitious text shuffles far fewer rows)
    batchWindowStatsFromPairs(
      windowDocPairs(df, textCol, idCol, window))

  /** The distinct (doc, window-hash) PAIRS of a batch — map-side only
    * (`array_distinct` dedups within the document BEFORE the explode,
    * so the exploded row count is the per-doc distinct window count,
    * not the position count). This is the shared upstream of the
    * probe-then-append streaming shape: [[batchWindowStatsFromPairs]]
    * derives the at-rest stats frame from it and
    * [[dupDocIdsIncremental]] probes with it, so one persisted pairs
    * frame pays ONE window-hash pass per micro-batch for both.
    * Positions are dropped — use [[crossDocSpansIncremental]] when the
    * spans themselves are needed. */
  def windowDocPairs(df: DataFrame, textCol: String, idCol: String,
                     window: Int = 40): DataFrame = {
    val wh = udf { (t: String) => windowHashArray(t, window) }
    df.filter(length(col(textCol)) >= window)
      .select(col(idCol).cast("long").as("_did"),
        explode(array_distinct(wh(col(textCol)))).as("_win"))
  }

  /** [[batchWindowStats]] derived from a precomputed
    * [[windowDocPairs]] frame: `min(_did)` over the distinct (doc,
    * window) pairs equals `min` over the raw occurrences (duplicates
    * of a pair never change its min), so the rows are identical to
    * the text-scanning form — without the second window-hash pass. */
  def batchWindowStatsFromPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("_win").as("win_hash"))
      .agg(min(col("_did")).as("min_did"))

  /** The DISTINCT batch doc ids [[crossDocSpansIncremental]] would
    * flag — `crossDocSpansIncremental(...).select(idCol).distinct()`
    * without the position bookkeeping: no posexplode arithmetic, no
    * per-doc island-merge windows, and the stored index side skips its
    * dedup entirely (duplicate hashes across append generations only
    * duplicate flagged rows, which the final doc-grain distinct
    * absorbs — exact for THIS consumer, wrong for span consumers).
    * The funnel-gate shape: "is any span of this doc a dup" needs the
    * doc set, not the spans. */
  def dupDocIdsIncremental(spark: SparkSession, indexPath: String,
                           batch: DataFrame, textCol: String,
                           idCol: String, window: Int = 40,
                           pairs: Option[DataFrame] = None,
                           stats: Option[DataFrame] = None): DataFrame = {
    requireFpMeta(spark, indexPath, window, "dupDocIdsIncremental")
    val dw = pairs.getOrElse(windowDocPairs(batch, textCol, idCol, window))
    val batchStats = stats.getOrElse(batchWindowStatsFromPairs(dw))
      .select(col("win_hash").as("_win"), col("min_did").as("_batch_min"))
    val corpus = spark.read.parquet(indexPath)
      .select(col("win_hash").as("_win"))
      .withColumn("_in_corpus", lit(true))
    dw.join(batchStats, "_win")
      .join(corpus, Seq("_win"), "left")
      .filter(col("_in_corpus").isNotNull || col("_did") > col("_batch_min"))
      .select(col("_did").as(idCol)).distinct()
  }

  private def writeWindowStats(stats: DataFrame, path: String,
                               nBuckets: Int, mode: String): Unit =
    stats.select(col("win_hash"), col("min_did"))
      .withColumn("bucket", pmod(col("win_hash"), lit(nBuckets.toLong)))
      .repartition(col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(path)

  /** Append a batch's PRECOMPUTED [[batchWindowStats]] frame into a
    * stored index WITHOUT rewriting the stored rows (LSM-style):
    * readers min-merge duplicate hashes at probe time, so an append is
    * O(batch), never O(corpus), and the probe-then-append streaming
    * shape pays one window-hash pass per batch instead of two. */
  def appendWindowFingerprintStats(stats: DataFrame, path: String,
                                   window: Int = 40,
                                   nBuckets: Int = 64): Unit = {
    requireFpMeta(stats.sparkSession, path, window,
      "appendWindowFingerprintStats", nBuckets = Some(nBuckets))
    writeWindowStats(stats, path, nBuckets, mode = "append")
    writeFpMeta(stats.sparkSession, path, window, nBuckets)
  }

  /** Flag an ARRIVING batch's duplicate spans against a stored corpus
    * fingerprint index — ExactSubstr without re-scanning the corpus.
    * Keep-first is by ARRIVAL: the indexed corpus owns every window it
    * contains (a batch occurrence whose window is already indexed is
    * always flagged); within the batch itself, the lowest batch doc id
    * owns a window the corpus has never seen. Equivalent to
    * [[crossDocSpans]](corpus ∪ batch, keepFirst) restricted to batch
    * docs whenever corpus ids precede batch ids — the monotonic-id
    * crawl-snapshot case — and the arrival-order contract otherwise.
    *
    * Plan: batch windows explode map-side, ONE aggregate over the
    * batch's own windows, one existence join against the stored index,
    * islands merge. The probe reads the INDEX (16 bytes per distinct
    * corpus window), never the corpus text — O(batch text + index
    * bytes) where a full re-run is O(corpus text); on a boilerplate-
    * heavy 100 TB corpus the fingerprint set is a small fraction of
    * the text it covers.
    *
    * @return [[crossDocSpans]]-shaped spans for batch docs only */
  def crossDocSpansIncremental(spark: SparkSession, indexPath: String,
                               batch: DataFrame, textCol: String,
                               idCol: String,
                               window: Int = 40): DataFrame = {
    requireFpMeta(spark, indexPath, window, "crossDocSpansIncremental")
    val occ = windowOccurrences(batch, textCol, idCol, window, hashKey = true)
    // r13: min over duplicate (_win, _did) rows equals min over the
    // distinct set — the old distinct-before-min was a second full
    // exchange of the batch's windows for nothing
    val batchStats = batchWindowStats(batch, textCol, idCol, window)
      .select(col("win_hash").as("_win"), col("min_did").as("_batch_min"))
    // existence is enough here — skip the generations' min-merge
    // and carry only the 8-byte hash through the join
    val corpus = spark.read.parquet(indexPath)
      .select(col("win_hash").as("_win")).distinct()
      .withColumn("_in_corpus", lit(true))
    val flagged = occ
      .join(batchStats, "_win")
      .join(corpus, Seq("_win"), "left")
      .filter(col("_in_corpus").isNotNull || col("_did") > col("_batch_min"))
      .select(col("_did"), col("_p"), (col("_p") + (window - 1)).as("_e"))
    mergeFlaggedWindows(flagged, idCol)
  }

  /** Verbatim-contamination spans: character spans of `corpus` text
    * that appear verbatim (window-grain, merged to maximal islands)
    * anywhere in `benchmark` — the exact-substring strengthening of
    * [[decontaminate]]'s n-gram flag, answering "WHICH bytes leaked",
    * not just "does this doc overlap".
    *
    * Plan shape for 100 TB: both sides' windows explode map-side; the
    * benchmark collapses to its distinct 8-byte window hashes (eval
    * sets are MBs — AQE broadcasts the existence set, no forced hint),
    * so the corpus text shuffles only for the final per-doc island
    * merge of FLAGGED windows, a vanishing fraction of the corpus.
    *
    * @return [[crossDocSpans]]-shaped spans for corpus docs only */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String,
                         window: Int = 40): DataFrame = {
    val occ = windowOccurrences(corpus, textCol, idCol, window, hashKey = true)
    val bench = windowOccurrences(benchmark, textCol, idCol, window,
        hashKey = true)
      .select(col("_win")).distinct()
    val flagged = occ.join(bench, Seq("_win"))
      .select(col("_did"), col("_p"), (col("_p") + (window - 1)).as("_e"))
    mergeFlaggedWindows(flagged, idCol)
  }

  /** Benchmark decontamination by word-n-gram overlap (the GPT-3 /
    * PaLM-style eval-set leakage check): every training document sharing
    * at least one distinct n-gram with the held-out benchmark corpus is
    * flagged, with its overlap count and fraction.
    *
    * Plan shape for 100 TB: one shingle projection over each side
    * (map-side, distinct-per-doc via `array_distinct` BEFORE the
    * explode, so the exploded row count is bounded by distinct grams),
    * then an equi-join on the gram string. The benchmark side is tiny
    * by nature (eval sets are MBs, not TBs) — AQE broadcasts it and the
    * training corpus never shuffles; no hint is forced, so a
    * pathologically large eval set degrades to a shuffle join instead
    * of an executor OOM.
    *
    * @param corpus training documents (idCol, textCol)
    * @param benchmark held-out eval documents (textCol; ids ignored)
    * @return flagged docs only: (idCol, n_grams, n_hits, contam_frac)
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      docGrams(df, textCol, n, cols: _*)
    val evalGrams = gramSet(benchmark, textCol, n)
    // ONE corpus pass: left-join the gram set, count all grams and the
    // hits in the same doc-grain aggregate (a separate per-doc total
    // would shingle and scan the corpus twice)
    grams(corpus, col(idCol))
      .join(evalGrams.withColumn("_hit", lit(1)), Seq("_g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_hits"))
      .filter(col("n_hits") > 0)
      .select(col(idCol), col("n_grams"), col("n_hits"),
        // ratioQ idiom: exact-integer scale + one double division —
        // round() diverges from DuckDB on decimal ties (q52/q150)
        (floor(col("n_hits") * lit(10000L) / col("n_grams") + lit(0.5d)) /
          lit(10000.0d)).as("contam_frac"))
  }

  /** The per-doc distinct word-n-gram projection shared by
    * [[decontaminate]] and its streaming split (map-side:
    * `array_distinct` before the explode bounds rows by distinct
    * grams). */
  private def docGrams(df: DataFrame, textCol: String, n: Int,
                       cols: Column*): DataFrame = {
    import graft.text.TextFunctions.shinglesFromTokens
    df.filter(length(trim(col(textCol))) > 0)
      .select((cols :+ split(trim(col(textCol)), "\\s+").as("_t")): _*)
      .filter(size(col("_t")) >= n)
      .select((cols :+
        explode(array_distinct(shinglesFromTokens(col("_t"), n))).as("_g")): _*)
  }

  /** The benchmark's distinct n-gram set — [[decontaminate]]'s
    * day-invariant right side, split out so a streaming funnel
    * computes it ONCE (persist it) instead of re-shingling and
    * re-distincting the eval set every micro-batch. */
  def gramSet(benchmark: DataFrame, textCol: String, n: Int = 3): DataFrame =
    docGrams(benchmark, textCol, n).select(col("_g")).distinct()

  /** The DISTINCT corpus doc ids [[decontaminate]] would flag (docs
    * sharing ≥1 distinct n-gram with the benchmark), from a
    * precomputed [[gramSet]]: a semi-join instead of the left-join +
    * per-doc hit count — identical doc set (`n_hits > 0` ⇔ at least
    * one gram joins), no count columns. For consumers that gate on
    * contamination rather than report its extent. */
  def contaminatedDocIds(corpus: DataFrame, benchGrams: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3): DataFrame =
    docGrams(corpus, textCol, n, col(idCol))
      .join(benchGrams, Seq("_g"), "leftsemi")
      .select(col(idCol)).distinct()

  // ------------------------------------------------ line-grain dedup

  /** Corpus-wide duplicated-line inventory (the CCNet / RefinedWeb
    * line-dedup stage — boilerplate nav bars, cookie banners and
    * footers repeat VERBATIM across pages while body text does not;
    * the reference's scraped-page corpus has exactly this shape,
    * `extractor/service.py:473-566` parses pages whose panels repeat
    * across every venue page).
    *
    * Grain: one row per distinct (trimmed, non-empty) line that occurs
    * in at least `minDocs` DISTINCT documents. The shuffle key is the
    * line's `xxhash64`, not the line text — fixed 8-byte keys keep the
    * corpus-wide aggregate narrow at 100 TB (the hashed-window-key
    * lesson from the ExactSubstr family: ~40 % faster end-to-end at
    * 10×; a collision merges two distinct lines with ~2^-64 × pairs
    * probability — the standard trade). Line text rides along only so
    * callers can inspect the blocklist; drop it for the pure probe.
    *
    * Plan: one split+explode projection (no shuffle) → one two-phase
    * distinct-doc count on the 8-byte hash. Nothing corpus-sized
    * reaches the driver. */
  def duplicatedLines(df: DataFrame, textCol: String, idCol: String,
                      minDocs: Int = 2): DataFrame =
    df.select(col(idCol),
        explode(split(col(textCol), "\n", -1)).as("_line"))
      .select(col(idCol), trim(col("_line")).as("_nl"))
      .filter(col("_nl") =!= "")
      .groupBy(xxhash64(col("_nl")).as("line_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(col("_nl")).as("line"))
      .filter(col("n_docs") >= minDocs)

  /** Remove every occurrence of a corpus-duplicated line from every
    * document (CCNet's policy: a line shared by `minDocs`+ documents is
    * boilerplate, not content — drop ALL copies, not all-but-one).
    * Empty / whitespace-only lines never count as duplicates and are
    * always kept (they are structure, not content).
    *
    * Returns `(idCol, cleaned, n_lines, n_removed)` — `cleaned` is the
    * surviving lines re-joined with `\n` in original order.
    *
    * Plan: the [[duplicatedLines]] aggregate, then the line grain
    * left-joins the blocklist on the 8-byte hash and re-assembles per
    * doc. The blocklist frame is Heaps-law content-proportional —
    * NEVER a forced broadcast (the q88 lesson); AQE picks the join
    * strategy. Three shuffles total (blocklist agg, hash join, doc
    * re-assembly), every key fixed-width. */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
                 minDocs: Int = 2): DataFrame = {
    val block = duplicatedLines(df, textCol, idCol, minDocs)
      .select(col("line_hash"), lit(true).as("_dup"))
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("_pos", "_line")))
      .join(block,
        block("line_hash") === xxhash64(trim(col("_line"))) &&
          trim(col("_line")) =!= "", "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(coalesce(col("_dup"), lit(false)).cast("long")).as("n_removed"),
        array_join(transform(array_sort(collect_list(when(col("_dup").isNull,
            struct(col("_pos"), col("_line"))))),
          s => s.getField("_line")), "\n").as("cleaned"))
      .select(col(idCol), col("cleaned"), col("n_lines"), col("n_removed"))
  }
}
