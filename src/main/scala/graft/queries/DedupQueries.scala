package graft
package queries

import graft.dedup.Dedup
import graft.graph.Graph
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Dedup queries: exact, n-gram, MinHash, SimHash, content-defined-chunk
  * and exact-substring duplicate detection, the cards that tune them,
  * and train/eval contamination, which is the same overlap test across
  * two corpora. */
private[graft] object DedupQueries {

  /** Shared DuckDB replay of content-defined chunking (q293/q295):
    * FNV-masked boundary positions → chunk substrings. Ends after the
    * `ch` CTE (doc_id, chunk); callers append further CTEs. */
  private lazy val cdcChunkCteSql: String =
    s"""WITH b AS (
      | SELECT doc_id, i
      | FROM documents, unnest(range(8, length(text))) t(i)
      | WHERE (${fnvSql("substr(text, i - 7, 8)", "c")} % 64) = 0),
      |bl AS (SELECT doc_id, list_sort(list(i)) AS bs FROM b GROUP BY 1),
      |d2 AS (SELECT d.doc_id, d.text, coalesce(bl.bs, []) AS bs
      | FROM documents d LEFT JOIN bl ON bl.doc_id = d.doc_id),
      |ch AS (SELECT doc_id,
      |  substr(text,
      |    CASE WHEN j = 1 THEN 1 ELSE bs[j - 1] + 1 END,
      |    (CASE WHEN j = len(bs) + 1 THEN length(text) ELSE bs[j] END)
      |      - (CASE WHEN j = 1 THEN 1 ELSE bs[j - 1] + 1 END) + 1)
      |    AS chunk
      | FROM d2, unnest(range(1, len(bs) + 2)) t(j))""".stripMargin

  /** Word 3-gram shingles per doc, shingle-set `sizes`, and the shared
    * shingle count `inter` for every doc pair (shingles in more than
    * 1,000 docs are dropped). */
  private lazy val shingleOverlapCteSql: String =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      |  FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
      |  WHERE array_length(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |shc AS (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS freq
      |    FROM sh)
      |  WHERE freq <= 1000),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Token-grain content-defined chunks: a token whose md5 starts with '0'
    * closes a chunk. Ends after `ch(doc_id, pos, w, chunk_id)`. */
  private lazy val tokenChunkCteSql: String =
    """tok0 AS (
      | SELECT doc_id, ts, unnest(range(1, array_length(ts) + 1)) AS i
      | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
      |       FROM documents)),
      |tok AS (
      | SELECT doc_id, i - 1 AS pos, ts[CAST(i AS INT)] AS w,
      |  CASE WHEN substr(md5(ts[CAST(i AS INT)]), 1, 1) = '0'
      |   THEN 1 ELSE 0 END AS is_b
      | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0),
      |ch AS (
      | SELECT doc_id, pos, w,
      |  CAST(coalesce(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS chunk_id
      | FROM tok)""".stripMargin

  /** 40-char windows of the training docs (`doc_id % 7 <> 0`) that also
    * occur in the benchmark slice, merged into `isl` islands. */
  private lazy val benchSpanCteSql: String =
    s"""pos AS (
      | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
      |occ AS (
      | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
      | FROM documents d JOIN pos ON p <= d.n_chars - 39
      | WHERE d.n_chars >= 40 AND doc_id % 7 <> 0),
      |bench AS (
      | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
      | FROM documents d JOIN pos ON p <= d.n_chars - 39
      | WHERE d.n_chars >= 40 AND doc_id % 7 = 0),
      |fl AS (
      | SELECT o.doc_id, o.p, o.p + 39 AS e
      | FROM occ o JOIN bench b ON b.win = o.win),
      |$windowIslandCteSql""".stripMargin

  /** Every 40-char window occurrence `fl(doc_id, p, e)` whose window
    * already occurs in a lower doc_id (keep-first ExactSubstr). */
  private lazy val dupWindowCteSql: String =
    """pos AS (
      | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
      |occ AS (
      | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
      | FROM documents d JOIN pos ON p <= d.n_chars - 39
      | WHERE d.n_chars >= 40),
      |stats AS (
      | SELECT win, min(doc_id) AS min_did FROM occ GROUP BY 1),
      |fl AS (
      | SELECT o.doc_id, o.p, o.p + 39 AS e
      | FROM occ o JOIN stats s ON s.win = o.win WHERE o.doc_id > s.min_did)""".stripMargin

  /** Cut spans per island and the kept gaps between them,
    * `segs(doc_id, gs, ge)` (`ge` NULL = to the end of the doc). */
  private lazy val spanSegmentsCteSql: String =
    s"""spans AS (
      | SELECT doc_id, min(p) AS s, max(e) AS e
      | FROM isl GROUP BY doc_id, island),
      |segs AS (
      | SELECT doc_id,
      |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
      |    AS gs,
      |  s - 1 AS ge
      | FROM spans
      | UNION ALL
      | SELECT doc_id, max(e) + 1 AS gs, NULL AS ge
      | FROM spans GROUP BY doc_id)""".stripMargin

  /** Overlapping 40-char windows `fl(doc_id, p, e)` merged into
    * contiguous islands: `isl(doc_id, p, e, island)`. */
  private lazy val windowIslandCteSql: String =
    """brk AS (
      | SELECT doc_id, p, e,
      |  max(e) OVER (PARTITION BY doc_id ORDER BY p
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
      | FROM fl),
      |isl AS (
      | SELECT doc_id, p, e,
      |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY doc_id ORDER BY p) AS island
      | FROM brk)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup suite ----
    QuerySpec("q21_dedup_exact", (s, d) => {
      Dedup.exactGroups(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("survivor_id"))
    }, oracle =
      """SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS survivor_id,
        | count(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin),

    QuerySpec("q22_ngram_jaccard", (s, d) => {
      // maxShingleFreq caps the per-shingle fan-out (skew guard); the
      // oracle SQL applies the identical cap
      Dedup.ngramJaccardPairs(tSpread(s, d, "documents"), "text", "doc_id",
        n = 3, threshold = 0.2, maxShingleFreq = 1000)
        .select(col("id_a"), col("id_b"),
          floorBp(col("jaccard"), 4).as("jaccard_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      s"""WITH $shingleOverlapCteSql
        |SELECT id_a, id_b,
        | CAST(floor(floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5)
        |   / 10000 * 10000 + 0.5) AS BIGINT) AS jaccard_bp
        |FROM pairs
        | JOIN sizes sa ON sa.doc_id = id_a
        | JOIN sizes sb ON sb.doc_id = id_b
        |WHERE floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5) / 10000 >= 0.2
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- dedup sketches (hash primitives chosen SQL-replayable) ----
    QuerySpec("q23_minhash_clusters", (s, d) => {
      Dedup.minhashClustersTransitive(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("id"))
    }, oracle =
      // MinHash+LSH with transitive closure: FNV shingle hash → 64 affine
      // permutations (closed-form constants) → 16 string-keyed band buckets
      // → candidate pairs → exact component-min via recursive reachability.
      s"""$minhashClusterCteSql
        |SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id
        |ORDER BY id""".stripMargin),

    QuerySpec("q24_simhash", (s, d) => {
      Dedup.simhash(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("id"))
    }, oracle =
      s"""WITH $simhashSigCteSql
        |SELECT doc_id AS id, CAST(${toSignedSql("u")} AS BIGINT) AS simhash
        |FROM sig ORDER BY id""".stripMargin),

    QuerySpec("q25_fingerprint", (s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }, oracle =
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> ${fnvSql("t", "f")}) AS hs FROM toks),
        |fp AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT, hs),
        |   (acc, h) -> (acc * 1099511628211::HUGEINT + h) % 18446744073709551616::HUGEINT) AS u
        | FROM th)
        |SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin),

    // ---- embedding-cosine near-dup pairs, label-blocked ----
    QuerySpec("q42_embedding_neardup", (s, d) => {
      Dedup.embeddingNearDupPairs(tSpread(s, d, "embeddings"), "embedding", "vec_id",
        col("label"), threshold = 0.3)
        .select(col("id_a"), col("id_b"), floorBp(col("cos"), 4).as("cos_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | CAST(floor(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) * 10000 + 0.5) AS BIGINT) AS cos_bp
        |FROM embeddings a
        | JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- train/eval contamination: train docs sharing a 4-gram with the
    // held-out split (doc_id % 20 == 0) ----
    QuerySpec("q58_contamination", (s, d) => {
      // single-lineage: ONE shingle pass, one shuffle on the gram (which
      // both splits group under), one on doc_id — a two-sided join would
      // recompute the explode per side and shuffle it twice
      val grams = tSpread(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .filter(size(col("ts")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.shinglesFromTokens(col("ts"), 4))).as("g"))
      grams.groupBy("g")
        .agg(max(when(col("doc_id") % 20 === 0, 1).otherwise(0)).as("in_eval"),
          collect_list(when(col("doc_id") % 20 =!= 0, col("doc_id")))
            .as("train_ids"))
        .filter(col("in_eval") === 1)
        .select(explode(col("train_ids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(
        |   list_transform(range(0, array_length(ts) - 3),
        |     i -> array_to_string(ts[(i + 1):(i + 4)], ' ')))) AS g
        | FROM toks WHERE array_length(ts) >= 4),
        |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_shared_ngrams
        |FROM grams JOIN ev USING (g)
        |WHERE doc_id % 20 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- simhash near-dup pairs via pigeonhole band blocking ----
    QuerySpec("q61_simhash_pairs", (s, d) => {
      Dedup.simhashHammingPairs(tSpread(s, d, "documents"), "text", "doc_id",
        maxHamming = 3, nBands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      // replays q24's simhash signature, then exact popcount(xor) pairs —
      // the oracle does the O(n²) cross check the engine's band blocking
      // provably equals for hamming <= nBands-1
      s"""WITH $simhashSigCteSql,
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- incremental dedup: new batch probed against the corpus's
    // MinHash-LSH index (the per-crawl stage; q23 is the one-off global
    // clustering) ----
    QuerySpec("q65_incremental_dedup", (s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.minhashIncrementalCandidates(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "text", "doc_id")
        .orderBy(col("id_new"), col("id_old"))
    }, oracle =
      // same signature/band replay as q23 (no transitive closure), split
      // corpus (< 400) vs batch (>= 400), count shared bands per pair
      s"""WITH $minhashBandCteSql
        |SELECT n.doc_id AS id_new, o.doc_id AS id_old,
        | count(*) AS n_bands_shared
        |FROM bkt n JOIN bkt o ON n.b = o.b AND n.bucket = o.bucket
        | AND n.doc_id >= 400 AND o.doc_id < 400
        |GROUP BY 1, 2 ORDER BY id_new, id_old""".stripMargin),

    // ---- content-defined chunking (rsync/LBFS family): a chunk ends
    // AFTER any token whose hash falls in 1/16 of the space, so chunk
    // boundaries depend only on content — an insertion reshuffles
    // boundaries locally, not globally, which is what makes chunk-level
    // dedup robust under edits at 100 TB (vs q72's fixed windows, where
    // one inserted token shifts every downstream chunk) ----
    QuerySpec("q90_cdc_chunks", (s, d) => {
      val tok = tSpread(s, d, "documents")
        .select(col("doc_id"), posexplode(
          split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
        .withColumn("is_b",
          (substring(md5(col("w")), 1, 1) === "0").cast("int"))
      val before = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      tok.withColumn("chunk_id",
          coalesce(sum(col("is_b")).over(before), lit(0L)))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ",
            transform(sort_array(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")))).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracle =
      s"""WITH $tokenChunkCteSql
        |SELECT doc_id, chunk_id, count(*) AS n_tokens,
        | md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
        |FROM ch GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin),

    // ---- dedup survivorship report: per dup group the canonical doc
    // (min id), the dup count and the bytes dedup removes — the "what
    // did dedup buy us" accounting every corpus pipeline ships. The
    // group key is the opening-prefix fingerprint (first 5 tokens),
    // the boilerplate-header dedup shape — full-content hashing only
    // finds groups at the largest sf (this corpus has no exact dups
    // below sf0.1, caught by EntrySmokeSpec). One hash-groupBy on the
    // fingerprint; no pairwise work ----
    QuerySpec("q162_dedup_survivorship", (s, d) => {
      val prefix = concat_ws(" ",
        slice(split(trim(col("text")), "\\s+"), 1, 5))
      tSpread(s, d, "documents")
        .groupBy(md5(prefix).as("prefix_hash"))
        .agg(min(col("doc_id")).as("survivor_id"),
          (count(lit(1)) - 1).as("n_dups"),
          (sum(length(col("text"))) -
            min_by(length(col("text")), col("doc_id"))).as("bytes_saved"))
        .filter(col("n_dups") > 0)
        .orderBy(col("survivor_id"))
    }, oracle =
      """SELECT md5(array_to_string(
        |   (regexp_split_to_array(trim(text), '\s+'))[1:5], ' ')) AS prefix_hash,
        | min(doc_id) AS survivor_id,
        | count(*) - 1 AS n_dups,
        | CAST(sum(length(text)) - arg_min(length(text), doc_id) AS BIGINT)
        |   AS bytes_saved
        |FROM documents GROUP BY 1
        |HAVING count(*) > 1 ORDER BY survivor_id""".stripMargin),

    // ---- SemDeDup-shape semantic dedup (cluster-blocked embedding
    // near-dup pruning): assign every vector to its nearest seed
    // centroid, pairwise-compare ONLY within a cell, keep the lowest id
    // of each neighborhood. The cluster blocking is the 100 TB story:
    // pairwise work is O(Σ|cell|²) instead of O(n²), cells shuffle to
    // independent reducers (join key = centroid_id), and the index
    // table written partitionBy(centroid_id) makes each cell a pruned
    // partition read. Threshold compares the 4dp-rounded cosine (q42's
    // engine-robust idiom). ----
    QuerySpec("q163_semdedup", (s, d) => {
      // seed centroids = vec_id < 10 (k×dim driver state only)
      val cs = t(s, d, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      Dedup.semanticDedup(tSpread(s, d, "embeddings"), "embedding",
          "vec_id", cs, threshold = 0.45)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }, oracle =
      s"""WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 10),
        |$centroidAssignCteSql,
        |drops AS (
        | SELECT DISTINCT y.vec_id
        | FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        | WHERE round(list_cosine_similarity(CAST(x.emb AS DOUBLE[]),
        |                                    CAST(y.emb AS DOUBLE[])), 4) > 0.45)
        |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
        | CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM a LEFT JOIN drops d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin),

    // ---- intra-document repeated-span detection (the within-doc half
    // of exact-substring dedup, Lee et al. 2022 shape): a token window
    // whose hash already occurred EARLIER in the same document marks a
    // repeated span; adjacent repeated starts (gap ≤ W) merge into one
    // span (gaps-and-islands, q136's idiom). Entirely per-doc window
    // functions over one exploded lineage — partition key doc_id, no
    // cross-doc shuffle, embarrassingly parallel at 100 TB. W = 3 fits
    // this corpus's short word-soup docs (the paper uses ~50-token
    // windows on real text). ----
    QuerySpec("q164_repeated_spans", (s, d) => {
      TextFunctions.repeatedSpans(tSpread(s, d, "documents"),
          "text", "doc_id", window = 3, gap = 3)
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH tok AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS L
        | FROM documents WHERE length(trim(text)) > 0),
        |px AS (
        | SELECT doc_id, L, unnest(generate_series(1, len(L) - 2)) AS p
        | FROM tok),
        |g AS (
        | SELECT doc_id, p, md5(array_to_string(L[p:p+2], ' ')) AS g
        | FROM px),
        |m AS (
        | SELECT doc_id, p, g,
        |  min(p) OVER (PARTITION BY doc_id, g) AS minp
        | FROM g),
        |rep AS (SELECT doc_id, p FROM m WHERE p > minp),
        |brk AS (
        | SELECT doc_id, p,
        |  CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |        OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 3
        |       THEN 1 ELSE 0 END AS b
        | FROM rep)
        |SELECT doc_id, count(*) AS n_repeated_windows,
        | CAST(sum(b) AS BIGINT) AS n_spans
        |FROM brk GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- asymmetric containment detection: a doc whose shingle set is
    // ≥80% covered by another doc's (quotes, boilerplate inclusion,
    // near-subset crawls — pairs symmetric Jaccard UNDER-scores when
    // sizes differ). Candidates ride the same freq-capped shared-key
    // harness as q22/q91 (one shuffle on the shingle, map-side pair
    // expansion, never n²); containment ratios in ratioQ quantized
    // division so both engines agree at 4dp. ----
    QuerySpec("q165_containment", (s, d) => {
      val toks = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      val sh = toks.select(col("doc_id"),
          explode(TextFunctions.shinglesFromTokens(col("toks"), 3)).as("sh"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      Dedup.sharedKeyPairs(sh, "sh", "doc_id", maxIdsPerKey = 1000)
        .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")),
          "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")),
          "id_b")
        .withColumn("cont_a_bp", ratioBp(col("n_shared"), col("n_a"), 4))
        .withColumn("cont_b_bp", ratioBp(col("n_shared"), col("n_b"), 4))
        .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= 8000L)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          col("cont_a_bp"), col("cont_b_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS L
        | FROM documents WHERE length(trim(text)) > 0),
        |px AS (
        | SELECT doc_id, L, unnest(generate_series(1, len(L) - 2)) AS p
        | FROM toks),
        |sh AS (
        | SELECT DISTINCT doc_id, array_to_string(L[p:p+2], ' ') AS sh
        | FROM px),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |freq AS (
        | SELECT sh FROM sh GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        | FROM sh a
        |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  JOIN freq f ON f.sh = a.sh
        | GROUP BY 1, 2),
        |sc AS (
        | SELECT id_a, id_b, n_shared,
        |  CAST(floor(n_shared * 10000 / sa.n_sh + 0.5) AS BIGINT)
        |    AS cont_a_bp,
        |  CAST(floor(n_shared * 10000 / sb.n_sh + 0.5) AS BIGINT)
        |    AS cont_b_bp
        | FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, n_shared, cont_a_bp, cont_b_bp
        |FROM sc WHERE greatest(cont_a_bp, cont_b_bp) >= 8000
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- CROSS-DOCUMENT exact-substring duplicate spans (ExactSubstr,
    // Lee et al. 2021): q164 finds repeats WITHIN a doc; this finds
    // verbatim spans shared ACROSS docs — the form that actually
    // removes boilerplate/mirrored text from a pretraining corpus.
    // a 40-char window at EVERY position (stride 1 — exact detection of
    // any shared span ≥ 40 chars, with maximal boundaries), one shuffle
    // keyed on the window text (aggregate only — no pair expansion, so
    // a span shared by a million docs costs one stats row), per-doc
    // gaps-islands merge into maximal spans. Detection mode: flagged
    // when ≥ 2 distinct docs share the window ----
    QuerySpec("q180_crossdoc_spans", (s, d) => {
      graft.dedup.Dedup.crossDocSpans(tSpread(s, d, "documents"),
          "text", "doc_id", window = 40)
        .orderBy(col("doc_id"), col("span_start"))
    }, oracle =
      // ExactSubstr replay: a 40-char window at every position, per-window
      // distinct-doc stats, gaps-islands merge of flagged occurrences
      s"""WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40),
        |stats AS (
        | SELECT win, count(DISTINCT doc_id) AS n_docs FROM occ GROUP BY 1),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN stats s ON s.win = o.win WHERE s.n_docs > 1),
        |$windowIslandCteSql
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),

    // ---- ExactSubstr EXCISION accounting (keep-first contract): the
    // lowest doc_id sharing a window owns the text; every other doc
    // cuts its merged spans. Output per doc: spans cut, chars cut,
    // chars kept — the corpus-shrink report a dedup stage emits before
    // the cleaned rewrite. Docs owning all their text keep 100% ----
    QuerySpec("q181_exact_substr_dedup", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val spans = graft.dedup.Dedup.crossDocSpans(docs,
          "text", "doc_id", window = 40, keepFirst = true)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans_cut"),
          sum(col("span_end") - col("span_start") + 1).as("chars_cut"))
      docs.select(col("doc_id"), col("n_chars"))
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
          coalesce(col("chars_cut"), lit(0L)).as("chars_cut"),
          (col("n_chars") - coalesce(col("chars_cut"), lit(0L)))
            .as("chars_kept"))
        .orderBy(col("doc_id"))
    }, oracle =
      // keep-first excision accounting: flagged iff a LOWER doc_id shares
      // the window; merged-span chars subtracted from n_chars
      s"""WITH $dupWindowCteSql,
        |$windowIslandCteSql,
        |spans AS (
        | SELECT doc_id, min(p) AS s, max(e) AS e
        | FROM isl GROUP BY doc_id, island),
        |cut AS (
        | SELECT doc_id, count(*) AS n_spans_cut,
        |  sum(e - s + 1) AS chars_cut
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(c.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
        | CAST(coalesce(c.chars_cut, 0) AS BIGINT) AS chars_cut,
        | CAST(d.n_chars - coalesce(c.chars_cut, 0) AS BIGINT) AS chars_kept
        |FROM documents d LEFT JOIN cut c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ---- INCREMENTAL ExactSubstr: a new crawl batch (doc_id%10==7)
    // span-checked against the rest of the corpus through a persisted
    // window-fingerprint index (16 B/distinct window — the hashed-key
    // layout), never re-reading the corpus text. Keep-first by arrival:
    // the indexed corpus owns every window it contains; within the
    // batch the lowest doc id owns windows the corpus lacks ----
    QuerySpec("q183_exact_substr_incr", (s, d) => {
      val docs = tSpread(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-xdoc-fp").toString + "/idx"
      graft.dedup.Dedup.writeWindowFingerprints(corpus, "text", "doc_id",
        idx, window = 40)
      graft.dedup.Dedup.crossDocSpansIncremental(s, idx, batch,
          "text", "doc_id", window = 40)
        .orderBy(col("doc_id"), col("span_start"))
    }, oracle =
      // incremental ExactSubstr: batch (doc_id%10==7) occurrences flag
      // when the window exists anywhere in the corpus split OR a lower
      // batch doc shares it; same islands merge as q180
      s"""WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 10 = 7),
        |corp AS (
        | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 10 <> 7),
        |bstats AS (
        | SELECT win, min(doc_id) AS batch_min FROM occ GROUP BY 1),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN bstats b ON b.win = o.win
        |  LEFT JOIN corp c ON c.win = o.win
        | WHERE c.win IS NOT NULL OR o.doc_id > b.batch_min),
        |$windowIslandCteSql
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),

    // ---- LINE-grain corpus dedup (CCNet / RefinedWeb boilerplate
    // removal: a line occurring verbatim in >= 2 distinct documents is
    // boilerplate — drop EVERY copy). The synthetic docs are
    // single-line, so the query first "line-ifies" each document into
    // width-4 word segments (the tiny vocabulary then produces genuine
    // cross-doc duplicate lines — 11-18 % of occurrences depending on
    // sf); the operator under test is the generic \n-grain
    // Dedup.dedupLines. The corpus-wide line aggregate keys on
    // xxhash64(line) — fixed 8-byte shuffle keys (the ExactSubstr
    // hashed-key lesson) — and the blocklist frame is Heaps-unbounded,
    // so it is NEVER force-broadcast (q88 lesson; AQE decides). The
    // oracle rebuilds every cleaned document and md5s it ----
    QuerySpec("q200_line_dedup", (s, d) => {
      val W = 4
      val pages = tSpread(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(0),
            ((size(split(col("text"), " ")) - 1) / W).cast("int")),
          g => concat_ws(" ",
            slice(split(col("text"), " "), g * W + 1, lit(W))))).as("text"))
      Dedup.dedupLines(pages, "text", "doc_id", minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          length(col("cleaned")).cast("long").as("kept_len"),
          md5(col("cleaned")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // the oracle line-ifies identically (width-4 word segments), then
      // replays the corpus-wide duplicate-line blocklist and rebuilds +
      // md5s every cleaned document
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |pg AS (SELECT doc_id,
        |  list_transform(range(0, CAST(ceil(len(ws)/4.0) AS BIGINT)),
        |    g -> array_to_string(
        |      ws[CAST(g*4+1 AS BIGINT):CAST(g*4+4 AS BIGINT)], ' ')) AS ls
        | FROM w),
        |ln AS (SELECT doc_id, unnest(ls) AS line,
        |        unnest(range(1, len(ls)+1)) AS pos FROM pg),
        |blk AS (SELECT trim(line) AS nl FROM ln WHERE trim(line) <> ''
        |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |fl AS (SELECT l.doc_id, l.pos, l.line, (b.nl IS NOT NULL) AS dup
        |       FROM ln l LEFT JOIN blk b ON b.nl = trim(l.line))
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(length(coalesce(string_agg(
        |    CASE WHEN NOT dup THEN line END, chr(10) ORDER BY pos), ''))
        |    AS BIGINT) AS kept_len,
        |  md5(coalesce(string_agg(
        |    CASE WHEN NOT dup THEN line END, chr(10) ORDER BY pos), ''))
        |    AS kept_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- benchmark decontamination (GPT-3-style eval-leakage check):
    // flag training docs sharing any distinct word-3-gram with the
    // held-out set (doc_id % 97 == 0 models the benchmark corpus).
    // Grams are distinct-per-doc BEFORE the explode; the tiny eval
    // side is AQE-broadcast with no forced hint ----
    QuerySpec("q189_decontaminate", (s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_hits"),
          floorBp(col("contam_frac"), 4).as("contam_frac_bp"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        | FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
        | WHERE array_length(t) >= 3),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |cg AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0),
        |nd AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
        |h AS (SELECT doc_id, count(*) AS n_hits
        | FROM cg JOIN ev USING (g) GROUP BY 1)
        |SELECT h.doc_id, nd.n_grams, h.n_hits,
        | CAST(floor(floor(h.n_hits * 10000.0 / nd.n_grams + 0.5) / 10000
        |   * 10000 + 0.5) AS BIGINT) AS contam_frac_bp
        |FROM h JOIN nd ON nd.doc_id = h.doc_id
        |ORDER BY h.doc_id""".stripMargin),

    // ---- the CLEANED CORPUS itself: q181's spans excised from the
    // text (the emit of an ExactSubstr stage — stats alone don't train
    // a model). Spans collapse to one bounded array row per doc, one
    // join back, then a map-side fold stitches the kept segments — the
    // text never shuffles beyond that single join. md5 of the rewrite
    // makes any stitching error a hash mismatch ----
    QuerySpec("q182_excised_corpus", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val spans = graft.dedup.Dedup.crossDocSpans(docs,
        "text", "doc_id", window = 40, keepFirst = true)
      graft.dedup.Dedup.exciseSpans(docs, "text", "doc_id", spans)
        .select(col("doc_id"),
          length(col("cleaned")).cast("bigint").as("kept_len"),
          md5(col("cleaned")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // the cleaned-corpus rewrite: q181's keep-first spans, then the kept
      // segments (inter-span gaps + trailing tail) stitched in order
      s"""WITH $dupWindowCteSql,
        |$windowIslandCteSql,
        |$spanSegmentsCteSql,
        |kept AS (
        | SELECT sp.doc_id,
        |  string_agg(substring(d.text, CAST(gs AS INT),
        |    CAST(coalesce(ge, d.n_chars) - gs + 1 AS INT)), ''
        |    ORDER BY gs) AS cleaned
        | FROM segs sp JOIN documents d ON d.doc_id = sp.doc_id
        | WHERE coalesce(ge, d.n_chars) >= gs
        | GROUP BY sp.doc_id),
        |cutdocs AS (SELECT DISTINCT doc_id FROM spans)
        |SELECT d.doc_id,
        | CAST(length(CASE WHEN c.doc_id IS NULL THEN d.text
        |                  ELSE coalesce(k.cleaned, '') END) AS BIGINT)
        |   AS kept_len,
        | md5(CASE WHEN c.doc_id IS NULL THEN d.text
        |          ELSE coalesce(k.cleaned, '') END) AS kept_md5
        |FROM documents d
        | LEFT JOIN cutdocs c ON c.doc_id = d.doc_id
        | LEFT JOIN kept k ON k.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ---- chunk-level dedup join: docs sharing ≥2 CDC chunks are
    // near-dup/containment candidates. One shuffle on the chunk hash,
    // map-side pair expansion, doc-frequency cap as the boilerplate
    // guard (Dedup.sharedKeyPairs — the same harness the shingle and
    // LSH paths use) ----
    QuerySpec("q91_chunk_dedup_pairs", (s, d) => {
      val tok = tSpread(s, d, "documents")
        .select(col("doc_id"), posexplode(
          split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
        .withColumn("is_b",
          (substring(md5(col("w")), 1, 1) === "0").cast("int"))
      val before = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = tok.withColumn("chunk_id",
          coalesce(sum(col("is_b")).over(before), lit(0L)))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")))).as("chunk_md5"))
      Dedup.sharedKeyPairs(chunks, "chunk_md5", "doc_id", maxIdsPerKey = 20)
        .filter(col("n_shared") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      s"""WITH $tokenChunkCteSql,
        |chunks AS (
        | SELECT DISTINCT doc_id,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
        | FROM ch GROUP BY doc_id, chunk_id),
        |freq AS (
        | SELECT chunk_md5 FROM chunks GROUP BY 1
        | HAVING count(*) BETWEEN 2 AND 20)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | count(*) AS n_shared
        |FROM chunks a
        | JOIN chunks b ON a.chunk_md5 = b.chunk_md5
        |  AND a.doc_id < b.doc_id
        | JOIN freq f ON f.chunk_md5 = a.chunk_md5
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- bloom-accelerated incremental dedup (the daily "seen this
    // content before?" gate): corpus = the stored 80 %, batch = the
    // arriving 20 %; key = 64-bit fingerprint of the 12-token prefix
    // (the news-wire prefix-dedup grain; q200's fixed-8-byte-key
    // contract — the oracle replays with prefix-string equality). The
    // corpus Bloom filter has NO false negatives, so definitely-new
    // rows are emitted from a map-side scan without ever shuffling;
    // only true dupes + the false-positive margin pay the exact
    // anti-join, whose corpus side is the stored key set, never the
    // corpus text ----
    QuerySpec("q206_bloom_incr_dedup", (s, d) => {
      import graft.sketch.BloomPrune
      val docs = tSpread(s, d, "documents")
        .withColumn("k", xxhash64(concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 1, 12))))
      val corpus = docs.filter(col("doc_id") % 10 < 8)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      BloomPrune.antiJoin(batch, corpus, "k")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, oracle =
      // exact semantics: batch docs whose 12-token prefix appears in the
      // corpus split are dropped — the Bloom filter is a pure plan
      // optimization and cannot change the result
      """WITH d AS (SELECT doc_id, n_chars,
        |  array_to_string(regexp_split_to_array(trim(text), '\s+')[1:12],
        |    ' ') AS k
        | FROM documents),
        |c AS (SELECT k FROM d WHERE doc_id % 10 < 8),
        |b AS (SELECT doc_id, n_chars, k FROM d WHERE doc_id % 10 >= 8)
        |SELECT doc_id, n_chars FROM b
        |WHERE k NOT IN (SELECT k FROM c)
        |ORDER BY doc_id""".stripMargin),

    // ---- canonical-document selection per near-dup cluster (the
    // "keep which one" half of near-dedup — FineWeb/C4 keep-longest
    // policy): clusters from the q124 simhash Hamming graph +
    // label-propagation CC, then ONE window shuffle on cluster_id —
    // rn = 1 is a per-partition top-1 (InferWindowGroupLimit), the
    // cluster-size count rides the same exchange. Output grain is
    // clusters; text never moves — only (doc_id, length) pairs reach
    // the window ----
    QuerySpec("q210_dup_canonical", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      val cc = Graph.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      val scored = docs
        .select(col("doc_id"),
          length(trim(col("text"))).cast("long").as("n"))
        .join(cc, col("doc_id") === col("id"))
      val part = Window.partitionBy(col("cluster_id"))
      val ord = part.orderBy(col("n").desc, col("doc_id"))
      scored
        .withColumn("rn", row_number().over(ord))
        .withColumn("cluster_size", count(lit(1)).over(part))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("n").as("kept_chars"), col("cluster_size"))
        .orderBy(col("cluster_id"))
    }, oracle =
      // q124's simhash + CC replay extended with the keep-longest window
      s"""WITH RECURSIVE $simhashClusterCteSql,
        |cc AS (SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id),
        |len AS (SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n FROM documents),
        |j AS (SELECT cc.cluster_id, len.doc_id, len.n,
        |  row_number() OVER (PARTITION BY cc.cluster_id
        |    ORDER BY len.n DESC, len.doc_id) AS rn,
        |  count(*) OVER (PARTITION BY cc.cluster_id) AS cluster_size
        | FROM cc JOIN len ON cc.id = len.doc_id)
        |SELECT cluster_id, doc_id AS kept_doc, n AS kept_chars, cluster_size
        |FROM j WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // ---- soft deduplication (weight duplicates down instead of
    // dropping them — each exact-dup cluster contributes ONE document's
    // worth of tokens, spread across its members): cluster sizes come
    // from one groupBy on the md5 CONTENT HASH (32-byte keys, text
    // never shuffles), weights are exact integer ppm so the effective-
    // token arithmetic replays bit-for-bit. Output: per-source raw vs
    // effective token totals — the "how much data do I really have"
    // sheet ----
    QuerySpec("q217_soft_dedup_weights", (s, d) => {
      import graft.text.TextFunctions
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("text")).as("ch"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"))
      val sizes = docs.groupBy(col("ch"))
        .agg(count(lit(1)).as("csize"))
      // the ppm-scaled sum accumulates in DECIMAL(38,0): at the 100 TB
      // corpus scale this sheet targets (~25T tokens) a BIGINT
      // accumulator exceeds 2^63; per-row products stay well inside
      // bigint, only the running total needs the headroom (`div` on a
      // decimal is IntegralDivide → the output stays BIGINT)
      docs.join(sizes, "ch")
        .select(col("source"), col("n_toks"),
          expr("1000000L div csize").as("w_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("raw_tokens"),
          sum((col("n_toks") * col("w_ppm")).cast("decimal(38,0)"))
            .as("eff_tokens_ppm"))
        .select(col("source"), col("n_docs"), col("raw_tokens"),
          expr("eff_tokens_ppm div 1000000L").as("eff_tokens"))
        .orderBy(col("source"))
    }, oracle =
      // exact integer ppm weights: 1e6 // cluster_size replays bit-for-bit
      """WITH docs AS (SELECT doc_id, source, md5(text) AS ch,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS n_toks
        | FROM documents),
        |sizes AS (SELECT ch, count(*) AS csize FROM docs GROUP BY ch),
        |j AS (SELECT source, CAST(n_toks AS BIGINT) AS n_toks,
        |  1000000 // csize AS w_ppm FROM docs JOIN sizes USING (ch))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
        |  CAST(sum(n_toks * w_ppm) // 1000000 AS BIGINT) AS eff_tokens
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    // ---- cross-source duplication matrix (the provenance data card:
    // which source pairs share near-duplicated content — mirror-site /
    // scraped-from-each-other detection, and the input to choosing
    // which source wins q210's canonical selection): q23's MinHash-LSH
    // transitive clusters reduced to (cluster, source, count) — at
    // most |sources| rows per cluster — then a cluster-key self-join
    // whose per-key fan-out is ≤ |sources|², NEVER doc×doc; the
    // within-source diagonal is pure arithmetic on the same frame.
    // Output is ≤ |sources|² rows at any corpus size ----
    QuerySpec("q245_cross_source_dups", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val cc = Dedup.minhashClustersTransitive(docs, "text", "doc_id")
      val hs = docs.select(col("doc_id"), col("source"))
        .join(cc, col("doc_id") === col("id"))
        .groupBy(col("cluster_id"), col("source")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // clustering is expensive; both consumers reuse
      val cross = hs.as("a").join(hs.as("b"),
          col("a.cluster_id") === col("b.cluster_id") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("a.c") * col("b.c")).as("n_pairs"))
      val within = hs.filter(col("c") >= 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(expr("c * (c - 1) div 2")).as("n_pairs"))
        .select(col("source").as("src_a"), col("source").as("src_b"),
          col("n_clusters"), col("n_pairs"))
      cross.unionByName(within).orderBy(col("src_a"), col("src_b"))
    }, oracle =
      // cross-source matrix replay: the shared minhash clustering CTE,
      // then the same (cluster, source, count) reduction + pair algebra.
      s"""$minhashClusterCteSql,
        |cc AS (SELECT id, min(c) AS cluster_id FROM lbl GROUP BY id),
        |hs AS (
        | SELECT cc.cluster_id, d.source, count(*) AS c
        | FROM cc JOIN documents d ON cc.id = d.doc_id
        | GROUP BY 1, 2),
        |cross0 AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS n_clusters, sum(a.c * b.c) AS n_pairs
        | FROM hs a JOIN hs b ON a.cluster_id = b.cluster_id
        |  AND a.source < b.source
        | GROUP BY 1, 2),
        |within0 AS (
        | SELECT source AS src_a, source AS src_b,
        |  count(*) AS n_clusters, sum(c * (c - 1) // 2) AS n_pairs
        | FROM hs WHERE c >= 2 GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(n_clusters AS BIGINT) AS n_clusters,
        | CAST(n_pairs AS BIGINT) AS n_pairs
        |FROM (SELECT * FROM cross0 UNION ALL SELECT * FROM within0)
        |ORDER BY src_a, src_b""".stripMargin),

    // ---- dedup-threshold yield curve (the tuning card for q22/q23's
    // Jaccard cutoff: how many pairs — and how many DOCS — would be
    // flagged at each threshold, so the dedup rate is chosen from
    // evidence, not folklore): exact 3-gram Jaccard over the capped
    // LSH-style candidate pairs, histogrammed into 10 threshold bands;
    // the ≥-threshold cumulatives run on the ≤ 11-row band spine, so
    // nothing after the candidate machinery is corpus-sized ----
    QuerySpec("q247_dedup_yield_curve", (s, d) => {
      val pairs = Dedup.ngramJaccardPairs(tSpread(s, d, "documents"),
          "text", "doc_id", n = 3, threshold = 0.0, maxShingleFreq = 1000)
        .withColumn("j4", expr("cast(round(jaccard * 10000) as bigint)"))
        .localCheckpoint() // candidate machinery feeds both histograms
      val pairHist = pairs.groupBy(expr("j4 div 1000").as("band"))
        .agg(count(lit(1)).as("c"))
      val docHist = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"), col("j4"))
        .groupBy(col("id")).agg(max(col("j4")).as("mj"))
        .groupBy(expr("mj div 1000").as("band"))
        .agg(count(lit(1)).as("c"))
      val spine = s.range(0, 11).select(col("id").as("k"))
      val pc = spine.join(pairHist, pairHist("band") >= spine("k"), "left")
        .groupBy(col("k")).agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
      val dc = spine.join(docHist, docHist("band") >= spine("k"), "left")
        .groupBy(col("k")).agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"))
      pc.join(dc, Seq("k"))
        .select((col("k") * 1000).cast("bigint").as("threshold_bp"),
          col("n_pairs"), col("n_docs"))
        .orderBy(col("threshold_bp"))
    }, oracle =
      // yield-curve replay: q22's candidate CTEs without the threshold
      // filter, the same integer-band histograms and spine cumulatives.
      s"""WITH $shingleOverlapCteSql,
        |pj AS (
        |  SELECT id_a, id_b,
        |   CAST(round((floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5)
        |     / 10000) * 10000) AS BIGINT) AS j4
        |  FROM pairs
        |   JOIN sizes sa ON sa.doc_id = id_a
        |   JOIN sizes sb ON sb.doc_id = id_b),
        |ph AS (SELECT j4 // 1000 AS band, count(*) AS c FROM pj GROUP BY 1),
        |dm AS (SELECT id, max(j4) AS mj FROM (
        |  SELECT id_a AS id, j4 FROM pj
        |  UNION ALL SELECT id_b AS id, j4 FROM pj) GROUP BY id),
        |dh AS (SELECT mj // 1000 AS band, count(*) AS c FROM dm GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 11)) AS k),
        |pc AS (SELECT k, coalesce(sum(c), 0) AS n_pairs
        |       FROM spine LEFT JOIN ph ON band >= k GROUP BY k),
        |dc AS (SELECT k, coalesce(sum(c), 0) AS n_docs
        |       FROM spine LEFT JOIN dh ON band >= k GROUP BY k)
        |SELECT CAST(k * 1000 AS BIGINT) AS threshold_bp,
        | CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_docs AS BIGINT) AS n_docs
        |FROM pc JOIN dc USING (k) ORDER BY threshold_bp""".stripMargin),

    // ---- verbatim eval-set contamination spans (the exact-substring
    // strengthening of q189's n-gram flag: WHICH bytes of which train
    // docs appear verbatim in the benchmark — q189 says "overlaps",
    // this says "these 40+ chars leaked"): the benchmark (doc_id%7==0 —
    // big enough to intersect at every sf) collapses to window hashes
    // that AQE broadcasts; train text shuffles only its FLAGGED
    // windows for the island merge ----
    QuerySpec("q251_contamination_spans", (s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.contaminationSpans(docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          window = 40)
        .orderBy(col("doc_id"), col("span_start"))
    }, oracle =
      // contamination-span replay: q180's window CTEs with the benchmark
      // existence set in place of the n_docs > 1 stats.
      s"""WITH $benchSpanCteSql
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin),

    // ---- dup-cluster × quality interaction card ("are near-dups
    // lower quality?" — the classic curation finding that justifies
    // dedup-before-filter ordering): q244's simhash CC clusters bucket
    // docs by cluster size; per bucket the EXACT integer mean of the
    // q46 quality score and the low-quality rate. One window-free
    // plan: cluster sizes from a cluster-key aggregate, quality a
    // codegen projection, the rollup ≤ 5 rows ----
    QuerySpec("q258_dup_quality_card", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      // r13: cc feeds both the doc join and the cluster-size aggregate;
      // its labels are checkpointed internally but the final id⋈label
      // join re-ran per consumer — persist the 2-long frame once
      val cc = Graph.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs).persist()
      val csz = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("csz"))
      docs
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"))
        .withColumn("q10k", expr("cast(round(q * 10000) as bigint)"))
        .join(cc, col("doc_id") === col("id"))
        .join(csz, Seq("cluster_id"))
        .withColumn("size_bucket",
          when(col("csz") === 1, "1_unique")
            .when(col("csz") === 2, "2")
            .when(col("csz") <= 4, "3-4")
            .when(col("csz") <= 8, "5-8")
            .otherwise("9+"))
        .groupBy(col("size_bucket"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          expr("sum(q10k) div count(1)").as("mean_q10k"),
          // exact BIGINT bp (PLANS.md output typing)
          expr("(sum(case when q10k < 500 then 1 else 0 end) * 10000" +
            " + count(1) div 2) div count(1)").as("low_q_rate_bp"))
        .orderBy(col("size_bucket"))
    }, oracle =
      // dup-quality replay: q244's simhash CC CTEs + the same bucket
      // algebra with exact integer means.
      s"""WITH RECURSIVE $simhashClusterCteSql,
        |cc AS (SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id),
        |cz AS (SELECT cluster_id, count(*) AS csz FROM cc GROUP BY 1),
        |qs AS (
        | SELECT doc_id, CAST(round((CASE WHEN length(trim(text)) = 0 THEN 0.0
        |  ELSE round(length(regexp_extract_all(lower(text),
        |    '\\b(the|a|an|and|of|to|in|is|it|that)\\b'))::DOUBLE /
        |    array_length(regexp_split_to_array(trim(text), '\\s+')), 4)
        |  END) * 10000) AS BIGINT) AS q10k
        | FROM documents),
        |j AS (
        | SELECT CASE WHEN csz = 1 THEN '1_unique'
        |   WHEN csz = 2 THEN '2'
        |   WHEN csz <= 4 THEN '3-4'
        |   WHEN csz <= 8 THEN '5-8' ELSE '9+' END AS size_bucket,
        |  cc.cluster_id, qs.q10k
        | FROM cc JOIN cz ON cc.cluster_id = cz.cluster_id
        |  JOIN qs ON cc.id = qs.doc_id)
        |SELECT size_bucket,
        | CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(q10k) // count(*) AS BIGINT) AS mean_q10k,
        | CAST((sum(CASE WHEN q10k < 500 THEN 1 ELSE 0 END) * 10000
        |  + count(*) // 2) // count(*) AS BIGINT) AS low_q_rate_bp
        |FROM j GROUP BY size_bucket ORDER BY size_bucket""".stripMargin),

    // ---- the DECONTAMINATED corpus itself (q251 tells you which
    // bytes leaked; this ships the training set with them excised —
    // surgical removal instead of q189's whole-doc deletion, the
    // Lee et al. ExactSubstr treatment applied to eval leakage):
    // q251's spans collapse to one bounded array row per doc, one
    // join back, a map-side fold stitches the kept segments; md5
    // makes any stitching error a hash mismatch ----
    QuerySpec("q259_decontaminated_corpus", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val bench = docs.filter(col("doc_id") % 7 === 0)
      val spans = Dedup.contaminationSpans(train, bench, "text", "doc_id",
        window = 40)
      Dedup.exciseSpans(train, "text", "doc_id", spans)
        .select(col("doc_id"),
          length(col("cleaned")).cast("bigint").as("kept_len"),
          md5(col("cleaned")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // decontaminated-corpus replay: q251's span CTEs + q182's segment
      // stitch, over the train split only.
      s"""WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |tr AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM tr d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40),
        |bench AS (
        | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 7 = 0),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN bench b ON b.win = o.win),
        |$windowIslandCteSql,
        |$spanSegmentsCteSql,
        |kept AS (
        | SELECT sp.doc_id,
        |  string_agg(substring(d.text, CAST(gs AS INT),
        |    CAST(coalesce(ge, d.n_chars) - gs + 1 AS INT)), ''
        |    ORDER BY gs) AS cleaned
        | FROM segs sp JOIN tr d ON d.doc_id = sp.doc_id
        | WHERE coalesce(ge, d.n_chars) >= gs
        | GROUP BY sp.doc_id),
        |cutdocs AS (SELECT DISTINCT doc_id FROM spans)
        |SELECT d.doc_id,
        | CAST(length(CASE WHEN c.doc_id IS NULL THEN d.text
        |                  ELSE coalesce(k.cleaned, '') END) AS BIGINT)
        |   AS kept_len,
        | md5(CASE WHEN c.doc_id IS NULL THEN d.text
        |          ELSE coalesce(k.cleaned, '') END) AS kept_md5
        |FROM tr d
        | LEFT JOIN cutdocs c ON c.doc_id = d.doc_id
        | LEFT JOIN kept k ON k.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ---- MinHash estimator accuracy audit (the sketch-parameter
    // card: how far is the 64-permutation estimate from the exact
    // shingle Jaccard on the LSH candidate pairs — the evidence for
    // choosing 64 hashes / 16 bands instead of folklore): est =
    // matching signature coordinates / 64, exact = set Jaccard over
    // the SAME distinct-3-gram universe; |err| histogrammed into
    // 0.05-wide bands. Pairs carry two ~64-slot arrays each — the
    // candidate frame is LSH-bounded, never doc×doc. (At 100 TB the
    // bucket self-join would take the sharedKeyPairs frequency cap;
    // the oracle's uncapped semantics match at test scale) ----
    QuerySpec("q260_minhash_accuracy", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("text"),
          split(trim(col("text")), "\\s+").as("ts"))
      val side = Dedup.minhashSignature(docs, "text", "doc_id")
        .filter(col("minhash_sig").isNotNull)
        .select(col("doc_id").as("id"), col("minhash_sig").as("sig"),
          expr("array_distinct(transform(sequence(1, size(ts) - 2), " +
            "i -> array_join(slice(ts, i, 3), ' ')))").as("shingles"))
        .localCheckpoint() // one signature pass feeds buckets + compare
      val b = Dedup.lshBuckets(side.select(col("id"),
        col("sig").as("minhash_sig")), "id")
      val pairs = b.as("a").join(b.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      pairs
        .join(side.select(col("id").as("id_a"), col("sig").as("sa"),
          col("shingles").as("ha")), Seq("id_a"))
        .join(side.select(col("id").as("id_b"), col("sig").as("sb"),
          col("shingles").as("hb")), Seq("id_b"))
        .withColumn("est10k", expr(
          "cast(aggregate(zip_with(sa, sb, (x, y) -> " +
            "case when x = y then 1 else 0 end), 0, (acc, v) -> acc + v)" +
            " as bigint) * 10000 div 64"))
        .withColumn("inter",
          size(expr("array_intersect(ha, hb)")).cast("bigint"))
        .withColumn("exact10k", expr(
          "cast(floor(inter * 10000 / " +
            "(size(ha) + size(hb) - inter) + 0.5) as bigint)"))
        .groupBy((abs(col("est10k") - col("exact10k")) / lit(500))
          .cast("bigint").as("err_band"))
        .agg(count(lit(1)).as("n_pairs"))
        .select((col("err_band") * 500).as("err_band_bp"), col("n_pairs"))
        .orderBy(col("err_band_bp"))
    }, oracle =
      // minhash-accuracy replay: the shared signature/bucket CTEs, the
      // same coordinate-match estimate and distinct-shingle exact.
      s"""$minhashClusterCteSql,
        |pj AS (
        | SELECT p.id_a, p.id_b,
        |  CAST(list_sum(list_transform(range(1, 65), j ->
        |    CASE WHEN sa.sg[CAST(j AS INT)] = sb.sg[CAST(j AS INT)]
        |     THEN 1 ELSE 0 END)) AS BIGINT) * 10000 // 64 AS est10k,
        |  len(list_intersect(ha.shingles, hb.shingles)) AS inter,
        |  len(ha.shingles) AS la, len(hb.shingles) AS lb
        | FROM pairs p
        |  JOIN sigs sa ON sa.doc_id = p.id_a
        |  JOIN sigs sb ON sb.doc_id = p.id_b
        |  JOIN sh ha ON ha.doc_id = p.id_a
        |  JOIN sh hb ON hb.doc_id = p.id_b),
        |e AS (
        | SELECT est10k,
        |  CAST(floor(inter * 10000 / (la + lb - inter) + 0.5) AS BIGINT)
        |   AS exact10k
        | FROM pj)
        |SELECT CAST((abs(est10k - exact10k) // 500) * 500 AS BIGINT)
        |  AS err_band_bp,
        | CAST(count(*) AS BIGINT) AS n_pairs
        |FROM e GROUP BY 1 ORDER BY err_band_bp""".stripMargin),

    // ---- LSH S-curve, measured (the companion to q260: the textbook
    // candidate probability 1−(1−s^r)^b, VERIFIED against this corpus
    // — per exact-Jaccard band, what fraction of co-shingle pairs did
    // the 16×4 banding actually surface?): the universe is q22's
    // capped co-shingle pairs, candidates are q23's bucket pairs, ONE
    // two-key join between the two audited frames; output ≤ 11 rows ----
    QuerySpec("q263_lsh_s_curve", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          n = 3, threshold = 0.0, maxShingleFreq = 1000)
        .withColumn("j4", expr("cast(round(jaccard * 10000) as bigint)"))
      val b = Dedup.lshBuckets(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id")
      val cand = b.as("a").join(b.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
        .withColumn("is_cand", lit(true))
      exact.join(cand, Seq("id_a", "id_b"), "left")
        .groupBy(expr("j4 div 1000").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_candidates"))
        .select((col("band") * 1000).cast("bigint").as("jaccard_band_bp"),
          col("n_pairs"), col("n_candidates"),
          // exact BIGINT bp (PLANS.md output typing)
          expr("(n_candidates * 10000 + n_pairs div 2) div n_pairs")
            .as("candidate_rate_bp"))
        .orderBy(col("jaccard_band_bp"))
    }, oracle =
      // S-curve replay: the shared signature/bucket CTEs give the
      // candidates; q22's capped co-shingle pairs give the universe.
      s"""$minhashClusterCteSql,
        |shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |shc AS (
        | SELECT doc_id, shingle FROM (
        |  SELECT doc_id, shingle,
        |   count(*) OVER (PARTITION BY shingle) AS freq
        |  FROM shx)
        | WHERE freq <= 1000),
        |ep AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        | FROM shc a JOIN shc b
        |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |pj AS (
        | SELECT id_a, id_b,
        |  CAST(round((floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5)
        |    / 10000) * 10000) AS BIGINT) AS j4
        | FROM ep
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b),
        |j AS (
        | SELECT pj.j4, CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END
        |   AS is_cand
        | FROM pj LEFT JOIN pairs p
        |  ON p.id_a = pj.id_a AND p.id_b = pj.id_b)
        |SELECT CAST((j4 // 1000) * 1000 AS BIGINT) AS jaccard_band_bp,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(is_cand) AS BIGINT) AS n_candidates,
        | CAST((sum(is_cand) * 10000 + count(*) // 2) // count(*)
        |   AS BIGINT) AS candidate_rate_bp
        |FROM j GROUP BY 1 ORDER BY jaccard_band_bp""".stripMargin),

    // ---- dedup attribution funnel (which stage actually removes the
    // tokens? — the card that settles stage ORDERING debates: exact
    // hash → MinHash near-dup → ExactSubstr excision, with first-flag
    // precedence): all three flags come from audited machineries
    // (q21's hash window, q23's transitive clusters, q181's keep-first
    // spans) computed on the full corpus and joined doc-grain; the
    // rollup is 4 rows. Tokens counted once, charged to the FIRST
    // stage that would have removed the doc ----
    QuerySpec("q264_dedup_attribution", (s, d) => {
      val docs = tSpread(s, d, "documents")
      // exact-hash flag and token count share ONE corpus scan (r13): the
      // window over chash rides the same projection, which also drops a
      // doc-grain join from the assembly below (4 corpus scans → 3).
      val ex = docs
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_toks"),
          md5(lower(trim(col("text")))).as("chash"))
        .withColumn("ex_min",
          min(col("doc_id")).over(Window.partitionBy(col("chash"))))
        .select(col("doc_id"), col("n_toks"),
          (col("doc_id") > col("ex_min")).as("f_exact"))
      val cc = Dedup.minhashClustersTransitive(docs, "text", "doc_id")
        .select(col("id").as("doc_id"),
          (col("id") > col("cluster_id")).as("f_near"))
      val cut = Dedup.crossDocSpans(docs, "text", "doc_id",
          window = 40, keepFirst = true)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("chars_cut"))
      ex
        .join(cc, Seq("doc_id"))
        .join(cut, Seq("doc_id"), "left")
        .withColumn("removed_by",
          when(col("f_exact"), "1_exact")
            .when(col("f_near"), "2_near_dup")
            .when(col("chars_cut").isNotNull, "3_substr_excised")
            .otherwise("4_kept"))
        .groupBy(col("removed_by"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(coalesce(col("chars_cut"), lit(0L))).as("chars_cut"))
        .orderBy(col("removed_by"))
    }, oracle =
      // attribution replay: q21's hash window + the shared minhash
      // clusters + q181's keep-first span CTEs, first-flag precedence.
      s"""$minhashClusterCteSql,
        |cc2 AS (SELECT id, min(c) AS cluster_id FROM lbl GROUP BY id),
        |ex AS (
        | SELECT doc_id, doc_id > min(doc_id) OVER (
        |   PARTITION BY md5(lower(trim(text)))) AS f_exact
        | FROM documents),
        |pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40),
        |stats AS (
        | SELECT win, min(doc_id) AS min_did FROM occ GROUP BY 1),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN stats st ON st.win = o.win
        | WHERE o.doc_id > st.min_did),
        |$windowIslandCteSql,
        |spans AS (
        | SELECT doc_id, min(p) AS sp, max(e) AS ep
        | FROM isl GROUP BY doc_id, island),
        |cut AS (
        | SELECT doc_id, sum(ep - sp + 1) AS chars_cut
        | FROM spans GROUP BY doc_id),
        |tk AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END
        |   AS n_toks
        | FROM documents),
        |j AS (
        | SELECT CASE WHEN ex.f_exact THEN '1_exact'
        |   WHEN cc2.id > cc2.cluster_id THEN '2_near_dup'
        |   WHEN cut.chars_cut IS NOT NULL THEN '3_substr_excised'
        |   ELSE '4_kept' END AS removed_by,
        |  tk.n_toks, coalesce(cut.chars_cut, 0) AS chars_cut
        | FROM tk
        |  JOIN ex ON ex.doc_id = tk.doc_id
        |  JOIN cc2 ON cc2.id = tk.doc_id
        |  LEFT JOIN cut ON cut.doc_id = tk.doc_id)
        |SELECT removed_by, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | CAST(sum(chars_cut) AS BIGINT) AS chars_cut
        |FROM j GROUP BY removed_by ORDER BY removed_by""".stripMargin),

    // ---- SimHash bit-balance audit (the sketch-health companion to
    // q260/q263: a biased signature bit carries < 1 bit of Hamming
    // discrimination and wastes banding power — this measures all 64):
    // one signature pass, a 64-way bounded explode, a bit-grain
    // aggregate (map-side combining to 64 rows per partition) ----
    QuerySpec("q265_simhash_bit_balance", (s, d) => {
      val sig = Dedup.simhash(tSpread(s, d, "documents"), "text", "doc_id")
      val n = sig.agg(count(lit(1)).as("n"))
      sig.select(col("simhash"),
          explode(sequence(lit(0), lit(63))).as("bit"))
        .withColumn("one",
          expr("shiftright(simhash, cast(bit as int)) & cast(1 as bigint)"))
        .groupBy(col("bit"))
        .agg(sum(col("one")).as("n_ones"))
        .crossJoin(broadcast(n))
        .select(col("bit").cast("bigint").as("bit"), col("n_ones"),
          expr("n_ones * 10000 div n").as("balance_bp"),
          expr("abs(n_ones * 2 - n) * 10000 div n").as("bias_bp"))
        .orderBy(col("bit"))
    }, oracle =
      // bit-balance replay: q24's signature CTEs, arithmetic-shift bit
      // extraction ((s >> b) & 1 — sign-fill only touches positions
      // above bit 0, so signed shift is exact in both engines).
      s"""WITH $simhashSigCteSql,
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |nn AS (SELECT count(*) AS n FROM s2),
        |bits AS (SELECT s, unnest(range(0, 64)) AS bit FROM s2),
        |g AS (SELECT bit, sum((s >> CAST(bit AS INT)) & 1) AS n_ones
        |      FROM bits GROUP BY 1)
        |SELECT CAST(bit AS BIGINT) AS bit, CAST(n_ones AS BIGINT) AS n_ones,
        | CAST(n_ones * 10000 // n AS BIGINT) AS balance_bp,
        | CAST(abs(n_ones * 2 - n) * 10000 // n AS BIGINT) AS bias_bp
        |FROM g CROSS JOIN nn ORDER BY bit""".stripMargin),

    // ---- packed-attention contamination card (GPT-style packing
    // (q172/q226) lets attention cross document boundaries — this
    // measures the leak: for context lengths 256..2048, the share of
    // causal token PAIRS inside a chunk that span two documents,
    // computed in closed form from span lengths — Σᵢⱼ = m(m−1)/2 −
    // Σ span(span−1)/2, no pair ever materialized): the GlobalOrder
    // running sum computes ONCE (localCheckpoint); each L is a
    // bounded chunk explode + two aggregates ----
    QuerySpec("q270_attention_contamination", (s, d) => {
      import graft.operators.GlobalOrder
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
      val base = GlobalOrder.withRunningSumLong(docs, Seq(col("doc_id")),
          col("n_tok"), "cum")
        .withColumn("off", col("cum") - col("n_tok"))
        .filter(col("n_tok") > 0)
        .localCheckpoint()
      Seq(256L, 512L, 1024L, 2048L).map { l =>
        base
          .withColumn("chunk", explode(sequence(
            expr(s"off div $l"), expr(s"(off + n_tok - 1) div $l"))))
          .withColumn("span",
            least((col("chunk") + 1) * l, col("off") + col("n_tok")) -
              greatest(col("chunk") * l, col("off")))
          .groupBy(col("chunk"))
          .agg(sum(col("span")).as("m"),
            sum(expr("span * (span - 1) div 2")).as("within"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(expr("m * (m - 1) div 2")).as("total_pairs"),
            sum(col("within")).as("within_pairs"))
          // exact BIGINT bp (PLANS.md output typing); total_pairs·10⁴
          // passes Long at 100 TB chunk counts, so the product rides
          // decimal(38,0) and narrows after the div
          .select(lit(l).as("context_len"), col("n_chunks"),
            col("total_pairs"),
            (col("total_pairs") - col("within_pairs"))
              .as("cross_doc_pairs"),
            expr("case when total_pairs > 0 then cast((cast(total_pairs " +
              "- within_pairs as decimal(38,0)) * 10000 + total_pairs " +
              "div 2) div cast(total_pairs as decimal(38,0)) as bigint) " +
              "end").as("cross_share_bp"))
      }.reduce(_ unionByName _).orderBy(col("context_len"))
    }, oracle =
      // attention-contamination replay: q226's running-sum/chunk CTEs
      // crossed with the L spine, same closed-form pair algebra.
      """WITH t AS (
        | SELECT doc_id, CAST(length(regexp_extract_all(text, '\w+|[^\w\s]'))
        |   AS BIGINT) AS n_tok
        | FROM documents),
        |r AS (
        | SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM t),
        |b AS (SELECT doc_id, n_tok, cum - n_tok AS off
        |      FROM r WHERE n_tok > 0),
        |ls AS (SELECT unnest([256, 512, 1024, 2048]) AS L),
        |e AS (
        | SELECT L, off, n_tok,
        |  unnest(range(CAST(off // L AS BIGINT),
        |    CAST((off + n_tok - 1) // L + 1 AS BIGINT))) AS chunk
        | FROM b CROSS JOIN ls),
        |sp AS (
        | SELECT L, chunk,
        |  least((chunk + 1) * L, off + n_tok) - greatest(chunk * L, off)
        |   AS span
        | FROM e),
        |c AS (
        | SELECT L, chunk, sum(span) AS m,
        |  sum(span * (span - 1) // 2) AS within
        | FROM sp GROUP BY 1, 2)
        |SELECT CAST(L AS BIGINT) AS context_len,
        | CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(m * (m - 1) // 2) AS BIGINT) AS total_pairs,
        | CAST(sum(m * (m - 1) // 2) - sum(within) AS BIGINT)
        |  AS cross_doc_pairs,
        | CAST(CASE WHEN sum(m * (m - 1) // 2) > 0 THEN
        |  (CAST(sum(m * (m - 1) // 2) - sum(within) AS HUGEINT) * 10000
        |   + sum(m * (m - 1) // 2) // 2) // sum(m * (m - 1) // 2)
        |  END AS BIGINT) AS cross_share_bp
        |FROM c GROUP BY L ORDER BY context_len""".stripMargin),

    // ---- contamination burden by source (which sources leak eval
    // content — the provenance rollup of q251 that decides whether a
    // source gets dropped or excised): q251's audited span machinery
    // collapses to per-doc leaked chars, then ONE source-grain
    // aggregate over the train split; leak rate in exact integer ppm ----
    QuerySpec("q272_contamination_by_source", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val leaked = Dedup.contaminationSpans(train,
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          window = 40)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("leaked"))
      train.select(col("doc_id"), col("source"), col("n_chars"))
        .join(leaked, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("leaked").isNotNull, 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(col("n_chars")).as("total_chars"),
          sum(coalesce(col("leaked"), lit(0L))).as("leaked_chars"))
        .withColumn("leak_ppm",
          expr("leaked_chars * 1000000 div total_chars"))
        .orderBy(col("source"))
    }, oracle =
      // burden replay: q251's span CTEs collapsed per doc, then the
      // same source rollup over the train split.
      s"""WITH $benchSpanCteSql,
        |spans AS (
        | SELECT doc_id, min(p) AS sp, max(e) AS ep
        | FROM isl GROUP BY doc_id, island),
        |lk AS (SELECT doc_id, sum(ep - sp + 1) AS leaked
        |       FROM spans GROUP BY doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN lk.leaked IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_contaminated,
        | CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(coalesce(lk.leaked, 0)) AS BIGINT) AS leaked_chars,
        | CAST(sum(coalesce(lk.leaked, 0)) * 1000000 // sum(d.n_chars)
        |   AS BIGINT) AS leak_ppm
        |FROM documents d LEFT JOIN lk ON lk.doc_id = d.doc_id
        |WHERE d.doc_id % 7 <> 0
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // ---- benchmark memorization exposure (q251/q272 ask what the
    // TRAIN side leaked; this asks the reverse — what fraction of the
    // BENCHMARK's distinct 40-char windows already exist in training
    // text, i.e. how much of the eval set a perfect memorizer gets
    // for free): two distinct window-hash sets, one existence join,
    // 1-row output in exact basis points ----
    QuerySpec("q273_bench_exposure", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      def wins(df: DataFrame) = df.filter(col("n_chars") >= 40)
        .select(col("text"), explode(sequence(lit(1L),
          col("n_chars") - 39)).as("p"))
        .select(xxhash64(expr("substring(text, cast(p as int), 40)"))
          .as("wh"))
        .distinct()
      val bench = wins(docs.filter(col("doc_id") % 7 === 0))
      val train = wins(docs.filter(col("doc_id") % 7 =!= 0))
        .withColumn("_hit", lit(true))
      bench.join(train, Seq("wh"), "left")
        .agg(count(lit(1)).as("bench_windows"),
          sum(when(col("_hit"), 1L).otherwise(0L)).as("windows_found"))
        .select(col("bench_windows"), col("windows_found"),
          expr("windows_found * 10000 div bench_windows")
            .as("exposure_bp"))
    }, oracle =
      // exposure replay: distinct window STRINGS both sides (the Spark
      // side hashes — q180's accepted hash-vs-string equivalence).
      """WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |bw AS (
        | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 7 = 0),
        |tw AS (
        | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 7 <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS bench_windows,
        | CAST(sum(CASE WHEN tw.win IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS windows_found,
        | CAST(sum(CASE WHEN tw.win IS NOT NULL THEN 1 ELSE 0 END) * 10000
        |   // count(*) AS BIGINT) AS exposure_bp
        |FROM bw LEFT JOIN tw ON tw.win = bw.win""".stripMargin),

    // ---- SimHash Hamming yield curve (q247 tuned the Jaccard
    // cutoff; this tunes the OTHER near-dup family's threshold: pairs
    // and docs flagged at each Hamming distance 0..3 — the banded
    // candidate generator is pigeonhole-complete exactly to distance
    // nBands−1, so the curve is exact over its provable range): the
    // audited banded pairs, one histogram, ≤ 4-row spine cumulatives ----
    QuerySpec("q274_simhash_yield_curve", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id",
          maxHamming = 3)
        .localCheckpoint() // feeds the pair and doc histograms
      val ph = pairs.groupBy(col("hamming").as("hd"))
        .agg(count(lit(1)).as("c"))
      val dh = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("id"),
          col("hamming"))
        .groupBy(col("id")).agg(min(col("hamming")).as("mh"))
        .groupBy(col("mh").as("hd")).agg(count(lit(1)).as("c"))
      val spine = s.range(0, 4).select(col("id").as("t"))
      val pc = spine.join(ph, ph("hd") <= spine("t"), "left")
        .groupBy(col("t")).agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
      val dc = spine.join(dh, dh("hd") <= spine("t"), "left")
        .groupBy(col("t")).agg(coalesce(sum(col("c")), lit(0L)).as("n_docs"))
      pc.join(dc, Seq("t"))
        .select(col("t").as("hamming_le"), col("n_pairs"), col("n_docs"))
        .orderBy(col("hamming_le"))
    }, oracle =
      // simhash-yield replay: q24's signature CTEs, brute all-pairs ≤ 3
      // (the banded engine path is pigeonhole-complete on that range —
      // DedupSpec proves banded == brute), same spine cumulatives.
      s"""WITH $simhashSigCteSql,
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |pr AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.s, b.s)) AS hd
        | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |ph AS (SELECT hd, count(*) AS c FROM pr GROUP BY 1),
        |dm AS (SELECT id, min(hd) AS mh FROM (
        |  SELECT id_a AS id, hd FROM pr
        |  UNION ALL SELECT id_b AS id, hd FROM pr) GROUP BY id),
        |dh AS (SELECT mh AS hd, count(*) AS c FROM dm GROUP BY 1),
        |sp AS (SELECT unnest(range(0, 4)) AS t),
        |pc AS (SELECT t, coalesce(sum(c), 0) AS n_pairs
        |       FROM sp LEFT JOIN ph ON hd <= t GROUP BY t),
        |dc AS (SELECT t, coalesce(sum(c), 0) AS n_docs
        |       FROM sp LEFT JOIN dh ON hd <= t GROUP BY t)
        |SELECT CAST(t AS BIGINT) AS hamming_le,
        | CAST(n_pairs AS BIGINT) AS n_pairs,
        | CAST(n_docs AS BIGINT) AS n_docs
        |FROM pc JOIN dc USING (t) ORDER BY hamming_le""".stripMargin),

    // ---- dedup-family agreement card (do MinHash-LSH and SimHash
    // surface the SAME candidate pairs? — the cross-check that catches
    // a mis-parameterized family before it silently under-dedups):
    // both audited candidate generators, ONE full-outer join on the
    // pair key, 1-row counts + agreement in exact basis points ----
    QuerySpec("q275_dedup_family_agreement", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val b = Dedup.lshBuckets(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id")
      val mh = b.as("a").join(b.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
        .withColumn("in_mh", lit(true))
      val sh = Dedup.simhashHammingPairs(docs, "text", "doc_id",
          maxHamming = 3)
        .select(col("id_a"), col("id_b")).distinct()
        .withColumn("in_sh", lit(true))
      mh.join(sh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("in_mh").isNotNull && col("in_sh").isNull, 1L)
            .otherwise(0L)).as("n_minhash_only"),
          sum(when(col("in_mh").isNull && col("in_sh").isNotNull, 1L)
            .otherwise(0L)).as("n_simhash_only"))
        .select(col("n_both"), col("n_minhash_only"), col("n_simhash_only"),
          expr("case when n_both + n_minhash_only + n_simhash_only > 0 " +
            "then n_both * 10000 div " +
            "(n_both + n_minhash_only + n_simhash_only) end")
            .as("agreement_bp"))
    }, oracle =
      // agreement replay: the shared minhash candidate CTEs plus a
      // suffixed simhash chain (CTE names must not collide), full-outer
      // joined on the pair key.
      s"""$minhashClusterCteSql,
        |mp AS (SELECT id_a, id_b FROM pairs),
        |t2 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |h2 AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM t2),
        |v2 AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM h2),
        |g2 AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM v2),
        |x2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM g2),
        |sp AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM x2 a JOIN x2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |j AS (
        | SELECT
        |  CASE WHEN mp.id_a IS NOT NULL AND sp.id_a IS NOT NULL
        |   THEN 1 ELSE 0 END AS both_f,
        |  CASE WHEN mp.id_a IS NOT NULL AND sp.id_a IS NULL
        |   THEN 1 ELSE 0 END AS mh_f,
        |  CASE WHEN mp.id_a IS NULL AND sp.id_a IS NOT NULL
        |   THEN 1 ELSE 0 END AS sh_f
        | FROM mp FULL OUTER JOIN sp
        |  ON mp.id_a = sp.id_a AND mp.id_b = sp.id_b)
        |SELECT CAST(sum(both_f) AS BIGINT) AS n_both,
        | CAST(sum(mh_f) AS BIGINT) AS n_minhash_only,
        | CAST(sum(sh_f) AS BIGINT) AS n_simhash_only,
        | CAST(CASE WHEN sum(both_f) + sum(mh_f) + sum(sh_f) > 0 THEN
        |  sum(both_f) * 10000 // (sum(both_f) + sum(mh_f) + sum(sh_f))
        |  END AS BIGINT) AS agreement_bp
        |FROM j""".stripMargin),

    // ---- near-dup cluster-size spectrum (the distribution behind
    // every dedup decision in this corpus: how many clusters of each
    // size, and what share of documents they hold): q23's transitive
    // clusters → one cluster-key aggregate → a size-grain histogram
    // (bounded by the max cluster size); doc share in exact ppm ----
    QuerySpec("q278_cluster_size_spectrum", (s, d) => {
      val docs = tSpread(s, d, "documents")
      // r13: the size spectrum and the doc total both consume cc; its
      // cluster labels are driver-resident but the id frame re-ran a
      // corpus scan + distinct per consumer — persist the 2-long frame
      val cc = Dedup.minhashClustersTransitive(docs, "text", "doc_id")
        .persist()
      val sizes = cc.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("csz"))
      val tot = cc.agg(count(lit(1)).as("nd"))
      sizes.groupBy(col("csz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          expr("cluster_size * n_clusters * 1000000 div nd")
            .as("doc_share_ppm"))
        .orderBy(col("cluster_size"))
    }, oracle =
      // spectrum replay: the shared minhash clusters + size histogram.
      s"""$minhashClusterCteSql,
        |cc AS (SELECT id, min(c) AS cluster_id FROM lbl GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS csz FROM cc GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM cc)
        |SELECT CAST(csz AS BIGINT) AS cluster_size,
        | CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(csz * count(*) AS BIGINT) AS n_docs,
        | CAST(csz * count(*) * 1000000 // nd AS BIGINT) AS doc_share_ppm
        |FROM sz CROSS JOIN nd GROUP BY csz, nd ORDER BY cluster_size""".stripMargin),

    // ---- content-defined chunking dedup (storage-grain: boundaries
    // are a pure function of the trailing 8-char window's FNV hash, so
    // an edit disturbs only its own chunk while fixed blocks would all
    // shift — the rsync/LBFS property, spec-pinned in ChunkerSpec).
    // Chunks dedup corpus-wide on a 64-bit content key: the per-doc
    // dup counts quantify how much of each document is redundant
    // storage. Scale shape: chunking is one linear pass per doc; the
    // dedup is ONE shuffle of 8-byte xxhash64 keys (codegen'd, no
    // crypto cost — AB_r10's cdc_chunk_join_key pair is the measured
    // basis; chunk text never shuffles twice) ----
    QuerySpec("q293_cdc_chunk_dedup", (s, d) => {
      import graft.text.Chunker
      val ch = tSpread(s, d, "documents")
        .select(col("doc_id"),
          explode(Chunker.chunksUdf()(col("text"))).as("chunk"))
        .select(col("doc_id"), xxhash64(col("chunk")).as("h"),
          octet_length(col("chunk")).as("nb"))
      val g = ch.groupBy(col("h")).agg(count(lit(1)).as("c"))
      ch.join(g, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("c") > 1, col("nb").cast("long"))
            .otherwise(0L)).as("dup_bytes"))
        .orderBy(col("doc_id"))
    }, oracle =
      // CDC replay: boundary positions are position-independent (no
      // min/max clamps), so the oracle computes them per position with
      // the exact FNV emulation, rebuilds chunks by list indexing, and
      // dedups on chunk content.
      s"""$cdcChunkCteSql,
        |g AS (SELECT chunk, count(*) AS c FROM ch GROUP BY 1),
        |per AS (SELECT ch.doc_id, ch.chunk, g.c
        | FROM ch JOIN g ON g.chunk = ch.chunk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(count(*) FILTER (c > 1) AS BIGINT) AS n_dup_chunks,
        | CAST(coalesce(sum(octet_length(encode(chunk)))
        |   FILTER (c > 1), 0) AS BIGINT) AS dup_bytes
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- CDC containment join: which documents are mostly MADE OF
    // another document's bytes? Candidate pairs come from sharing a
    // chunk (the chunk-hash join IS the blocking — never all-pairs),
    // with a document-frequency cap df<=20 dropping boilerplate chunks
    // every doc shares (the frequent-shingle guard, same role as LSH
    // band caps; at 100x corpus the cap is what keeps the top chunk
    // from contributing C(df,2) pairs). Per doc: the best-covering
    // partner by shared chunk bytes over own bytes, integer basis
    // points, ties broken by partner id ----
    QuerySpec("q295_cdc_containment", (s, d) => {
      import graft.text.Chunker
      import org.apache.spark.sql.expressions.Window
      val docs = tSpread(s, d, "documents")
      val ch = docs.select(col("doc_id"),
          explode(Chunker.chunksUdf()(col("text"))).as("chunk"))
        .select(col("doc_id"), xxhash64(col("chunk")).as("h"),
          octet_length(col("chunk")).cast("long").as("nb"))
        .distinct()
      val dfc = ch.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val kept = ch.join(dfc.filter(col("df") <= 20), "h")
      val pair = kept.select(col("h"), col("doc_id").as("da"), col("nb"))
        .join(kept.select(col("h"), col("doc_id").as("db")), Seq("h"))
        .filter(col("da") =!= col("db"))
        .groupBy(col("da"), col("db"))
        .agg(sum(col("nb")).as("shared_bytes"))
      val base = docs.select(col("doc_id").as("da"),
        octet_length(col("text")).cast("long").as("tb"))
      val scored = pair.join(base, "da")
        .withColumn("cont_bp", expr("shared_bytes * 10000 div tb"))
      val w = Window.partitionBy(col("da"))
        .orderBy(col("cont_bp").desc, col("db").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("da").as("doc_id"), col("db").as("best_match"),
          col("shared_bytes"), col("cont_bp"))
        .orderBy(col("doc_id"))
    }, oracle =
      // CDC containment replay: distinct chunks per doc, df-capped
      // chunk-equality pairs, shared bytes over own bytes in integer
      // basis points, best partner by (cont_bp DESC, partner ASC) —
      // a total order, so row_number picks the same winner everywhere.
      s"""$cdcChunkCteSql,
        |dch AS (SELECT DISTINCT doc_id, chunk FROM ch),
        |dfq AS (SELECT chunk, count(*) AS df FROM dch GROUP BY 1),
        |kept AS (SELECT dch.doc_id, dch.chunk FROM dch
        | JOIN dfq ON dfq.chunk = dch.chunk WHERE dfq.df <= 20),
        |pair AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |  sum(octet_length(encode(a.chunk))) AS shared
        | FROM kept a JOIN kept b
        |   ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
        | GROUP BY 1, 2),
        |base AS (SELECT doc_id, octet_length(encode(text)) AS tb
        | FROM documents),
        |scored AS (SELECT da, db, shared,
        |  (shared * 10000) // tb AS cont_bp
        | FROM pair JOIN base ON base.doc_id = da),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY da
        |  ORDER BY cont_bp DESC, db ASC) AS rn FROM scored)
        |SELECT da AS doc_id, db AS best_match,
        | CAST(shared AS BIGINT) AS shared_bytes,
        | CAST(cont_bp AS BIGINT) AS cont_bp
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin),
  )
}
