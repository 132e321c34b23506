package graft
package queries

import graft.dedup.Dedup
import graft.graph.Graph
import graft.operators.GlobalOrder
import graft.streaming.StreamingIngest
import graft.text.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Curation queries: quality gates and filters, selection, mixing,
  * sequence packing, shards and the end-to-end training-data funnels. */
private[graft] object CurationQueries {

  /** q317's curation tail over an `inj(doc_id, text)` CTE the caller
    * defines first: tokenize, the Gopher repetition and quality gates,
    * PII scrub, exact dedup on the scrubbed text, then 5,000-token shard
    * packing in md5 order. Ends with the final per-shard SELECT. */
  private lazy val curatedShardsSql: String =
    s"""toks AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
      |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
      |    x -> lower(x)) AS lt
      | FROM inj WHERE length(trim(text)) > 0),
      |$gopherNgramCteSql,
      |$gopherGateCteSql,
      |gated AS (SELECT i.doc_id, i.text FROM inj i
      | JOIN rep ON rep.doc_id = i.doc_id
      | JOIN qual ON qual.doc_id = i.doc_id
      | WHERE rep.k1 AND qual.k2),
      |scrub AS (SELECT doc_id,
      | regexp_replace(regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |   '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
      |   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS clean,
      | CAST(length(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
      |  + length(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b'))
      |  + length(regexp_extract_all(text,
      |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_pii
      | FROM gated),
      |kept AS (SELECT doc_id, n_pii, clean FROM (
      |  SELECT doc_id, n_pii, clean,
      |   row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
      |  FROM scrub) WHERE rn = 1),
      |d AS (SELECT doc_id, n_pii,
      |  CAST(CASE WHEN length(trim(clean)) = 0 THEN 0
      |    ELSE array_length(regexp_split_to_array(trim(clean), '\\s+'))
      |    END AS BIGINT) AS n_toks,
      |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk
      | FROM kept),
      |c AS (SELECT doc_id, n_pii, n_toks,
      |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
      | FROM d)
      |SELECT CAST(excl // 5000 AS BIGINT) AS shard,
      | count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
      | CAST(sum(n_pii) AS BIGINT) AS pii_masked
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** The Gopher repetition gate `rep(doc_id, k1)` and quality gate
    * `qual(doc_id, k2)` over `toks(doc_id, t, lt)` and the
    * [[gopherNgramCteSql]] counts. */
  private lazy val gopherGateCteSql: String =
    """rep AS (
      | SELECT t.doc_id,
      |  (floor(wc.topw * 10000.0 / array_length(t.t) + 0.5) / 10000 <= 0.15
      |   AND CASE WHEN g2c.doc_id IS NULL THEN 0.0
      |    ELSE floor(g2c.topg * 10000.0 / g2c.ng + 0.5) / 10000 END <= 0.08
      |   AND CASE WHEN g3c.doc_id IS NULL THEN 0.0
      |    ELSE floor((g3c.n3 - g3c.d3) * 10000.0 / g3c.n3 + 0.5) / 10000
      |    END <= 0.01) AS k1
      | FROM toks t JOIN wc ON wc.doc_id = t.doc_id
      |  LEFT JOIN g2c ON g2c.doc_id = t.doc_id
      |  LEFT JOIN g3c ON g3c.doc_id = t.doc_id),
      |qual AS (
      | SELECT doc_id,
      |  (array_length(t) >= 30 AND array_length(t) <= 100000
      |   AND floor(length(array_to_string(t, '')) * 10000.0 /
      |     array_length(t) + 0.5) / 10000 BETWEEN 3.0 AND 10.0
      |   AND floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
      |     * 10000.0 / array_length(t) + 0.5) / 10000 >= 0.8
      |   AND (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) >= 2) AS k2
      | FROM toks)""".stripMargin

  /** Gopher repetition counts over `toks(doc_id, t, lt)`: the top word
    * count `wc`, top and total 2-gram counts `g2c`, and distinct and
    * total 3-gram counts `g3c`. */
  private lazy val gopherNgramCteSql: String =
    """w AS (SELECT doc_id, unnest(t) AS w FROM toks),
      |wc AS (SELECT doc_id, max(c) AS topw FROM
      |  (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2) GROUP BY 1),
      |g2 AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
      | FROM toks, unnest(range(1, array_length(t))) AS r(i)
      | WHERE array_length(t) >= 2),
      |g2c AS (SELECT doc_id, max(c) AS topg, sum(c) AS ng FROM
      |  (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
      |g3 AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
      | FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
      | WHERE array_length(t) >= 3),
      |g3c AS (SELECT doc_id, count(DISTINCT g) AS d3, count(*) AS n3
      | FROM g3 GROUP BY 1)""".stripMargin

  /** Token-budget selection order: per-doc token count and stopword-rate
    * quality `q`, then the running token sum `o.cum` in `q DESC, doc_id`
    * order. */
  private lazy val budgetOrderCteSql: String =
    """t AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
      |       END AS n_tokens,
      |  CASE WHEN length(trim(text)) = 0 THEN 0.0
      |   ELSE round(length(regexp_extract_all(lower(text),
      |     '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
      |     array_length(regexp_split_to_array(trim(text), '\s+')), 4)
      |   END AS q
      | FROM documents),
      |f AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, q
      |      FROM t WHERE n_tokens > 0),
      |o AS (SELECT doc_id, n_tokens, q,
      |  sum(n_tokens) OVER (ORDER BY q DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM f)""".stripMargin

  /** Per-doc token counts in md5 shard order and each doc's exclusive
    * running token sum `c(doc_id, n_toks, excl)`. */
  private lazy val tokenShardOrderCteSql: String =
    """d AS (SELECT doc_id,
      |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
      |       END AS BIGINT) AS n_toks,
      |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk
      | FROM documents),
      |c AS (SELECT doc_id, n_toks,
      |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
      | FROM d)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- C4/Gopher-style quality gate with reject reasons ----
    QuerySpec("q46_quality_gate", (s, d) => {
      val toks = TextFunctions.tokenCount(col("text"))
      val punct = TextFunctions.punctCount(col("text"))
      tSpread(s, d, "documents")
        .withColumn("n_tokens", toks.cast("bigint"))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("punct_ratio", when(toks === 0, lit(1.0))
          .otherwise(ratioQ(punct.cast("bigint"), toks.cast("bigint"), 4)))
        .withColumn("reason", concat_ws(",",
          when(col("n_tokens") < 10, lit("too_short")),
          when(col("n_tokens") > 2000, lit("too_long")),
          when(col("quality") < 0.05, lit("low_stopword")),
          when(col("punct_ratio") > 0.2, lit("punct_heavy"))))
        .withColumn("keep", (col("reason") === "").cast("boolean"))
        .select(col("doc_id"), col("n_tokens"),
          floorBp(col("quality"), 4).as("quality_bp"),
          floorBp(col("punct_ratio"), 4).as("punct_ratio_bp"),
          col("reason"), col("keep"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH m AS (
        |  SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |     AS n_tokens,
        |   CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE round(length(regexp_extract_all(lower(text),
        |      '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |      array_length(regexp_split_to_array(trim(text), '\s+')), 4) END
        |     AS quality,
        |   length(regexp_extract_all(text, '[^\w\s]')) AS n_punct
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_tokens, quality,
        |   CASE WHEN n_tokens = 0 THEN 1.0
        |        ELSE floor(n_punct * 10000 / n_tokens + 0.5) / 10000 END AS punct_ratio
        |  FROM m)
        |SELECT doc_id, n_tokens,
        | CAST(floor(quality * 10000 + 0.5) AS BIGINT) AS quality_bp,
        | CAST(floor(punct_ratio * 10000 + 0.5) AS BIGINT) AS punct_ratio_bp,
        | concat_ws(',',
        |   CASE WHEN n_tokens < 10 THEN 'too_short' END,
        |   CASE WHEN n_tokens > 2000 THEN 'too_long' END,
        |   CASE WHEN quality < 0.05 THEN 'low_stopword' END,
        |   CASE WHEN punct_ratio > 0.2 THEN 'punct_heavy' END) AS reason,
        | (concat_ws(',',
        |   CASE WHEN n_tokens < 10 THEN 'too_short' END,
        |   CASE WHEN n_tokens > 2000 THEN 'too_long' END,
        |   CASE WHEN quality < 0.05 THEN 'low_stopword' END,
        |   CASE WHEN punct_ratio > 0.2 THEN 'punct_heavy' END) = '') AS keep
        |FROM g ORDER BY doc_id""".stripMargin),

    // ---- sequence packing: concat docs into 2048-token training bins,
    // per source partition (parallel, deterministic — no global sort) ----
    QuerySpec("q57_sequence_pack", (s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
        .withColumn("pack_id",
          floor((sum("n_tokens").over(w) - col("n_tokens")) / lit(2048L)))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
        .orderBy(col("source"), col("pack_id"))
    }, oracle =
      """WITH tokd AS (
        | SELECT source, doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS BIGINT) AS n_tokens
        | FROM documents),
        |p AS (
        | SELECT source, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |    - n_tokens) / 2048.0) AS BIGINT) AS pack_id
        | FROM tokd)
        |SELECT source, pack_id, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin),

    // ---- source mixing: deterministic token-budget downsampling per
    // source (the data-mixture stage of a training pipeline) ----
    QuerySpec("q64_source_mixing", (s, d) => {
      val tokd = tSpread(s, d, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      val rates = tokd.groupBy("source")
        .agg(sum("n_tokens").as("total_tokens"))
        .withColumn("rate_bps",
          least(lit(10000L),
            floor(lit(5000L * 10000L) / col("total_tokens")).cast("long")))
      // md5-derived bucket (not rand()): reproducible across engines and
      // recomputable from the key alone at 100 TB
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("bigint") % 10000).as("bucket")
      tokd.withColumn("bucket", bucket)
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("rate_bps"))
        .groupBy(col("source"), col("rate_bps"))
        .agg(count(lit(1)).as("n_docs_kept"), sum("n_tokens").as("tokens_kept"))
        .orderBy(col("source"))
    }, oracle =
      """WITH tokd AS (
        | SELECT source, doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS BIGINT) AS n_tokens
        | FROM documents),
        |rates AS (
        | SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  least(10000, CAST(floor(50000000.0 / sum(n_tokens)) AS BIGINT))
        |    AS rate_bps
        | FROM tokd GROUP BY 1),
        |kept AS (
        | SELECT t.source, r.rate_bps, t.n_tokens
        | FROM tokd t JOIN rates r USING (source)
        | WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 6))::BIGINT
        |   % 10000 < r.rate_bps)
        |SELECT source, rate_bps, count(*) AS n_docs_kept,
        | CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        |FROM kept GROUP BY 1, 2 ORDER BY source""".stripMargin),

    // ---- deterministic weighted reservoir sample (Efraimidis-Spirakis
    // priority sampling): md5-derived uniform u, priority ln(u)/w with
    // w = token count, top-5 per source. Through the k-bounded
    // TopKByScore aggregate, NOT a window — the shuffle carries ≤k rows
    // per group per partition instead of a full per-group sort ----
    QuerySpec("q68_reservoir_sample", (s, d) => {
      import graft.vector.TopKAggregate.topk_by_score
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 12),
        16, 10).cast("double") + 1.0) / lit(281474976710656.0)
      val w = greatest(TextFunctions.tokenCount(col("text")).cast("double"),
        lit(1.0))
      tSpread(s, d, "documents")
        .select(col("source"), col("doc_id"), (log(u) / w).as("key"))
        .groupBy("source")
        .agg(topk_by_score(col("key"), col("doc_id"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("doc_id"))
        .orderBy(col("source"), col("rank"))
    }, oracle =
      // rank-only output: the ES priority ln(u)/w is compared, never
      // emitted, so 1-ulp ln/pow differences between engines cannot skew
      // the hash (ranks flip only on near-exact key collisions)
      """WITH tokd AS (
        | SELECT source, doc_id,
        |  greatest(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS DOUBLE), 1.0) AS w
        | FROM documents),
        |keyd AS (
        | SELECT source, doc_id,
        |  ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
        |      + 1.0) / 281474976710656.0) / w AS key
        | FROM tokd),
        |rk AS (
        | SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id)
        |    AS rank
        | FROM keyd)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM rk WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin),

    // ---- domain frequency cap + training-shard assignment: at most 15
    // docs per source (deterministic md5 order — the anti-spam cap of a
    // crawl pipeline), survivors dealt to 8 shards by an independent
    // salted hash (the deterministic "global shuffle" of a training run:
    // shard membership is recomputable from the key alone) ----
    QuerySpec("q69_domain_cap_shards", (s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      tSpread(s, d, "documents")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 15)
        .withColumn("shard",
          conv(substring(md5(concat(lit("shard|"),
            col("doc_id").cast("string"))), 1, 6), 16, 10)
            .cast("bigint") % 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"))
        .orderBy(col("shard"))
    }, oracle =
      """WITH rk AS (
        | SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents),
        |kept AS (SELECT * FROM rk WHERE rk <= 15),
        |sh AS (
        | SELECT ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
        |     1, 6))::BIGINT % 8 AS shard,
        |  source, n_chars
        | FROM kept)
        |SELECT shard, count(*) AS n_docs,
        | count(DISTINCT source) AS n_sources,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin),

    // ---- curriculum binning: global quality deciles. Exact ntile via
    // GlobalOrder (range-partitioned sort + broadcast offsets — never a
    // single-partition window); the approximate alternative at even
    // larger scale is hist_quantile cut-points (q63) + a bucket join ----
    QuerySpec("q73_curriculum_bins", (s, d) => {
      val base = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      GlobalOrder.withNtile(base,
          Seq(col("quality").desc, col("doc_id")), 10, "decile")
        .withColumn("decile", col("decile").cast("bigint"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          floorBp(min(col("quality")), 4).as("min_q_bp"),
          floorBp(max(col("quality")), 4).as("max_q_bp"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("decile"))
    }, oracle =
      """WITH m AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |   ELSE round(length(regexp_extract_all(lower(text),
        |     '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |     array_length(regexp_split_to_array(trim(text), '\s+')), 4) END
        |    AS quality,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS BIGINT) AS n_tokens
        | FROM documents),
        |d AS (
        | SELECT doc_id, quality, n_tokens,
        |  ntile(10) OVER (ORDER BY quality DESC, doc_id) AS decile
        | FROM m)
        |SELECT decile, count(*) AS n_docs,
        | CAST(floor(min(quality) * 10000 + 0.5) AS BIGINT) AS min_q_bp,
        | CAST(floor(max(quality) * 10000 + 0.5) AS BIGINT) AS max_q_bp,
        | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin),

    // ---- capstone: one end-to-end training-data run — quality gate →
    // exact dedup → per-source token-budget mixing → shard deal — each
    // stage the oracle-checked operator from its standalone query
    // (q46/q21/q64/q69), composed in a single lineage ----
    QuerySpec("q100_training_run", (s, d) => {
      val gated = tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(col("n_tokens") >= 10 && col("quality") >= 0.05)
      val dupW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val deduped = gated.withColumn("rk", row_number().over(dupW))
        .filter(col("rk") === 1)
      val rates = deduped.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tt"))
        .withColumn("rate_bps", least(lit(10000L),
          floor(lit(3000L * 10000L) / col("tt")).cast("long")))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("bigint") % 10000
      deduped.withColumn("bucket", bucket)
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("rate_bps"))
        .withColumn("shard",
          conv(substring(md5(concat(lit("shard|"),
            col("doc_id").cast("string"))), 1, 6), 16, 10)
            .cast("bigint") % 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("shard"))
    }, oracle =
      """WITH m AS (
        | SELECT doc_id, source, text,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS BIGINT) AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |   ELSE round(length(regexp_extract_all(lower(text),
        |     '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |     array_length(regexp_split_to_array(trim(text), '\s+')), 4) END
        |    AS quality
        | FROM documents),
        |gated AS (
        | SELECT * FROM m WHERE n_tokens >= 10 AND quality >= 0.05),
        |dd AS (
        | SELECT *, row_number() OVER (PARTITION BY md5(text)
        |   ORDER BY doc_id) AS rk
        | FROM gated),
        |deduped AS (SELECT * FROM dd WHERE rk = 1),
        |rates AS (
        | SELECT source, sum(n_tokens) AS tt,
        |  least(10000, CAST(floor(30000000.0 / sum(n_tokens)) AS BIGINT))
        |    AS rate_bps
        | FROM deduped GROUP BY 1),
        |mixed AS (
        | SELECT d.*, r.rate_bps
        | FROM deduped d JOIN rates r USING (source)
        | WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
        |   % 10000 < r.rate_bps),
        |sh AS (
        | SELECT ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
        |     1, 6))::BIGINT % 4 AS shard,
        |  n_tokens, source
        | FROM mixed)
        |SELECT shard, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        | count(DISTINCT source) AS n_sources
        |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin),

    // ---- leakage-safe train/val/test split: the UNIT of assignment is
    // the near-dup CLUSTER (q23's MinHash-LSH closure), not the
    // document — hashing documents independently puts near-duplicates
    // of training docs into eval (contamination). Splitting on
    // cluster_id makes cross-split leakage structurally impossible.
    // NOTE the cluster id is the component's MINIMUM doc_id, so the
    // assignment is stable only while doc ids are; a re-ingestion that
    // reassigns ids can move whole clusters between splits (never split
    // one). If re-shard stability is required, key the split on a
    // content hash of the cluster's canonical text instead ----
    QuerySpec("q160_leakage_safe_split", (s, d) => {
      val split = when(pmod(col("cluster_id"), lit(10)) < 8, lit("train"))
        .when(pmod(col("cluster_id"), lit(10)) === 8, lit("val"))
        .otherwise(lit("test"))
      Dedup.minhashClustersTransitive(
          tSpread(s, d, "documents"), "text", "doc_id")
        .withColumn("split", split)
        .groupBy(col("split"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("split"))
    }, oracle =
      s"""$minhashClusterCteSql,
        |clusters AS (
        | SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id),
        |splits AS (
        | SELECT id, cluster_id,
        |  CASE WHEN cluster_id % 10 < 8 THEN 'train'
        |       WHEN cluster_id % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM clusters)
        |SELECT split, count(DISTINCT cluster_id) AS n_clusters,
        | count(*) AS n_docs
        |FROM splits GROUP BY 1 ORDER BY split""".stripMargin),

    // ---- language-mix rebalancing: per-language keep fractions toward
    // a uniform target (total/n_langs), capped at 1 — the "don't let
    // English swamp the mix" pass. All ratios in exact basis points
    // (bigint scaling) so the plan is engine-agnostic; the heavy input
    // collapses to |langs| rows before the broadcast total joins in ----
    QuerySpec("q161_lang_rebalance", (s, d) => {
      val byLang = tSpread(s, d, "documents")
        .withColumn("lang_pred", TextFunctions.langId(col("text")))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("total"),
        count(lit(1)).as("n_langs"))
      byLang.crossJoin(broadcast(tot))
        .select(col("lang_pred"), col("n_docs"),
          least(lit(10000L),
            floor(col("total") * lit(10000L) /
              (col("n_langs") * col("n_docs"))).cast("bigint"))
            .as("keep_bp"))
        .withColumn("n_kept",
          floor(col("n_docs") * col("keep_bp") / lit(10000L)).cast("bigint"))
        .orderBy(col("lang_pred"))
    }, oracle =
      """WITH scored AS (
        | SELECT
        |  length(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS s_en,
        |  length(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        |  length(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |  length(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
        |  length(regexp_extract_all(lower(text), '\b(de|le|shi|wo|ni)\b')) AS s_zh
        | FROM documents),
        |pred AS (
        | SELECT CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |   WHEN s_zh > greatest(s_en, s_es, s_fr, s_de) THEN 'zh'
        |   WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
        |   WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
        |   WHEN s_es > s_en THEN 'es'
        |   ELSE 'en' END AS lang_pred
        | FROM scored),
        |by_lang AS (SELECT lang_pred, count(*) AS n_docs FROM pred GROUP BY 1),
        |tot AS (SELECT sum(n_docs) AS total, count(*) AS n_langs FROM by_lang)
        |SELECT lang_pred, n_docs,
        | CAST(least(10000, floor((SELECT total FROM tot) * 10000
        |   / ((SELECT n_langs FROM tot) * n_docs))) AS BIGINT) AS keep_bp,
        | CAST(floor(n_docs * least(10000, floor((SELECT total FROM tot) * 10000
        |   / ((SELECT n_langs FROM tot) * n_docs))) / 10000) AS BIGINT) AS n_kept
        |FROM by_lang ORDER BY lang_pred""".stripMargin),

    // ---- domain-cap curation (FineWeb's per-domain contribution cap,
    // C4's origin blocklist grain): keep the top-20 documents per
    // source by (n_chars desc, doc_id), publish the domain-grain stats
    // sheet. One window shuffle on the domain key —
    // InferWindowGroupLimit turns rn <= 20 into a per-partition top-k,
    // so one hot domain never sorts its full document set; the domain
    // grain itself is bounded by the web's registrable-domain count,
    // not corpus size ----
    QuerySpec("q201_domain_cap", (s, d) => {
      import graft.operators.Curation
      Curation.domainStats(tSpread(s, d, "documents"), "source",
          "doc_id", "n_chars", "lang", col("n_chars").desc,
          maxPerDomain = 20)
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("kept_chars"), col("n_langs"))
        .orderBy(col("source"))
    }, oracle =
      """WITH r AS (SELECT source, doc_id, n_chars, lang,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents),
        |k AS (SELECT source, count(*) AS n_kept,
        |   CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |   count(DISTINCT lang) AS n_langs FROM r WHERE rn <= 20
        | GROUP BY 1)
        |SELECT d.source, count(*) AS n_docs, k.n_kept, k.kept_chars,
        | k.n_langs
        |FROM documents d JOIN k ON k.source = d.source
        |GROUP BY d.source, k.n_kept, k.kept_chars, k.n_langs
        |ORDER BY d.source""".stripMargin),

    // ---- pure-SQL reach of the curation surface (q48's contract
    // extended to the round-6 operators): gopher_repetition /
    // gopher_quality register as scalar struct functions,
    // DSIR as a SQL TABLE function — a SQL-only user composes the
    // curation funnel without touching the Column API. quality_prob's
    // SQL==Column parity is gated in ExtensionsSpec (its weights come
    // from a trained model, which no relational oracle can replay) ----
    QuerySpec("q198_sql_curation", (s, d) => {
      tSpread(s, d, "documents").createOrReplaceTempView("documents")
      tSpread(s, d, "documents").filter(col("lang") === "en")
        .createOrReplaceTempView("documents_en")
      s.sql(
        """SELECT g.doc_id,
          | g.r.n_words AS n_words,
          | g.r.keep AS rep_keep,
          | g.q.stop_hits AS stop_hits,
          | g.q.keep AS qual_keep,
          | CAST(floor(dw.weight * 10000 + 0.5) AS BIGINT) AS weight_bp,
          | dw.selected
          |FROM (
          | SELECT doc_id, gopher_repetition(text) AS r,
          |  gopher_quality(text) AS q
          | FROM documents WHERE length(trim(text)) > 0) g
          |JOIN dsir_weights('documents', 'documents_en') dw
          | ON dw.doc_id = g.doc_id
          |ORDER BY g.doc_id""".stripMargin)
    }, oracle =
      // the three stage definitions are verbatim the q187/q188/q191
      // oracle fragments; q198 checks the SQL surface composes them
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |$gopherNgramCteSql,
        |rep AS (
        | SELECT t.doc_id, array_length(t.t) AS nw,
        |  (floor(wc.topw * 10000.0 / array_length(t.t) + 0.5) / 10000 <= 0.15
        |   AND CASE WHEN g2c.doc_id IS NULL THEN 0.0
        |    ELSE floor(g2c.topg * 10000.0 / g2c.ng + 0.5) / 10000
        |    END <= 0.08
        |   AND CASE WHEN g3c.doc_id IS NULL THEN 0.0
        |    ELSE floor((g3c.n3 - g3c.d3) * 10000.0 / g3c.n3 + 0.5) / 10000
        |    END <= 0.01) AS rep_keep
        | FROM toks t JOIN wc ON wc.doc_id = t.doc_id
        |  LEFT JOIN g2c ON g2c.doc_id = t.doc_id
        |  LEFT JOIN g3c ON g3c.doc_id = t.doc_id),
        |qm AS (SELECT doc_id, array_length(t) AS nw,
        |  floor(length(array_to_string(t, '')) * 10000.0 / array_length(t)
        |    + 0.5) / 10000 AS mwl,
        |  floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |    * 10000.0 / array_length(t) + 0.5) / 10000 AS awf,
        |  (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) AS stops
        | FROM toks),
        |qual AS (SELECT doc_id, stops,
        |  (nw >= 30 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |   AND awf >= 0.8 AND stops >= 2) AS qual_keep
        | FROM qm),
        |dtok AS (
        | SELECT doc_id, lang,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |dt2 AS (SELECT doc_id, lang, w FROM dtok WHERE w <> ''),
        |cr AS (SELECT w, count(*) AS c_r FROM dt2 GROUP BY 1),
        |ct AS (SELECT w, count(*) AS c_t FROM dt2 WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT sum(c_r) AS n_r, count(*) AS v FROM cr),
        |ttot AS (SELECT count(*) AS n_t FROM dt2 WHERE lang = 'en'),
        |lr AS (SELECT cr.w,
        |  ln((coalesce(ct.c_t, 0) + 1) * 1.0 /
        |     ((SELECT n_t FROM ttot) + (SELECT v FROM tot)))
        |  - ln((cr.c_r + 1) * 1.0 /
        |     ((SELECT n_r FROM tot) + (SELECT v FROM tot))) AS lr
        | FROM cr LEFT JOIN ct ON ct.w = cr.w),
        |per AS (SELECT dt2.doc_id, avg(lr.lr) AS aw
        | FROM dt2 JOIN lr ON lr.w = dt2.w GROUP BY 1)
        |SELECT rep.doc_id, CAST(rep.nw AS BIGINT) AS n_words, rep.rep_keep,
        | CAST(qual.stops AS BIGINT) AS stop_hits, qual.qual_keep,
        | CAST(floor(floor(per.aw * 10000 + 0.5) / 10000 * 10000 + 0.5)
        |   AS BIGINT) AS weight_bp,
        | (floor(per.aw * 10000 + 0.5) / 10000 > 0) AS selected
        |FROM rep JOIN qual ON qual.doc_id = rep.doc_id
        | JOIN per ON per.doc_id = rep.doc_id
        |ORDER BY rep.doc_id""".stripMargin),

    // ---- the curation FUNNEL: the four q187-q191 stages composed the
    // way a real corpus-curation run chains them, reporting per-stage
    // survivor counts (raw → repetition rules → quality rules →
    // decontamination → DSIR selection). Each stage frame is the same
    // plan as its standalone query; the funnel is four left joins on
    // doc_id + one aggregate — at 100 TB the flags frame is one row
    // per doc and the count aggregate is map-side combinable ----
    QuerySpec("q193_filter_funnel", (s, d) => {
      import graft.operators.ImportanceSelect
      val docs = tSpread(s, d, "documents")
      val rep = TextFunctions.gopherRepetition(docs, "text", "doc_id")
        .select(col("doc_id"), col("keep").as("_k1"))
      val qual = TextFunctions.gopherQuality(docs, "text", "doc_id")
        .select(col("doc_id"), col("keep").as("_k2"))
      val contam = Dedup.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", n = 3)
        .select(col("doc_id"), lit(true).as("_c"))
      val dsir = ImportanceSelect.scoreWith(
          ImportanceSelect.dsirRatioSplit(docs, col("lang") === "en",
            "text"), docs, "text", "doc_id")
        .select(col("doc_id"), col("selected").as("_k4"))
      val flags = docs.select(col("doc_id"))
        .join(rep, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(dsir, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_k1"), lit(false)).as("k1"),
          coalesce(col("_k2"), lit(false)).as("k2"),
          // eval-set docs leave the training corpus at this stage too
          (col("doc_id") % 97 =!= 0 && col("_c").isNull).as("k3"),
          coalesce(col("_k4"), lit(false)).as("k4"))
      val agg = flags.agg(
        count(lit(1)).as("n0"),
        sum(col("k1").cast("long")).as("n1"),
        sum((col("k1") && col("k2")).cast("long")).as("n2"),
        sum((col("k1") && col("k2") && col("k3")).cast("long")).as("n3"),
        sum((col("k1") && col("k2") && col("k3") && col("k4"))
          .cast("long")).as("n4"))
      agg.select(explode(array(
          struct(lit(0L).as("stage"), lit("raw").as("label"),
            col("n0").as("survivors")),
          struct(lit(1L).as("stage"), lit("gopher_repetition").as("label"),
            col("n1").as("survivors")),
          struct(lit(2L).as("stage"), lit("gopher_quality").as("label"),
            col("n2").as("survivors")),
          struct(lit(3L).as("stage"), lit("decontaminated").as("label"),
            col("n3").as("survivors")),
          struct(lit(4L).as("stage"), lit("dsir_selected").as("label"),
            col("n4").as("survivors")))).as("f"))
        .select(col("f.stage").as("stage"), col("f.label").as("label"),
          col("f.survivors").as("survivors"))
        .orderBy(col("stage"))
    }, oracle =
      // the four stage definitions are verbatim the q187/q188/q189/q191
      // oracle fragments; the funnel is their conjunction
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |$gopherNgramCteSql,
        |$gopherGateCteSql,
        |cg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        | FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
        | WHERE array_length(t) >= 3),
        |ev AS (SELECT DISTINCT g FROM cg WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT c.doc_id FROM cg c JOIN ev USING (g)
        | WHERE c.doc_id % 97 <> 0),
        |ltok AS (
        | SELECT doc_id, lang,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |lt2 AS (SELECT doc_id, lang, w FROM ltok WHERE w <> ''),
        |cr AS (SELECT w, count(*) AS c_r FROM lt2 GROUP BY 1),
        |ct AS (SELECT w, count(*) AS c_t FROM lt2 WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT sum(c_r) AS n_r, count(*) AS v FROM cr),
        |ttot AS (SELECT count(*) AS n_t FROM lt2 WHERE lang = 'en'),
        |lr AS (SELECT cr.w,
        |  ln((coalesce(ct.c_t, 0) + 1) * 1.0 /
        |     ((SELECT n_t FROM ttot) + (SELECT v FROM tot)))
        |  - ln((cr.c_r + 1) * 1.0 /
        |     ((SELECT n_r FROM tot) + (SELECT v FROM tot))) AS lr
        | FROM cr LEFT JOIN ct ON ct.w = cr.w),
        |per AS (SELECT lt2.doc_id, avg(lr.lr) AS aw
        | FROM lt2 JOIN lr ON lr.w = lt2.w GROUP BY 1),
        |flags AS (
        | SELECT d.doc_id,
        |  coalesce(r.k1, false) AS k1,
        |  coalesce(q.k2, false) AS k2,
        |  (d.doc_id % 97 <> 0 AND h.doc_id IS NULL) AS k3,
        |  coalesce(floor(p.aw * 10000 + 0.5) / 10000 > 0, false) AS k4
        | FROM documents d
        |  LEFT JOIN rep r ON r.doc_id = d.doc_id
        |  LEFT JOIN qual q ON q.doc_id = d.doc_id
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id
        |  LEFT JOIN per p ON p.doc_id = d.doc_id),
        |agg AS (SELECT count(*) AS n0,
        |  sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS n1,
        |  sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END) AS n2,
        |  sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END) AS n3,
        |  sum(CASE WHEN k1 AND k2 AND k3 AND k4 THEN 1 ELSE 0 END) AS n4
        | FROM flags)
        |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS label,
        |  CAST(n0 AS BIGINT) AS survivors FROM agg
        |UNION ALL SELECT 1, 'gopher_repetition', CAST(n1 AS BIGINT) FROM agg
        |UNION ALL SELECT 2, 'gopher_quality', CAST(n2 AS BIGINT) FROM agg
        |UNION ALL SELECT 3, 'decontaminated', CAST(n3 AS BIGINT) FROM agg
        |UNION ALL SELECT 4, 'dsir_selected', CAST(n4 AS BIGINT) FROM agg
        |ORDER BY stage""".stripMargin),

    // ---- trained quality classifier (fastText/CCNet shape): hashed
    // bag-of-words logistic regression, full-batch gradient descent
    // where each iteration is one map pass + one feature-grain
    // aggregate and the driver holds only the 1024-double weight
    // vector. Label = the langId rule (distillation of q20's regex
    // into a classifier); holdout = doc_id % 5. Driver-gated like
    // q170/q185: booleans for loss reduction and holdout accuracy ----
    QuerySpec("q192_quality_classifier", (s, d) => {
      import graft.operators.HashedLogReg
      val docs = tSpread(s, d, "documents")
      val label = TextFunctions.langId(col("text")) === "en"
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val hold = docs.filter(col("doc_id") % 5 === 0)
      val m = HashedLogReg.train(train, "text", label, "doc_id",
        dim = 1024, iters = 30, lr = 4.0)
      val acc = HashedLogReg.score(hold, "text", "doc_id", m)
        .join(hold.select(col("doc_id"), label.as("_y")), "doc_id")
        .select(((col("prob") > 0.5) === col("_y")).cast("int").as("_ok"))
        .agg(avg(col("_ok"))).head().getDouble(0)
      import s.implicits._
      Seq(("hashed_logreg_1024", m.losses.last < 0.6 * m.losses.head,
          acc >= 0.8))
        .toDF("method", "loss_reduced", "holdout_acc_ge_floor")
    }, oracle =
      // constant-replay oracle like q170/q185: the booleans are
      // deterministic functions of the data + fixed hyperparameters
      """SELECT 'hashed_logreg_1024' AS method, true AS loss_reduced,
        | true AS holdout_acc_ge_floor""".stripMargin),

    // ---- DSIR importance selection (Xie et al. 2023): every doc
    // scored by the avg log unigram importance ratio between the
    // target sample (lang='en' here) and the raw corpus; the ratio
    // table joins back on the word key by SHUFFLE (vocabulary is
    // Heaps-unbounded — never broadcast, the q88 lesson) ----
    QuerySpec("q191_dsir_select", (s, d) => {
      import graft.operators.ImportanceSelect
      val docs = tSpread(s, d, "documents")
      // r13: lang-subset target → fused one-pass ratio (see
      // dsirRatioSplit), same _lr bits
      ImportanceSelect.scoreWith(
          ImportanceSelect.dsirRatioSplit(docs, col("lang") === "en",
            "text"), docs, "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          floorBp(col("weight"), 4).as("weight_bp"), col("selected"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH tok AS (
        | SELECT doc_id, lang,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |t2 AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
        |cr AS (SELECT w, count(*) AS c_r FROM t2 GROUP BY 1),
        |ct AS (SELECT w, count(*) AS c_t FROM t2 WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT sum(c_r) AS n_r, count(*) AS v FROM cr),
        |ttot AS (SELECT count(*) AS n_t FROM t2 WHERE lang = 'en'),
        |lr AS (SELECT cr.w,
        |  ln((coalesce(ct.c_t, 0) + 1) * 1.0 /
        |     ((SELECT n_t FROM ttot) + (SELECT v FROM tot)))
        |  - ln((cr.c_r + 1) * 1.0 /
        |     ((SELECT n_r FROM tot) + (SELECT v FROM tot))) AS lr
        | FROM cr LEFT JOIN ct ON ct.w = cr.w),
        |per AS (SELECT t2.doc_id, count(*) AS n_tokens, avg(lr.lr) AS aw
        | FROM t2 JOIN lr ON lr.w = t2.w GROUP BY 1)
        |SELECT doc_id, n_tokens,
        | CAST(floor(aw * 10000 + 0.5) AS BIGINT) AS weight_bp,
        | (floor(aw * 10000 + 0.5) / 10000 > 0) AS selected
        |FROM per ORDER BY doc_id""".stripMargin),

    // ---- Gopher repetition rules (Rae et al. 2021 App. A): mode-word,
    // top-2-gram and duplicate-3-gram fractions + keep flag. The whole
    // rule set is ONE shuffle-free higher-order-function projection
    // (array_sort + fold + array_distinct) — a 100 TB corpus scan stays
    // a single codegen pass reading only (doc_id, text) ----
    QuerySpec("q187_gopher_repetition", (s, d) => {
      TextFunctions.gopherRepetition(tSpread(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("n_words"),
          floorBp(col("top_word_frac"), 4).as("top_word_frac_bp"),
          floorBp(col("top_2gram_frac"), 4).as("top_2gram_frac_bp"),
          floorBp(col("dup_3gram_frac"), 4).as("dup_3gram_frac_bp"),
          col("keep"))
        .orderBy(col("doc_id"))
    }, oracle =
      // Gopher repetition rules: the engine's zero-shuffle fold is
      // replayed relationally (explode + two-level counts per gram size)
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |$gopherNgramCteSql,
        |m AS (
        | SELECT t.doc_id, array_length(t.t) AS nw,
        |  floor(wc.topw * 10000.0 / array_length(t.t) + 0.5) / 10000
        |    AS top_word_frac,
        |  CASE WHEN g2c.doc_id IS NULL THEN 0.0
        |   ELSE floor(g2c.topg * 10000.0 / g2c.ng + 0.5) / 10000 END
        |    AS top_2gram_frac,
        |  CASE WHEN g3c.doc_id IS NULL THEN 0.0
        |   ELSE floor((g3c.n3 - g3c.d3) * 10000.0 / g3c.n3 + 0.5) / 10000 END
        |    AS dup_3gram_frac
        | FROM toks t JOIN wc ON wc.doc_id = t.doc_id
        |  LEFT JOIN g2c ON g2c.doc_id = t.doc_id
        |  LEFT JOIN g3c ON g3c.doc_id = t.doc_id)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        | CAST(floor(top_word_frac * 10000 + 0.5) AS BIGINT)
        |   AS top_word_frac_bp,
        | CAST(floor(top_2gram_frac * 10000 + 0.5) AS BIGINT)
        |   AS top_2gram_frac_bp,
        | CAST(floor(dup_3gram_frac * 10000 + 0.5) AS BIGINT)
        |   AS dup_3gram_frac_bp,
        | (top_word_frac <= 0.15 AND top_2gram_frac <= 0.08
        |  AND dup_3gram_frac <= 0.01) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),

    // ---- Gopher quality rules: word-count bounds, mean word length,
    // alphabetic-word fraction, required-stopword hits. Same
    // zero-shuffle projection shape as q187 ----
    QuerySpec("q188_gopher_quality", (s, d) => {
      TextFunctions.gopherQuality(tSpread(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("n_words"),
          floorBp(col("mean_word_len"), 4).as("mean_word_len_bp"),
          floorBp(col("alpha_word_frac"), 4).as("alpha_word_frac_bp"),
          col("stop_hits"), col("keep"))
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |m AS (SELECT doc_id, array_length(t) AS nw,
        |  floor(length(array_to_string(t, '')) * 10000.0 / array_length(t)
        |    + 0.5) / 10000 AS mean_word_len,
        |  floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |    * 10000.0 / array_length(t) + 0.5) / 10000 AS alpha_word_frac,
        |  (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) AS stops
        | FROM toks)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        | CAST(floor(mean_word_len * 10000 + 0.5) AS BIGINT)
        |   AS mean_word_len_bp,
        | CAST(floor(alpha_word_frac * 10000 + 0.5) AS BIGINT)
        |   AS alpha_word_frac_bp,
        | CAST(stops AS BIGINT) AS stop_hits,
        | (nw >= 30 AND nw <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND alpha_word_frac >= 0.8
        |  AND stops >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),

    // ---- temperature-flattened corpus mixture (Conneau-Lample
    // p_g ∝ q_g^0.5): per-language rates on an integer basis-point
    // grid (α fixed at 0.5 — sqrt is IEEE-correctly-rounded in every
    // engine, pow is not), per-doc Bernoulli + upsampling from the
    // q173 closed-form hash. One tiny-group aggregate broadcast back
    // over the corpus grain; rare langs emit > 1 copy (capped 3×) ----
    QuerySpec("q184_temperature_mix", (s, d) => {
      import graft.operators.MixtureSample
      val docs = tSpread(s, d, "documents")
        .withColumn("lang_pred", TextFunctions.langId(col("text")))
      MixtureSample.temperatureSample(docs, col("lang_pred"), "doc_id",
          gainBp = 6000, capBp = 30000, seed = 17L)
        .select(col("doc_id"), col("group").as("grp"), col("rate_bp"),
          col("n_copies"))
        .orderBy(col("doc_id"))
    }, oracle =
      // temperature mixture: langId regex replay (q161's CTEs) → sqrt
      // basis-point rate → integer hash Bernoulli (// is DuckDB int div)
      """WITH scored AS (
        | SELECT doc_id,
        |  length(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS s_en,
        |  length(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        |  length(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |  length(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
        |  length(regexp_extract_all(lower(text), '\b(de|le|shi|wo|ni)\b')) AS s_zh
        | FROM documents),
        |pred AS (
        | SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |   WHEN s_zh > greatest(s_en, s_es, s_fr, s_de) THEN 'zh'
        |   WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
        |   WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
        |   WHEN s_es > s_en THEN 'es'
        |   ELSE 'en' END AS grp
        | FROM scored),
        |by_g AS (SELECT grp, count(*) AS n_g FROM pred GROUP BY 1),
        |tot AS (SELECT sum(n_g) AS n_total FROM by_g),
        |rated AS (
        | SELECT grp, CAST(least(30000, floor(6000 *
        |   sqrt((SELECT n_total FROM tot) / CAST(n_g AS DOUBLE)))) AS BIGINT)
        |   AS rate_bp
        | FROM by_g)
        |SELECT p.doc_id, p.grp, r.rate_bp,
        | CAST(r.rate_bp // 10000 +
        |  CASE WHEN (((p.doc_id + 17) % 1000003) * 2654435761) % 1000003
        |        < (r.rate_bp % 10000) * 1000003 // 10000
        |   THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |FROM pred p JOIN rated r USING (grp)
        |ORDER BY p.doc_id""".stripMargin),

    // ---- GPT-style sequence packing: tokenize, concatenate the token
    // stream in doc_id order, chunk into fixed context windows (L=512)
    // — the standard pretraining sample-packing layout. The exact
    // global token offset comes from GlobalOrder.withRunningSumLong
    // (ONE range shuffle + broadcast prefix carry; long addition is
    // associative so the partition-split accumulation is bit-identical
    // to the sequential window) — never the single-partition
    // `sum() OVER (ORDER BY ...)` scale-killer. Output: which context
    // windows each document spans ----
    QuerySpec("q172_sequence_pack", (s, d) => {
      import graft.operators.GlobalOrder
      val L = 512L
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
      GlobalOrder.withRunningSumLong(docs, Seq(col("doc_id")),
          col("n_tok"), "cum")
        .withColumn("off", col("cum") - col("n_tok"))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_tok"),
          expr(s"off div $L").as("first_chunk"),
          expr(s"(off + n_tok - 1) div $L").as("last_chunk"))
        .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
        .orderBy(col("doc_id"))
    }, oracle =
      // the oracle replays the packing with the sequential window cumsum
      // (the semantics GlobalOrder's split accumulation is proven equal
      // to); `//` is DuckDB integer division, matching Spark's `div`
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
        | FROM t)
        |SELECT doc_id, n_tok,
        | CAST(off // 512 AS BIGINT) AS first_chunk,
        | CAST((off + n_tok - 1) // 512 AS BIGINT) AS last_chunk,
        | CAST(((off + n_tok - 1) // 512) - (off // 512) + 1 AS BIGINT) AS n_chunks
        |FROM c WHERE n_tok > 0
        |ORDER BY doc_id""".stripMargin),

    // ---- deterministic EPOCH SHUFFLE + sharding: the training-order
    // stage of a data pipeline. Permutation key is the closed-form
    // multiplicative hash (engine-agnostic, same family the IVF
    // centroid pick replays in SQL) seeded by the epoch; the global
    // position comes from GlobalOrder.withRowNumber (one range
    // shuffle), then docs are cut into fixed-size output shards. A
    // different epoch seed yields a different permutation with zero
    // data movement beyond the one range shuffle ----
    QuerySpec("q173_epoch_shuffle", (s, d) => {
      import graft.operators.GlobalOrder
      val epoch = 3L
      val shardSize = 100L
      val docs = tSpread(s, d, "documents").select(col("doc_id"))
        // mod BEFORE the multiply (q39's closed form): keeps the
        // product < 2^63 for any doc_id under ANSI overflow checking
        .withColumn("h",
          pmod(pmod(col("doc_id") + lit(epoch), lit(1000003L))
            * lit(2654435761L), lit(1000003L)))
      GlobalOrder.withRowNumber(docs, Seq(col("h"), col("doc_id")), "pos")
        .withColumn("shard", expr(s"(pos - 1) div $shardSize"))
        .withColumn("pos_in_shard", expr(s"(pos - 1) % $shardSize"))
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
        .orderBy(col("doc_id"))
    }, oracle =
      // the oracle replays the permutation with the sequential
      // row_number window over the same closed-form hash
      """WITH h AS (
        | SELECT doc_id, (((doc_id + 3) % 1000003) * 2654435761) % 1000003 AS h
        | FROM documents),
        |p AS (
        | SELECT doc_id,
        |  row_number() OVER (ORDER BY h, doc_id) AS pos
        | FROM h)
        |SELECT doc_id,
        | CAST((pos - 1) // 100 AS BIGINT) AS shard,
        | CAST((pos - 1) % 100 AS BIGINT) AS pos_in_shard
        |FROM p
        |ORDER BY doc_id""".stripMargin),

    // ---- token-budget corpus selection (fill a fixed training-token
    // budget from the best documents — the stage quality scores feed):
    // exact greedy prefix over (quality DESC, doc_id), but computed in
    // the BANDED two-phase shape — per-band token totals find the
    // boundary band, better bands keep wholesale map-side, and only
    // ~1/1000 of the corpus pays an ordered cumsum window. The oracle
    // replays the global single-window form; banding is provably the
    // same prefix (floor(q·1000) is monotone in q) ----
    QuerySpec("q208_token_budget", (s, d) => {
      import graft.operators.Curation
      import graft.text.TextFunctions
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("q"))
        .filter(col("n_tokens") > 0)
      Curation.selectByBudget(docs, "q", "doc_id", "n_tokens",
        budget = 12000L)
        .select(col("doc_id"), col("n_tokens"),
          floorBp(col("q"), 4).as("q_bp"))
        .orderBy(col("doc_id"))
    }, oracle =
      // n_tokens / quality are verbatim the q19 oracle fragments; the
      // budget prefix is the plain global window the engine's banded
      // two-phase form provably equals
      s"""WITH $budgetOrderCteSql
        |SELECT doc_id, n_tokens,
        | CAST(floor(q * 10000 + 0.5) AS BIGINT) AS q_bp FROM o
        |WHERE cum <= 12000 ORDER BY doc_id""".stripMargin),

    // ---- percentile-threshold selection WITHOUT a global sort (pick
    // the p90 length cutoff, then keep everything above it — the
    // quality-threshold pattern at corpus scale): pass 1 builds a
    // fixed-width histogram (one shuffle onto a BOUNDED bin key — the
    // bin count is data-range/50, not corpus size), the cumulative
    // window runs on that tiny frame, the chosen cutoff rides back as
    // a 1-row broadcast cross join, pass 2 filters + aggregates. The
    // naive form sorts 100 TB to find one number; this never sorts
    // anything bigger than the histogram ----
    QuerySpec("q212_percentile_threshold", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
      val hist = docs
        .groupBy((col("n_chars") / lit(50)).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum(col("c")).over(wAll))
        .withColumn("total",
          sum(col("c")).over(Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
      val cutoff = cum
        .filter(col("cum") * lit(10L) >= col("total") * lit(9L))
        .agg(min(col("bin")).as("th_bin"))
        .select((col("th_bin") * lit(50L)).as("threshold"))
      docs.crossJoin(broadcast(cutoff))
        .filter(col("n_chars") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("threshold"))
    }, oracle =
      // integer cum*10 >= total*9 keeps the p90 selection exact in both
      // engines (no float percentile semantics to reconcile)
      """WITH docs AS (SELECT doc_id, n_chars FROM documents),
        |hist AS (SELECT n_chars // 50 AS bin, count(*) AS c
        |         FROM docs GROUP BY 1),
        |cum AS (SELECT bin, c,
        |  sum(c) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER () AS total
        | FROM hist),
        |cutoff AS (SELECT CAST(min(bin) * 50 AS BIGINT) AS threshold
        |           FROM cum WHERE cum * 10 >= total * 9)
        |SELECT threshold, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |  max(n_chars) AS max_chars
        |FROM docs, cutoff WHERE n_chars >= threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin),

    // ---- proportional stratified sampling (per-language corpus
    // sample for eval sets / data audits, deterministic replay): the
    // rank key is md5(doc_id:lang) — a seeded uniform order any engine
    // reproduces bit-for-bit, unlike rand(). ONE window exchange on
    // the stratum key carries both the row_number and the stratum
    // count; allocation is max(2, |stratum|/100) so strata keep
    // proportional representation with a floor. Docs never move twice
    // and nothing reaches the driver ----
    QuerySpec("q213_stratified_sample", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          md5(concat_ws(":", col("doc_id").cast("string"), col("lang")))
            .as("rk"))
      val part = Window.partitionBy(col("lang"))
      val ord = part.orderBy(col("rk"), col("doc_id"))
      docs
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("n_str", count(lit(1)).over(part))
        .filter(col("rn") <=
          greatest(lit(2L), floor(col("n_str") / lit(100)).cast("bigint")))
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang"), col("rn"))
    }, oracle =
      """WITH d AS (SELECT lang, doc_id, n_chars,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || lang) AS rk
        | FROM documents),
        |w AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n_str FROM d)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, n_chars FROM w
        |WHERE rn <= GREATEST(2, n_str // 100)
        |ORDER BY lang, rn""".stripMargin),

    // ---- blocklist filtering (C4's badwords pass): drop any document
    // containing a blocklisted term, publish the per-source impact
    // sheet. The hot path is ONE zero-exchange codegen projection —
    // word-boundary regex count over the text column — followed by a
    // bounded per-source aggregate; at 100 TB this is scan-rate work
    // with nothing shuffled but the sheet ----
    QuerySpec("q216_blocklist_filter", (s, d) => {
      import graft.text.TextFunctions
      val block = Seq("scan", "dup", "skew")
      val flagged = tSpread(s, d, "documents")
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"),
          (TextFunctions.wordMatchCount(col("text"), block) > 0)
            .as("blocked"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("blocked"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("blocked"), col("n_toks")).otherwise(0L))
            .as("dropped_tokens"),
          sum(when(!col("blocked"), col("n_toks")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy(col("source"))
    }, oracle =
      """WITH f AS (SELECT source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS n_toks,
        |  length(regexp_extract_all(lower(text),
        |    '\b(scan|dup|skew)\b')) > 0 AS blocked
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(sum(CASE WHEN blocked THEN n_toks ELSE 0 END) AS BIGINT)
        |    AS dropped_tokens,
        |  CAST(sum(CASE WHEN NOT blocked THEN n_toks ELSE 0 END)
        |    AS BIGINT) AS kept_tokens
        |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // ---- token-balanced training shards (webdataset-style packing:
    // consecutive docs in deterministic hash order fill ~25k-token
    // shards): shard id = exact global EXCLUSIVE prefix sum div budget,
    // computed with the banded two-phase pattern — 256 hex-prefix
    // bands, per-band totals to the driver (bounded), offsets
    // broadcast back, per-band window cumsum. No global sort, no
    // single-partition window; the oracle replays the one-window
    // global form, which banding provably equals ----
    QuerySpec("q218_token_shards", (s, d) => {
      import graft.operators.Curation
      import graft.text.TextFunctions
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"))
      Curation.shardByTokens(docs, "doc_id", "n_toks",
          shardBudget = 25000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("shard_tokens"))
        .orderBy(col("shard"))
    }, oracle =
      // global single-window exclusive prefix — the form the engine's
      // 256-band two-phase computation provably equals
      s"""WITH $tokenShardOrderCteSql
        |SELECT CAST(excl // 25000 AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- DoReMi-lite domain reweighting (the mixing-weight step a
    // multi-source pretraining run feeds back from measured loss):
    // per-source mean bigram perplexity (q88's model — the proxy for
    // "hard for the reference model") maps to excess-over-easiest
    // mixture weights. The token/count lineage is exactly q88's
    // (un-hinted Heaps-unbounded count joins — AQE picks the strategy);
    // everything after the per-doc score is SOURCE-grain (bounded).
    // Per-doc scores quantize to integer basis points (the 4dp round
    // the q88 gate already proves cross-engine) before any re-
    // aggregation, so the sheet is exact integer arithmetic end to end
    // — no double accumulation order anywhere ----
    QuerySpec("q225_domain_reweight", (s, d) => {
      // r12: q88's map-side bigram rework (see q88) — same counts, no
      // window-lead shuffle, one checkpointed pair-grain model aggregate
      val pairs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("source"),
          col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pairs.filter(col("w2").isNotNull)
      val biCounts = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val vocab = uniCounts.agg(count(lit(1)).as("v"))
      val perDoc = big.join(biCounts, Seq("w", "w2"))
        .join(uniCounts, Seq("w"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))))
        .groupBy(col("doc_id"), col("source"))
        .agg(round(-avg(col("logp")), 4).as("ppl_bits"))
      val perSrc = perDoc
        .select(col("source"),
          floor(col("ppl_bits") * lit(10000.0d) + lit(0.5d))
            .cast("bigint").as("bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bp")).as("sum_bp"))
        .withColumn("mean_bp", expr("sum_bp div n_docs"))
      val minBp = perSrc.agg(min(col("mean_bp")).as("min_bp"))
      val ex = perSrc.crossJoin(broadcast(minBp))
        .withColumn("excess", col("mean_bp") - col("min_bp") + lit(1000L))
      val tot = ex.agg(sum(col("excess")).as("tot"))
      ex.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("mean_bp"),
          expr("excess * 1000000L div tot").as("w_ppm"))
        .orderBy(col("source"))
    }, oracle =
      // DoReMi-lite replay: q88's bigram-perplexity CTEs with the source
      // carried through, per-doc 4dp quantization, then the pure-integer
      // excess/weight arithmetic.
      """WITH tok0 AS (
        | SELECT doc_id, source, ts, unnest(range(1, array_length(ts) + 1)) AS i
        | FROM (SELECT doc_id, source,
        |        regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |       FROM documents)),
        |tok AS (
        | SELECT doc_id, source, i - 1 AS pos, ts[CAST(i AS INT)] AS w
        | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0),
        |big AS (
        | SELECT doc_id, source, w,
        |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        | FROM tok
        | QUALIFY w2 IS NOT NULL),
        |bi AS (SELECT w, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tok),
        |pd AS (SELECT b.doc_id, b.source,
        |  CAST(floor(round(-avg(log2((bi.cb + 1.0) / (uni.cu + v.v))), 4)
        |    * 10000 + 0.5) AS BIGINT) AS bp
        | FROM big b
        |  JOIN bi ON bi.w = b.w AND bi.w2 = b.w2
        |  JOIN uni ON uni.w = b.w
        |  CROSS JOIN v
        | GROUP BY 1, 2),
        |ps AS (SELECT source, count(*) AS n_docs, sum(bp) AS sum_bp
        | FROM pd GROUP BY 1),
        |ps2 AS (SELECT source, n_docs, sum_bp // n_docs AS mean_bp FROM ps),
        |m AS (SELECT min(mean_bp) AS min_bp FROM ps2),
        |ex AS (SELECT source, n_docs, mean_bp, mean_bp - min_bp + 1000 AS excess
        | FROM ps2 CROSS JOIN m),
        |t AS (SELECT sum(excess) AS tot FROM ex)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(mean_bp AS BIGINT) AS mean_bp,
        | CAST(excess * 1000000 // tot AS BIGINT) AS w_ppm
        |FROM ex CROSS JOIN t ORDER BY source""".stripMargin),

    // ---- packed-sequence attention-span manifest (q172's packing
    // inverted to the artifact the TRAINER consumes: per context
    // window, which document spans it contains and where — the
    // cross-document attention mask / loss-boundary manifest). Same
    // GlobalOrder exact token offsets (one range shuffle, no
    // single-partition window); the explode is bounded by
    // total_tokens/L + n_docs rows — linear, and each chunk's spans
    // provably sum to exactly L except the final one ----
    QuerySpec("q226_pack_manifest", (s, d) => {
      import graft.operators.GlobalOrder
      val L = 512L
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
      GlobalOrder.withRunningSumLong(docs, Seq(col("doc_id")),
          col("n_tok"), "cum")
        .withColumn("off", col("cum") - col("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("chunk", explode(sequence(
          expr(s"off div $L"), expr(s"(off + n_tok - 1) div $L"))))
        .select(col("chunk"), col("doc_id"),
          greatest(col("off") - col("chunk") * L, lit(0L))
            .as("start_in_chunk"),
          (least((col("chunk") + 1) * L, col("off") + col("n_tok")) -
            greatest(col("chunk") * L, col("off"))).as("span_len"))
        .orderBy(col("chunk"), col("doc_id"))
    }, oracle =
      // span-manifest replay: q172's offsets + a chunk-range unnest.
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
        |    AS n_tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
        | FROM t),
        |e AS (
        | SELECT doc_id, n_tok, off,
        |  unnest(range(CAST(off // 512 AS BIGINT),
        |    CAST((off + n_tok - 1) // 512 + 1 AS BIGINT))) AS chunk
        | FROM c WHERE n_tok > 0)
        |SELECT CAST(chunk AS BIGINT) AS chunk, doc_id,
        | CAST(greatest(off - chunk * 512, 0) AS BIGINT) AS start_in_chunk,
        | CAST(least((chunk + 1) * 512, off + n_tok) -
        |   greatest(chunk * 512, off) AS BIGINT) AS span_len
        |FROM e ORDER BY chunk, doc_id""".stripMargin),

    // ---- dynamic-batching padding-waste audit (the fine-tuning /
    // inference batching decision: variable-length sequences padded to
    // the batch max burn compute — how much does length-sorted
    // batching save?): both global orders come from GlobalOrder (one
    // range shuffle each, never a single-partition window), batch id =
    // (rank-1) div B, then two bounded aggregates. Waste in exact
    // integer ppm. On this corpus the sheet shows ~42% of padded
    // tokens wasted in arrival order vs ~5% length-sorted — the number
    // that justifies the sort ----
    QuerySpec("q227_batch_padding", (s, d) => {
      import graft.operators.GlobalOrder
      val B = 32L
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
        .filter(col("n_tok") > 0)
      def waste(ordered: DataFrame, strategy: String): DataFrame =
        ordered
          .withColumn("batch", expr(s"(rn - 1) div $B"))
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("bsz"), max(col("n_tok")).as("maxlen"),
            sum(col("n_tok")).as("rt"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("bsz") * col("maxlen")).as("padded_tokens"),
            sum(col("rt")).as("real_tokens"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("padded_tokens"), col("real_tokens"),
            expr("(padded_tokens - real_tokens) * 1000000L div padded_tokens")
              .as("waste_ppm"))
      waste(GlobalOrder.withRowNumber(docs, Seq(col("doc_id")), "rn"),
          "arrival")
        .unionByName(waste(GlobalOrder.withRowNumber(docs,
          Seq(col("n_tok"), col("doc_id")), "rn"), "length_sorted"))
        .orderBy(col("strategy"))
    }, oracle =
      // padding-waste replay: two window ranks, per-batch aggregates,
      // pure-integer waste ppm.
      """WITH t AS (
        | SELECT doc_id, CAST(length(regexp_extract_all(text, '\w+|[^\w\s]'))
        |   AS BIGINT) AS n_tok
        | FROM documents),
        |tt AS (SELECT * FROM t WHERE n_tok > 0),
        |a AS (SELECT n_tok,
        |  (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch FROM tt),
        |sb AS (SELECT n_tok,
        |  (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS batch
        | FROM tt),
        |wa AS (SELECT 'arrival' AS strategy, batch, count(*) AS bsz,
        |  max(n_tok) AS maxlen, sum(n_tok) AS rt FROM a GROUP BY 1, 2),
        |ws AS (SELECT 'length_sorted' AS strategy, batch, count(*) AS bsz,
        |  max(n_tok) AS maxlen, sum(n_tok) AS rt FROM sb GROUP BY 1, 2),
        |u AS (SELECT * FROM wa UNION ALL SELECT * FROM ws)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        | CAST(sum(bsz * maxlen) AS BIGINT) AS padded_tokens,
        | CAST(sum(rt) AS BIGINT) AS real_tokens,
        | CAST((sum(bsz * maxlen) - sum(rt)) * 1000000 // sum(bsz * maxlen)
        |   AS BIGINT) AS waste_ppm
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- datasheet example sampler (the "representative examples"
    // section of a dataset card): deterministic md5-rank top-3 per
    // source — reproducible across runs/engines unlike rand(), and at
    // 100 TB the examples are recomputable from the ids alone. One
    // window exchange on the source key; InferWindowGroupLimit keeps
    // it per-partition top-k; text leaves only as its md5 ----
    QuerySpec("q232_datasheet_examples", (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("rk"), col("doc_id"))
      tSpread(s, d, "documents")
        .select(col("source"), col("doc_id"), col("lang"), col("n_chars"),
          md5(concat_ws(":", lit("ex"), col("doc_id").cast("string")))
            .as("rk"),
          md5(col("text")).as("text_md5"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn").cast("bigint").as("example_rank"),
          col("doc_id"), col("lang"), col("n_chars"), col("text_md5"))
        .orderBy(col("source"), col("example_rank"))
    }, oracle =
      // examples replay: same seeded md5 rank, same per-source top-3.
      """WITH r AS (
        | SELECT source, doc_id, lang, n_chars,
        |  md5('ex:' || CAST(doc_id AS VARCHAR)) AS rk,
        |  md5(text) AS text_md5,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5('ex:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |SELECT source, CAST(rn AS BIGINT) AS example_rank, doc_id, lang,
        | n_chars, text_md5
        |FROM r WHERE rn <= 3 ORDER BY source, example_rank""".stripMargin),

    // ---- cross-split leakage audit (what a random train/eval split
    // leaks through duplicated content — the check q189's benchmark
    // decontamination does for EXTERNAL eval sets, here for the
    // split's own test side): LSH candidates restricted to cross-split
    // bucket co-occupancy, exact-jaccard verified at pair grain, then
    // one source-grain sheet. Integer-exact ppm; the per-source output
    // is sources-bounded at any corpus size ----
    QuerySpec("q235_split_leakage", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .withColumn("is_test", col("doc_id") % 10 >= 8)
      val leaks = graft.dedup.Dedup.crossSplitLeakage(
        docs, "text", "doc_id", "is_test")
      val perTest = leaks.groupBy(col("test_id").as("doc_id"))
        .agg(count(lit(1)).as("n_links"))
      docs.filter(col("is_test"))
        .join(perTest, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("n_links").isNotNull, 1L).otherwise(0L))
            .as("n_leaked"),
          sum(coalesce(col("n_links"), lit(0L))).as("n_links"))
        .withColumn("leak_ppm", expr("n_leaked * 1000000L div n_test"))
        .orderBy(col("source"))
    }, oracle =
      // leakage replay: the shared minhash CTE's candidate pairs filtered
      // to cross-split orientation, verified with exact string-shingle
      // jaccard (the Spark side intersects FNV-hashed shingles — same
      // sets modulo negligible 64-bit collisions, the q22 precedent).
      s"""$minhashClusterCteSql,
        |cr AS (
        | SELECT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END AS test_id,
        |        CASE WHEN id_a % 10 >= 8 THEN id_b ELSE id_a END AS train_id
        | FROM pairs
        | WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)),
        |sz AS (SELECT doc_id, array_length(shingles) AS ns, shingles FROM sh),
        |ver AS (
        | SELECT c.test_id,
        |  array_length(list_intersect(a.shingles, b.shingles)) AS inter,
        |  a.ns AS nt, b.ns AS nr
        | FROM cr c JOIN sz a ON a.doc_id = c.test_id
        |           JOIN sz b ON b.doc_id = c.train_id),
        |vok AS (SELECT test_id FROM ver
        | WHERE floor(inter * 10000 / (nt + nr - inter) + 0.5) / 10000 >= 0.5),
        |lk AS (SELECT test_id, count(*) AS n_links FROM vok GROUP BY 1),
        |te AS (SELECT doc_id, source FROM documents WHERE doc_id % 10 >= 8)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(CASE WHEN lk.test_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_leaked,
        | CAST(coalesce(sum(n_links), 0) AS BIGINT) AS n_links,
        | CAST(sum(CASE WHEN lk.test_id IS NOT NULL THEN 1 ELSE 0 END)
        |   * 1000000 // count(*) AS BIGINT) AS leak_ppm
        |FROM te LEFT JOIN lk ON te.doc_id = lk.test_id
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- semantic pack order (in-context pretraining, Shi et al.
    // 2024's shape: related documents packed into the SAME training
    // sequence so attention sees coherent context): docs assign to
    // their nearest seed centroid (q163's IVF assignment — k×dim
    // driver state only), then pack greedily in (centroid, doc_id)
    // order into 256-token sequences. The per-cluster prefix sum that
    // decides sequence boundaries is ONE GlobalOrder range shuffle on
    // (centroid_id, doc_id) — never a per-cluster single-task window
    // (8 clusters of corpus/8 docs each would be 8 straggler tasks at
    // 100 TB) — minus a broadcast 8-row exclusive cluster prefix; the
    // only unpartitioned window runs over that 8-row frame. Output is
    // sequence-grain (total_tokens/256 rows), not doc-grain ----
    QuerySpec("q236_semantic_pack_order", (s, d) => {
      import graft.operators.GlobalOrder
      val cs = t(s, d, "embeddings").filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      val asg = graft.vector.IvfIndex.build(tSpread(s, d, "embeddings"),
          "embedding", "vec_id", cs)
        .select(col("vec_id").as("doc_id"),
          col("centroid_id").cast("bigint").as("centroid_id"))
      val toks = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      val docs = asg.join(toks, Seq("doc_id"))
      val withCum = GlobalOrder.withRunningSumLong(docs,
        Seq(col("centroid_id"), col("doc_id")), col("n_toks"), "cum")
      val prefix = docs.groupBy(col("centroid_id"))
        .agg(sum(col("n_toks")).as("ct"))
        .withColumn("cprefix", coalesce(sum(col("ct")).over(
          Window.orderBy(col("centroid_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("centroid_id"), col("cprefix"))
      withCum.join(broadcast(prefix), Seq("centroid_id"))
        .withColumn("seq_idx", expr("(cum - cprefix - n_toks) div 256"))
        .groupBy(col("centroid_id"), col("seq_idx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("centroid_id"), col("seq_idx"))
    }, oracle =
      // pack-order replay: q163's cosine argmax assignment (ties to the
      // smaller centroid id), whitespace token counts, per-cluster
      // inclusive running sum -> greedy 256-token sequence boundaries.
      s"""WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 8),
        |p AS (
        | SELECT e.vec_id AS doc_id, c.cid,
        |$cosineFoldSql,
        |sc AS (
        | SELECT doc_id, cid,
        |  CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / sqrt(na * nc) END AS s
        | FROM p),
        |asg AS (
        | SELECT doc_id, cid,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, cid) AS rk
        | FROM sc),
        |a AS (SELECT doc_id, cid FROM asg WHERE rk = 1),
        |tk AS (
        | SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\\s+'))
        |   END AS n_toks
        | FROM documents),
        |dj AS (SELECT a.doc_id, a.cid, tk.n_toks
        | FROM a JOIN tk ON a.doc_id = tk.doc_id),
        |cm AS (
        | SELECT doc_id, cid, n_toks,
        |  sum(n_toks) OVER (PARTITION BY cid ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM dj),
        |sq AS (SELECT cid, (cum - n_toks) // 256 AS seq_idx, doc_id, n_toks
        | FROM cm)
        |SELECT CAST(cid AS BIGINT) AS centroid_id,
        | CAST(seq_idx AS BIGINT) AS seq_idx,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_toks,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM sq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- per-source distribution divergence (the domain-shift data
    // card: which sources' unigram distributions diverge from the
    // corpus mean — q233's drift metric turned source-wise): exact
    // integer-ppm L1 per source. The absent-word mass is handled by
    // ALGEBRA, not a source×vocab cross join: Σ_{w∉s} ppm_g =
    // G − Σ_{w∈s} ppm_g, with G the corpus ppm total — so the only
    // corpus-content-sized exchanges are the (source, word) groupBy
    // and ONE word-key shuffle join (Heaps-unbounded, never
    // broadcast); everything else is sources- or 1-row-bounded ----
    QuerySpec("q239_source_divergence", (s, d) => {
      val sw = tSpread(s, d, "documents")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds the global vocab agg AND the join
      val g = sw.groupBy(col("w")).agg(sum(col("c")).as("cg"))
      val totS = sw.groupBy(col("source")).agg(sum(col("c")).as("ts"))
      val totG = g.agg(sum(col("cg")).as("tg"))
      val gp = g.crossJoin(broadcast(totG))
        .select(col("w"), expr("cg * 1000000L div tg").as("ppm_g"))
        .localCheckpoint() // feeds the G total AND the join
      val gSum = gp.agg(sum(col("ppm_g")).as("gsum"))
      sw.join(gp, Seq("w"))
        .join(broadcast(totS), Seq("source"))
        .select(col("source"), col("ts"),
          expr("c * 1000000L div ts").as("ppm_s"), col("ppm_g"))
        .groupBy(col("source"))
        .agg(max(col("ts")).as("n_tokens"), count(lit(1)).as("n_words"),
          sum(expr("abs(ppm_s - ppm_g)")).as("l1_in"),
          sum(col("ppm_g")).as("gin"))
        .crossJoin(broadcast(gSum))
        .select(col("source"), col("n_tokens"), col("n_words"),
          (col("l1_in") + col("gsum") - col("gin")).as("l1_ppm"))
        .orderBy(col("source"))
    }, oracle =
      // divergence replay: same integer ppm pipeline; the absent-word
      // mass enters through the same G - Σ_{w∈s} ppm_g identity.
      """WITH tok0 AS (
        | SELECT source,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        | FROM documents),
        |tok AS (SELECT source, w FROM tok0 WHERE length(w) > 0),
        |sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |g AS (SELECT w, sum(c) AS cg FROM sw GROUP BY 1),
        |ts AS (SELECT source, sum(c) AS t FROM sw GROUP BY 1),
        |tg AS (SELECT sum(cg) AS t FROM g),
        |gp AS (SELECT w, cg * 1000000 // tg.t AS ppm_g
        | FROM g CROSS JOIN tg),
        |gs AS (SELECT sum(ppm_g) AS gsum FROM gp),
        |j AS (SELECT sw.source, sw.c * 1000000 // ts.t AS ppm_s, gp.ppm_g
        | FROM sw JOIN gp ON sw.w = gp.w JOIN ts ON sw.source = ts.source),
        |a AS (SELECT source, count(*) AS n_words,
        |  sum(abs(ppm_s - ppm_g)) AS l1_in, sum(ppm_g) AS gin
        | FROM j GROUP BY 1)
        |SELECT a.source, CAST(ts.t AS BIGINT) AS n_tokens,
        | CAST(n_words AS BIGINT) AS n_words,
        | CAST(l1_in + gs.gsum - gin AS BIGINT) AS l1_ppm
        |FROM a JOIN ts ON a.source = ts.source CROSS JOIN gs
        |ORDER BY a.source""".stripMargin),

    // ---- temperature-scaled source mixture (XLM-R / mT5 α-sampling,
    // α = 0.5: sample sources ∝ (their token share)^α so low-resource
    // sources are up-weighted without letting any source dominate):
    // per-source weights w_s = ⌊√tokens_s⌋ (IEEE sqrt is correctly
    // rounded → floor is engine-portable), target share in exact
    // integer ppm, and a DETERMINISTIC Bernoulli doc selection with
    // per-source acceptance acc_s = rel_s / max(rel) (the standard
    // downsample-the-overrepresented construction — the most-boosted
    // source keeps everything). One corpus scan feeds both the
    // source-grain rate math (20-row frames, broadcast back) and the
    // hash-gated selection; no second scan, no rand() ----
    QuerySpec("q242_alpha_mixture", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(coalesce(col("text"), lit("")))
            .cast("long").as("n_toks"))
        .localCheckpoint() // feeds the rate math AND the selection
      val per = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks"))
      val tot = per.agg(sum(col("toks")).as("ttot"))
      val w = per.crossJoin(broadcast(tot))
        .withColumn("nat_ppm", expr("greatest(toks * 1000000L div ttot, 1L)"))
        .withColumn("w", expr("cast(floor(sqrt(cast(toks as double))) as bigint)"))
      val wtot = w.agg(sum(col("w")).as("wtot"))
      val rates = w.crossJoin(broadcast(wtot))
        .withColumn("samp_ppm", expr("w * 1000000L div wtot"))
        .withColumn("rel", expr("samp_ppm * 1000000L div nat_ppm"))
      val maxRel = rates.agg(max(col("rel")).as("mrel"))
      val acc = rates.crossJoin(broadcast(maxRel))
        .withColumn("acc_ppm", expr("rel * 1000000L div mrel"))
        .select(col("source"), col("n_docs"), col("toks"),
          col("nat_ppm"), col("samp_ppm"), col("acc_ppm"))
      val sel = docs
        .join(broadcast(acc.select(col("source"), col("acc_ppm"))), Seq("source"))
        .filter(expr("pmod(pmod(doc_id * 23, 1000003) * 2654435761, " +
          "1000003) % 1000000 < acc_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_toks")).as("s_toks"))
      acc.join(sel, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("toks").as("n_tokens"),
          col("nat_ppm"), col("samp_ppm"), col("acc_ppm"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("s_toks"), lit(0L)).as("sampled_tokens"))
        .orderBy(col("source"))
    }, oracle =
      // α-mixture replay: same integer-ppm ladder (⌊√toks⌋ weights,
      // rel = samp/nat, acc = rel/max) and the same hash gate.
      """WITH tk AS (
        | SELECT source, doc_id,
        |  CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(
        |          trim(coalesce(text, '')), '\s+'))
        |  END AS n_toks
        | FROM documents),
        |per AS (SELECT source, count(*) AS n_docs, sum(n_toks) AS toks
        | FROM tk GROUP BY 1),
        |tt AS (SELECT sum(toks) AS ttot FROM per),
        |w AS (
        | SELECT source, n_docs, toks,
        |  greatest(toks * 1000000 // tt.ttot, 1) AS nat_ppm,
        |  CAST(floor(sqrt(toks)) AS BIGINT) AS w
        | FROM per CROSS JOIN tt),
        |wt AS (SELECT sum(w) AS wtot FROM w),
        |r AS (
        | SELECT source, n_docs, toks, nat_ppm,
        |  w * 1000000 // wt.wtot AS samp_ppm,
        |  (w * 1000000 // wt.wtot) * 1000000 // nat_ppm AS rel
        | FROM w CROSS JOIN wt),
        |mx AS (SELECT max(rel) AS mrel FROM r),
        |acc AS (
        | SELECT source, n_docs, toks, nat_ppm, samp_ppm,
        |  rel * 1000000 // mx.mrel AS acc_ppm
        | FROM r CROSS JOIN mx),
        |sel AS (
        | SELECT tk.source, count(*) AS n_sampled, sum(n_toks) AS s_toks
        | FROM tk JOIN acc ON tk.source = acc.source
        | WHERE ((doc_id * 23) % 1000003) * 2654435761 % 1000003 % 1000000
        |       < acc_ppm
        | GROUP BY 1)
        |SELECT acc.source, CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(toks AS BIGINT) AS n_tokens, CAST(nat_ppm AS BIGINT) AS nat_ppm,
        | CAST(samp_ppm AS BIGINT) AS samp_ppm,
        | CAST(acc_ppm AS BIGINT) AS acc_ppm,
        | CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled,
        | CAST(coalesce(s_toks, 0) AS BIGINT) AS sampled_tokens
        |FROM acc LEFT JOIN sel ON acc.source = sel.source
        |ORDER BY acc.source""".stripMargin),

    // ---- preference-pair mining (the weak-supervision DPO/RLHF pair
    // construction: within each near-dup cluster the highest-quality
    // variant is `chosen`, the lowest is `rejected` — near-dups are
    // the same content, so the quality delta is the only signal and
    // the pair is a clean preference label): clusters are q210's
    // simhash Hamming graph + label-prop CC; quality is the q46
    // stopword-ratio score integer-ized at 4 decimals. ONE window
    // exchange on cluster_id serves both orderings (two sorts, one
    // shuffle) + the size count; text never reaches the window.
    // Output grain = multi-doc clusters; `usable` marks a strict
    // quality gap (gap-0 clusters stay visible for audit) ----
    QuerySpec("q244_preference_pairs", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      val cc = Graph.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      val scored = docs
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
        .withColumn("q10k", expr("cast(round(q * 10000) as bigint)"))
        .join(cc, col("doc_id") === col("id"))
      val part = Window.partitionBy(col("cluster_id"))
      val oc = part.orderBy(col("q10k").desc, col("doc_id"))
      val orj = part.orderBy(col("q10k").asc, col("doc_id").desc)
      scored
        .withColumn("rc", row_number().over(oc))
        .withColumn("rr", row_number().over(orj))
        .withColumn("csz", count(lit(1)).over(part))
        .filter(col("csz") >= 2)
        .groupBy(col("cluster_id"))
        .agg(max(when(col("rc") === 1, col("doc_id"))).as("chosen_doc"),
          max(when(col("rc") === 1, col("q10k"))).as("chosen_q"),
          max(when(col("rr") === 1, col("doc_id"))).as("rejected_doc"),
          max(when(col("rr") === 1, col("q10k"))).as("rejected_q"),
          max(col("csz")).as("cluster_size"))
        .select(col("cluster_id"), col("chosen_doc"), col("rejected_doc"),
          col("chosen_q"), col("rejected_q"),
          (col("chosen_q") - col("rejected_q")).as("gap"),
          (col("chosen_q") > col("rejected_q")).as("usable"),
          col("cluster_size"))
        .orderBy(col("cluster_id"))
    }, oracle =
      // preference-pair replay: q210's simhash+CC recursive CTE with the
      // q46 stopword-ratio score and the same two tie-broken orderings.
      s"""WITH RECURSIVE $simhashClusterCteSql,
        |cc AS (SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id),
        |qs AS (
        | SELECT doc_id, CAST(round((CASE WHEN length(trim(text)) = 0 THEN 0.0
        |  ELSE round(length(regexp_extract_all(lower(text),
        |    '\\b(the|a|an|and|of|to|in|is|it|that)\\b'))::DOUBLE /
        |    array_length(regexp_split_to_array(trim(text), '\\s+')), 4)
        |  END) * 10000) AS BIGINT) AS q10k
        | FROM documents),
        |j AS (SELECT cc.cluster_id, qs.doc_id, qs.q10k,
        |  row_number() OVER (PARTITION BY cc.cluster_id
        |    ORDER BY qs.q10k DESC, qs.doc_id) AS rc,
        |  row_number() OVER (PARTITION BY cc.cluster_id
        |    ORDER BY qs.q10k ASC, qs.doc_id DESC) AS rr,
        |  count(*) OVER (PARTITION BY cc.cluster_id) AS csz
        | FROM cc JOIN qs ON cc.id = qs.doc_id),
        |ag AS (
        | SELECT cluster_id,
        |  max(CASE WHEN rc = 1 THEN doc_id END) AS chosen_doc,
        |  max(CASE WHEN rc = 1 THEN q10k END) AS chosen_q,
        |  max(CASE WHEN rr = 1 THEN doc_id END) AS rejected_doc,
        |  max(CASE WHEN rr = 1 THEN q10k END) AS rejected_q,
        |  max(csz) AS cluster_size
        | FROM j WHERE csz >= 2 GROUP BY cluster_id)
        |SELECT cluster_id, chosen_doc, rejected_doc,
        | CAST(chosen_q AS BIGINT) AS chosen_q,
        | CAST(rejected_q AS BIGINT) AS rejected_q,
        | CAST(chosen_q - rejected_q AS BIGINT) AS gap,
        | chosen_q > rejected_q AS usable,
        | CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM ag ORDER BY cluster_id""".stripMargin),

    // ---- data-constrained scaling card (Muennighoff et al. 2022:
    // repeating data decays in value — how many effective tokens does
    // each source contribute at 1/2/4/8 epochs?): epoch i is worth
    // (3/4)^(i-1) of a fresh pass, computed OVERFLOW-FREE and exactly
    // in integers as (u div 4^(i-1)) * 3^(i-1) — divide first, so no
    // intermediate ever exceeds u. One source-grain aggregate; the
    // epoch grid is an ≤ 8-row broadcast; output ≤ 4·|sources| rows ----
    QuerySpec("q249_epoch_value_card", (s, d) => {
      val srcTok = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .groupBy(col("source"))
        .agg(sum(size(split(trim(col("text")), "\\s+")).cast("bigint"))
          .as("u"))
      val epochs = s.range(1, 9).select(col("id").as("i"))
      val terms = srcTok.crossJoin(broadcast(epochs))
        .withColumn("term", expr(
          "(u div cast(pow(4, i - 1) as bigint)) " +
            "* cast(pow(3, i - 1) as bigint)"))
      val grid = epochs.filter(col("i").isin(1L, 2L, 4L, 8L))
        .select(col("i").as("m"))
      terms.join(broadcast(grid), col("i") <= col("m"))
        .groupBy(col("source"), col("m"))
        .agg(max(col("u")).as("u"), sum(col("term")).as("eff_tokens"))
        .withColumn("raw_tokens", col("u") * col("m"))
        .select(col("source"), col("m").as("epochs"),
          col("raw_tokens"), col("eff_tokens"),
          // exact BIGINT bp (PLANS.md output typing); eff ≤ raw ≤ 8u,
          // u ~ 1e13 tokens/source at 100 TB → ·10⁴ stays inside Long
          expr("(eff_tokens * 10000 + raw_tokens div 2) div raw_tokens")
            .as("efficiency_bp"))
        .orderBy(col("source"), col("epochs"))
    }, oracle =
      // epoch-value replay: same divide-first integer decay on the same
      // whitespace token totals.
      """WITH st AS (
        | SELECT source,
        |  sum(array_length(regexp_split_to_array(trim(text), '\s+'))) AS u
        | FROM documents WHERE length(trim(text)) > 0 GROUP BY 1),
        |ep AS (SELECT unnest(range(1, 9)) AS i),
        |terms AS (
        | SELECT source, u, i,
        |  (u // CAST(pow(4, i - 1) AS BIGINT))
        |   * CAST(pow(3, i - 1) AS BIGINT) AS term
        | FROM st CROSS JOIN ep),
        |grid AS (SELECT i AS m FROM ep WHERE i IN (1, 2, 4, 8))
        |SELECT source, CAST(m AS BIGINT) AS epochs,
        | CAST(max(u) * m AS BIGINT) AS raw_tokens,
        | CAST(sum(term) AS BIGINT) AS eff_tokens,
        | CAST((sum(term) * 10000 + (max(u) * m) // 2) // (max(u) * m)
        |   AS BIGINT) AS efficiency_bp
        |FROM terms JOIN grid ON i <= m
        |GROUP BY source, m ORDER BY source, epochs""".stripMargin),

    // ---- D4-style cluster-balanced selection (SemDeDup's follow-up:
    // after dedup, rebalance the embedding space by downsampling
    // overdense clusters to a uniform per-cluster budget): assignment
    // is the q86 map-side nearest-of-K centroids (K=16, centroids in
    // the closure — no shuffle), sizes one cluster-key aggregate, and
    // the keep decision a 16-row broadcast + md5 hash gate. Acceptance
    // = min(1, cap/|cluster|) exactly, on a 10k integer grid ----
    QuerySpec("q250_cluster_balanced_select", (s, d) => {
      import graft.vector.IvfIndex
      val emb = tSpread(s, d, "embeddings")
      val cs = t(s, d, "embeddings").filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      val asg = IvfIndex.build(emb, "embedding", "vec_id", cs)
        .select(col("vec_id"), col("centroid_id"))
      val sizes = asg.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = sizes.agg(sum(col("n_vecs")).as("t"))
      val caps = sizes.crossJoin(broadcast(tot))
        .withColumn("cap", expr("t div 16"))
      asg
        .withColumn("bkt",
          conv(substring(md5(col("vec_id").cast("string")), 1, 6), 16, 10)
            .cast("bigint") % 10000)
        .join(broadcast(caps), Seq("centroid_id"))
        .withColumn("keep", col("bkt") * col("n_vecs") < col("cap") * 10000)
        .groupBy(col("centroid_id"))
        .agg(max(col("n_vecs")).as("n_vecs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("centroid_id").cast("bigint").as("centroid_id"),
          col("n_vecs"), col("n_kept"),
          // acceptance as exact BIGINT bp (PLANS.md output typing)
          expr("(n_kept * 10000 + n_vecs div 2) div n_vecs").as("rate_bp"))
        .orderBy(col("centroid_id"))
    }, oracle =
      // cluster-balance replay: q86's nearest-of-K assignment CTEs with
      // K=16, then the same integer-grid acceptance algebra.
      s"""WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 16),
        |p AS (
        | SELECT e.vec_id, c.cid,
        |$cosineFoldSql,
        |sc AS (
        | SELECT vec_id, cid,
        |  CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / sqrt(na * nc) END
        |    AS s
        | FROM p),
        |asg AS (
        | SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        | FROM sc),
        |a AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
        |sz AS (SELECT cid, count(*) AS n_vecs FROM a GROUP BY 1),
        |tt AS (SELECT sum(n_vecs) AS t FROM sz),
        |k AS (
        | SELECT a.vec_id, a.cid, sz.n_vecs, tt.t // 16 AS cap,
        |  ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 10000 AS bkt
        | FROM a JOIN sz ON a.cid = sz.cid CROSS JOIN tt)
        |SELECT CAST(cid AS BIGINT) AS centroid_id,
        | CAST(max(n_vecs) AS BIGINT) AS n_vecs,
        | CAST(sum(CASE WHEN bkt * n_vecs < cap * 10000 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_kept,
        | CAST((sum(CASE WHEN bkt * n_vecs < cap * 10000 THEN 1 ELSE 0 END)
        |   * 10000 + max(n_vecs) // 2) // max(n_vecs) AS BIGINT) AS rate_bp
        |FROM k GROUP BY cid ORDER BY centroid_id""".stripMargin),

    // ---- p99 length clipping (context-window hygiene: truncate the
    // pathological long tail so one 2 GB doc can't dominate a packed
    // batch): the cutoff comes from q212's BINNED VALUE HISTOGRAM
    // cumulative (bin domain ≈ max_len/50 rows — never a corpus sort),
    // broadcast back as one row; the clip itself is a map-side
    // substring with the rewritten bytes pinned by md5 ----
    QuerySpec("q253_p99_length_clip", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val hist = docs
        .groupBy((col("n_chars") / lit(50)).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cutoff = hist
        .withColumn("cum", sum(col("c")).over(wAll))
        .withColumn("total",
          sum(col("c")).over(Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .filter(col("cum") * lit(100L) >= col("total") * lit(99L))
        .agg(min(col("bin")).as("th_bin"))
        .select(((col("th_bin") + 1) * lit(50L)).as("threshold"))
      docs.crossJoin(broadcast(cutoff))
        .select(col("doc_id"), col("threshold"),
          col("n_chars").as("orig_chars"),
          least(col("n_chars"), col("threshold")).as("clip_chars"),
          (col("n_chars") > col("threshold")).as("clipped"),
          md5(expr("substring(text, 1, cast(threshold as int))"))
            .as("clip_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // p99-clip replay: the same 50-char binned cumulative and clip.
      """WITH h AS (
        | SELECT CAST(n_chars // 50 AS BIGINT) AS bin, count(*) AS c
        | FROM documents GROUP BY 1),
        |cm AS (
        | SELECT bin, c,
        |  sum(c) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER () AS total
        | FROM h),
        |th AS (
        | SELECT (min(bin) + 1) * 50 AS threshold
        | FROM cm WHERE cum * 100 >= total * 99)
        |SELECT doc_id, CAST(threshold AS BIGINT) AS threshold,
        | CAST(n_chars AS BIGINT) AS orig_chars,
        | CAST(least(n_chars, threshold) AS BIGINT) AS clip_chars,
        | n_chars > threshold AS clipped,
        | md5(substring(text, 1, CAST(threshold AS INT))) AS clip_md5
        |FROM documents CROSS JOIN th
        |ORDER BY doc_id""".stripMargin),

    // ---- composed cleaning emit (the whole character-grain
    // preprocessing pass a user actually ships, as ONE query: stutter
    // collapse (q252) → p99 length clip on the COLLAPSED text (q253's
    // histogram cutoff) → gopher keep flag (q188) — with the final
    // bytes pinned by md5): the corpus is scanned once into a
    // localCheckpoint that feeds both the length histogram and the
    // emit; everything else is one broadcast cutoff + codegen
    // projections. Stage-by-stage oracles exist separately; this one
    // proves the COMPOSITION byte-exact ----
    QuerySpec("q256_clean_emit", (s, d) => {
      val collapsed = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("ct",
          array_join(TextFunctions.stutterKept(col("ws")), " "))
        .select(col("doc_id"), col("ct"))
        .localCheckpoint() // feeds the histogram AND the emit
      val hist = collapsed
        .groupBy((length(col("ct")) / lit(50)).cast("bigint").as("bin"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cutoff = hist
        .withColumn("cum", sum(col("c")).over(wAll))
        .withColumn("total",
          sum(col("c")).over(Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .filter(col("cum") * lit(100L) >= col("total") * lit(99L))
        .agg(min(col("bin")).as("th_bin"))
        .select(((col("th_bin") + 1) * lit(50L)).as("threshold"))
      collapsed.crossJoin(broadcast(cutoff))
        .withColumn("clean", expr("substring(ct, 1, cast(threshold as int))"))
        .select(col("doc_id"),
          length(col("clean")).cast("bigint").as("clean_chars"),
          TextFunctions.gopherQualityStruct(col("clean"))
            .getField("keep").as("keep"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // composed-emit replay: q252's collapse, q253's cutoff on the
      // collapsed length, q188's gate on the clipped text.
      """WITH l AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        | FROM documents WHERE length(trim(text)) > 0),
        |cc AS (
        | SELECT doc_id, array_to_string(
        |  list_filter(ws, (x, i) -> CASE WHEN i = 1 THEN true
        |    ELSE x != ws[i - 1] END), ' ') AS ct
        | FROM l),
        |h AS (
        | SELECT CAST(length(ct) // 50 AS BIGINT) AS bin, count(*) AS c
        | FROM cc GROUP BY 1),
        |cm AS (
        | SELECT bin, c,
        |  sum(c) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER () AS total
        | FROM h),
        |th AS (
        | SELECT (min(bin) + 1) * 50 AS threshold
        | FROM cm WHERE cum * 100 >= total * 99),
        |e AS (
        | SELECT doc_id, substring(ct, 1, CAST(threshold AS INT)) AS clean
        | FROM cc CROSS JOIN th),
        |t2 AS (
        | SELECT doc_id, clean,
        |  regexp_split_to_array(trim(clean), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(clean), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM e)
        |SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_chars,
        | (array_length(t) >= 30 AND array_length(t) <= 100000
        |  AND floor(length(array_to_string(t, '')) * 10000.0
        |       / array_length(t) + 0.5) / 10000 BETWEEN 3.0 AND 10.0
        |  AND floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |       * 10000.0 / array_length(t) + 0.5) / 10000 >= 0.8
        |  AND (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) >= 2)
        |  AS keep,
        | md5(clean) AS clean_md5
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // ---- padding-waste frontier (q227 measured ONE batch size; this
    // sweeps B = 8..128 under length-sorted batching — the card that
    // picks the dynamic-batching bucket size): the ranked frame is
    // computed ONCE (GlobalOrder, localCheckpoint) and each B is a
    // ≤2-exchange aggregate over it; output 5 rows ----
    QuerySpec("q261_padding_frontier", (s, d) => {
      import graft.operators.GlobalOrder
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
        .filter(col("n_tok") > 0)
      val ranked = GlobalOrder.withRowNumber(docs,
          Seq(col("n_tok"), col("doc_id")), "rn")
        .localCheckpoint()
      Seq(8L, 16L, 32L, 64L, 128L).map { bsz =>
        ranked
          .withColumn("batch", expr(s"(rn - 1) div $bsz"))
          .groupBy(col("batch"))
          .agg(count(lit(1)).as("bsz"), max(col("n_tok")).as("maxlen"),
            sum(col("n_tok")).as("rt"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("bsz") * col("maxlen")).as("padded_tokens"),
            sum(col("rt")).as("real_tokens"))
          .select(lit(bsz).as("batch_size"), col("n_batches"),
            expr("(padded_tokens - real_tokens) * 1000000L " +
              "div padded_tokens").as("waste_ppm"))
      }.reduce(_ unionByName _).orderBy(col("batch_size"))
    }, oracle =
      // padding-frontier replay: q227's length-sorted rank swept over B.
      """WITH t AS (
        | SELECT doc_id, CAST(length(regexp_extract_all(text, '\w+|[^\w\s]'))
        |   AS BIGINT) AS n_tok
        | FROM documents),
        |tt AS (SELECT * FROM t WHERE n_tok > 0),
        |r AS (SELECT n_tok,
        |  row_number() OVER (ORDER BY n_tok, doc_id) AS rn FROM tt),
        |bs AS (SELECT unnest([8, 16, 32, 64, 128]) AS batch_size),
        |g AS (
        | SELECT batch_size, (rn - 1) // batch_size AS batch,
        |  count(*) AS bsz, max(n_tok) AS maxlen, sum(n_tok) AS rt
        | FROM r CROSS JOIN bs GROUP BY 1, 2)
        |SELECT CAST(batch_size AS BIGINT) AS batch_size,
        | CAST(count(*) AS BIGINT) AS n_batches,
        | CAST((sum(bsz * maxlen) - sum(rt)) * 1000000 // sum(bsz * maxlen)
        |   AS BIGINT) AS waste_ppm
        |FROM g GROUP BY batch_size ORDER BY batch_size""".stripMargin),

    // ---- held-out split balance audit (validates the md5-bucket
    // split q248 trains on: is the 20% eval share actually 20% per
    // source, in docs AND tokens? — the check that catches a split
    // key correlated with a stratum, exactly the doc_id%k trap this
    // corpus sets): ONE source-grain aggregate, zero joins ----
    QuerySpec("q266_split_balance_audit", (s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("bigint") % 100
      tSpread(s, d, "documents")
        .withColumn("is_eval", bucket < 20)
        .withColumn("n_toks", when(length(trim(col("text"))) > 0,
          size(split(trim(col("text")), "\\s+"))).otherwise(0)
          .cast("bigint"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
          sum(col("n_toks")).as("n_tokens"),
          sum(when(col("is_eval"), col("n_toks")).otherwise(0L))
            .as("eval_tokens"))
        .select(col("source"), col("n_docs"), col("n_eval"),
          expr("n_eval * 10000 div n_docs").as("eval_share_bp"),
          expr("eval_tokens * 10000 div n_tokens")
            .as("eval_token_share_bp"),
          expr("abs(n_eval * 10000 div n_docs - 2000)").as("doc_dev_bp"))
        .orderBy(col("source"))
    }, oracle =
      // split-balance replay: same md5 bucket, same source rollup.
      """WITH b AS (
        | SELECT source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 100 < 20 AS is_eval,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS n_toks
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
        | CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) * 10000 // count(*)
        |   AS BIGINT) AS eval_share_bp,
        | CAST(sum(CASE WHEN is_eval THEN n_toks ELSE 0 END) * 10000
        |   // sum(n_toks) AS BIGINT) AS eval_token_share_bp,
        | CAST(abs(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) * 10000
        |   // count(*) - 2000) AS BIGINT) AS doc_dev_bp
        |FROM b GROUP BY source ORDER BY source""".stripMargin),

    // ---- shard balance audit (the ops sheet over q218's packing: is
    // any shard pathologically under-filled? by the exclusive-prefix
    // construction only the LAST shard can be — this card proves it):
    // q218's machinery plus a 1-row rollup ----
    QuerySpec("q271_shard_balance", (s, d) => {
      import graft.operators.Curation
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"))
      Curation.shardByTokens(docs, "doc_id", "n_toks",
          shardBudget = 25000L)
        .groupBy(col("shard"))
        .agg(sum(col("n_toks")).as("st"))
        .agg(count(lit(1)).as("n_shards"), min(col("st")).as("min_tokens"),
          max(col("st")).as("max_tokens"), sum(col("st")).as("total_tokens"))
        .select(col("n_shards"), col("min_tokens"), col("max_tokens"),
          col("total_tokens"),
          expr("max_tokens * 10000 div (total_tokens div n_shards)")
            .as("imbalance_bp"))
    }, oracle =
      // shard-balance replay: q218's CTEs + the same 1-row rollup.
      s"""WITH $tokenShardOrderCteSql,
        |g AS (SELECT excl // 25000 AS shard, sum(n_toks) AS st
        |      FROM c GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_shards,
        | CAST(min(st) AS BIGINT) AS min_tokens,
        | CAST(max(st) AS BIGINT) AS max_tokens,
        | CAST(sum(st) AS BIGINT) AS total_tokens,
        | CAST(max(st) * 10000 // (sum(st) // count(*)) AS BIGINT)
        |  AS imbalance_bp
        |FROM g""".stripMargin),

    // ---- token-budget ablation curve (how does selection quality
    // move as the budget grows? — the card behind "train on the best
    // X%"): the audited skew-proof selectByBudget at four budgets
    // over ONE checkpointed scored frame; each point rolls up to one
    // row with the exact integer mean quality of its selection ----
    QuerySpec("q276_budget_ablation", (s, d) => {
      import graft.operators.Curation
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("q"))
        .filter(col("n_tokens") > 0)
        .localCheckpoint()
      // r13: one shared band-totals pass for all four points
      // (Curation.selectByBudgets) instead of four identical ones
      val budgets = Seq(6000L, 12000L, 25000L, 50000L)
      budgets.zip(Curation.selectByBudgets(docs, "q", "doc_id",
          "n_tokens", budgets)).map { case (bgt, sel) =>
        sel
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sel_tokens"),
            expr("case when count(1) > 0 then " +
              "sum(cast(round(q * 10000) as bigint)) div count(1) end")
              .as("mean_q4"))
          .select(lit(bgt).as("budget"), col("n_docs"),
            col("sel_tokens"), col("mean_q4"))
      }.reduce(_ unionByName _).orderBy(col("budget"))
    }, oracle =
      // ablation replay: q208's greedy cumsum crossed with the budget
      // spine (count over the LEFT JOIN counts matched docs only).
      s"""WITH $budgetOrderCteSql,
        |bs AS (SELECT unnest([6000, 12000, 25000, 50000]) AS budget)
        |SELECT CAST(budget AS BIGINT) AS budget,
        | CAST(count(o.doc_id) AS BIGINT) AS n_docs,
        | CAST(sum(o.n_tokens) AS BIGINT) AS sel_tokens,
        | CAST(CASE WHEN count(o.doc_id) > 0 THEN
        |   sum(CAST(round(o.q * 10000) AS BIGINT)) // count(o.doc_id)
        |  END AS BIGINT) AS mean_q4
        |FROM bs LEFT JOIN o ON o.cum <= budget
        |GROUP BY budget ORDER BY budget""".stripMargin),

    // ---- data-constrained mixture plan (the capstone planning card:
    // given a token budget of 2× the corpus, α=0.5 temperature shares
    // (q242) say what each source SHOULD contribute; repeating data
    // decays (q249) — so how many epochs does each source run, and
    // what does it actually deliver?): per-source ⌊√u⌋ → exact ppm
    // shares → integer need → ceil-div epochs (capped 8) → divide-
    // first decay value; deficit = need − delivered. Every step is
    // overflow-free integer arithmetic; all frames after the ONE
    // source-grain aggregate are |sources|-bounded ----
    QuerySpec("q277_mixture_plan", (s, d) => {
      val srcTok = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .groupBy(col("source"))
        .agg(sum(size(split(trim(col("text")), "\\s+")).cast("bigint"))
          .as("u"))
        .withColumn("r", expr("cast(floor(sqrt(cast(u as double))) " +
          "as bigint)"))
      val tot = srcTok.agg(sum(col("u")).as("tu"), sum(col("r")).as("tr"))
      val plan = srcTok.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("r * 1000000 div tr"))
        .withColumn("need", expr("share_ppm * (2 * tu) div 1000000"))
        .withColumn("epochs", expr(
          "least((need + u - 1) div u, cast(8 as bigint))"))
      val grid = s.range(1, 9).select(col("id").as("i"))
      plan.join(broadcast(grid), col("i") <= col("epochs"))
        .withColumn("term", expr(
          "(u div cast(pow(4, i - 1) as bigint)) " +
            "* cast(pow(3, i - 1) as bigint)"))
        .groupBy(col("source"))
        .agg(max(col("u")).as("u"), max(col("share_ppm")).as("share_ppm"),
          max(col("need")).as("need_tokens"),
          max(col("epochs")).as("epochs"),
          sum(col("term")).as("eff_tokens"))
        .withColumn("deficit",
          greatest(col("need_tokens") - col("eff_tokens"), lit(0L)))
        .orderBy(col("source"))
    }, oracle =
      // mixture-plan replay: same √u ppm ladder, ceil-div epochs, and
      // divide-first decay (q242 + q249 integer algebra composed).
      """WITH st AS (
        | SELECT source,
        |  sum(array_length(regexp_split_to_array(trim(text), '\s+'))) AS u
        | FROM documents WHERE length(trim(text)) > 0 GROUP BY 1),
        |sr AS (SELECT source, CAST(u AS BIGINT) AS u,
        |        CAST(floor(sqrt(CAST(u AS DOUBLE))) AS BIGINT) AS r
        |       FROM st),
        |tt AS (SELECT sum(u) AS tu, sum(r) AS tr FROM sr),
        |pl AS (
        | SELECT source, u, r * 1000000 // tr AS share_ppm,
        |  (r * 1000000 // tr) * (2 * tu) // 1000000 AS need
        | FROM sr CROSS JOIN tt),
        |p2 AS (SELECT source, u, share_ppm, need,
        |        least((need + u - 1) // u, 8) AS epochs
        |       FROM pl),
        |ep AS (SELECT unnest(range(1, 9)) AS i),
        |terms AS (
        | SELECT source, u, share_ppm, need, epochs, i,
        |  (u // CAST(pow(4, i - 1) AS BIGINT))
        |   * CAST(pow(3, i - 1) AS BIGINT) AS term
        | FROM p2 JOIN ep ON i <= epochs)
        |SELECT source, CAST(max(u) AS BIGINT) AS u,
        | CAST(max(share_ppm) AS BIGINT) AS share_ppm,
        | CAST(max(need) AS BIGINT) AS need_tokens,
        | CAST(max(epochs) AS BIGINT) AS epochs,
        | CAST(sum(term) AS BIGINT) AS eff_tokens,
        | CAST(greatest(max(need) - sum(term), 0) AS BIGINT) AS deficit
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),

    // ---- the STREAMING curation funnel under the driver's gate: the
    // reference's production mode is a daily incremental Map over dates
    // (its step function fans one task out per date), so the funnel must
    // hold per-arrival, not just one-shot. Here the held-out third of
    // the corpus (doc_id % 3 == 0) arrives as three ascending-id "days"
    // through a REAL Structured Streaming file source (one AvailableNow
    // pass per day against a persistent checkpoint — each pass processes
    // only the new arrivals), and each micro-batch is funneled inside
    // foreachBatch: per-doc gopher repetition + quality gates, the
    // probe-then-APPEND window-fingerprint near-dup check against the
    // LSM index seeded from the HISTORICAL corpus (each day probes the
    // accumulated index, then appends its own windows — the q183
    // maintenance path running live), 3-gram decontamination against the
    // frozen eval-gram set, and DSIR scoring against the frozen ratio
    // frame. Flags append to a parquet sink per micro-batch; nothing
    // rescans or retrains on history per day. Ascending-id arrival makes
    // the union of the per-day outputs equal the one-shot batch run
    // (probe-then-append ⇒ a window's owner is its globally-first
    // streamed doc), which is exactly what the oracle replays in SQL.
    // 100 TB shape: per day this is O(day bytes + index bytes), the
    // whole point of the incremental form ----
    QuerySpec("q284_streaming_funnel", (s, d) => {
      import graft.operators.ImportanceSelect
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val hist = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0).cache()
      val evalSet = hist.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text")).cache()
      // r13: target = a lang-flag subset of hist → the fused one-pass
      // ratio (dsirRatioSplit), half the tokenization of the two-frame
      // form, bit-identical _lr
      val ratio = ImportanceSelect.dsirRatioSplit(hist,
        col("lang") === "en", "text").cache()
      // r13: the eval set's distinct n-gram frame is day-INVARIANT —
      // computed once here instead of re-shingled inside every
      // micro-batch by decontaminate
      val evalGrams = Dedup.gramSet(evalSet, "text", n = 3).cache()
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q284").toString
      val idx = s"$tmp/fp_idx"
      val streamed = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text"))
      // r13: the four prep legs (DSIR ratio, eval-gram set, fingerprint
      // index seed, streamed max id) are mutually independent and each
      // leaves cores idle (single-task tails, file commits), so they
      // materialize CONCURRENTLY — the day loop only needs all of them
      // done. hist is counted first so the shared cache fills exactly
      // once instead of racing in every leg. Profile: prep+build+maxId
      // was ~4.6 s of serial driver time.
      s.sparkContext.setJobDescription("q284: ratio+eval prep")
      hist.count()
      val prepPool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val prepEc: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(prepPool)
      def inJob[T](desc: String)(body: => T): scala.concurrent.Future[T] =
        scala.concurrent.Future {
          s.sparkContext.setJobDescription(desc); body
        }
      val prep = Seq(
        inJob("q284: ratio+eval prep") { ratio.count() },
        inJob("q284: ratio+eval prep") { evalSet.count(); evalGrams.count() },
        // r12: 8 buckets, not the 64 default — this funnel probes the
        // WHOLE index every day (never a point lookup), so bucket count
        // buys nothing here and 64 directories × 3 append generations
        // was pure file-commit overhead ("index append" measured 8 s of
        // stage time). Bucketing stays the at-rest contract for
        // point-lookup consumers (q180-q183 keep 64).
        inJob("q284: fingerprint index build") {
          Dedup.writeWindowFingerprints(hist, "text", "doc_id", idx,
            window = 40, nBuckets = 8); 0L
        },
        inJob("q284: maxId") {
          streamed.agg(max(col("doc_id"))).head().getLong(0)
        })
      val maxId =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(prep),
          scala.concurrent.duration.Duration.Inf).last
        finally prepPool.shutdown()
      val srcDir = s"$tmp/arrivals"; val outDir = s"$tmp/flags"
      val ckpt = s"$tmp/ckpt"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def funnel(batch: DataFrame, pairs: DataFrame,
                 stats: DataFrame): DataFrame = {
        // r12: BOTH gate flags from one nondeterministic JVM pass
        // (TextFunctions.gopherGatesUdf — same booleans as the two HOF
        // frames, one tokenization instead of two interpreted HOF runs).
        // r13: and joined ONCE — the previous separate rep/qual join
        // legs each built their own broadcast from the gates subtree,
        // evaluating the UDF twice per day. (A union+groupBy assembly
        // of all five flags was A/B-tested and LOST: it trades the
        // tiny AQE broadcast joins for a full doc-grain exchange.)
        val gates = batch.filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            TextFunctions.gopherGatesUdf(col("text")).as("_g"))
          .select(col("doc_id"), col("_g._1").as("_k1"),
            col("_g._2").as("_k2"))
        // r13: the funnel gates on "is this doc a near-dup", never on
        // the spans — dupDocIdsIncremental probes at doc grain (no
        // posexplode positions, no island-merge windows, no index-side
        // distinct) from the SAME persisted pairs frame the stats came
        // from. Profile: the nd leg was ~3.8 s/day of the funnel's
        // ~6.9 s/day stage time.
        val nd = Dedup.dupDocIdsIncremental(s, idx, batch,
            "text", "doc_id", window = 40,
            pairs = Some(pairs), stats = Some(stats))
          .withColumn("_nd", lit(true))
        val contam = Dedup.contaminatedDocIds(batch, evalGrams,
            "text", "doc_id", n = 3)
          .select(col("doc_id"), lit(true).as("_c"))
        val dsir = ImportanceSelect.scoreWith(ratio, batch, "text",
            "doc_id")
          .select(col("doc_id"), col("selected").as("_k5"))
        batch.select(col("doc_id"))
          .join(gates, Seq("doc_id"), "left")
          .join(nd, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .join(dsir, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_k1"), lit(false)).as("k_rep"),
            coalesce(col("_k2"), lit(false)).as("k_qual"),
            col("_nd").isNull.as("k_nodup"),
            col("_c").isNull.as("k_clean"),
            coalesce(col("_k5"), lit(false)).as("k_dsir"))
          .withColumn("selected",
            col("k_rep") && col("k_qual") && col("k_nodup") &&
              col("k_clean") && col("k_dsir"))
      }
      val (b1, b2) = (maxId / 3, 2L * maxId / 3)
      val days = Seq(
        streamed.filter(col("doc_id") <= b1),
        streamed.filter(col("doc_id") > b1 && col("doc_id") <= b2),
        streamed.filter(col("doc_id") > b2))
      var dayNo = 0
      days.foreach { day =>
        dayNo += 1
        s.sparkContext.setJobDescription(s"q284: day $dayNo arrival write")
        day.coalesce(1).write.mode("append").parquet(srcDir)
        val q = StreamingIngest.readStream(s, srcDir, schema)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // the funnel reads the batch once per stage — pin it so the
            // file source isn't re-scanned 7× per day (r12 + r13 A/B:
            // spreading the tiny day batch costs more in task launches
            // than the single-task stages cost in compute)
            val day = batch.persist()
            // r13: ONE window-hash pass per day. The distinct
            // (doc, win) pairs frame feeds BOTH the probe and (via
            // batchWindowStatsFromPairs — identical rows, min over
            // distinct pairs = min over occurrences) the at-rest stats
            // the index append writes.
            val pairs = Dedup.windowDocPairs(day, "text", "doc_id",
              window = 40).persist()
            val stats = Dedup.batchWindowStatsFromPairs(pairs).persist()
            // flags FIRST (materializes the probe against the index as
            // of yesterday), THEN the day's windows append to the index
            s.sparkContext.setJobDescription("q284: funnel flags")
            funnel(day, pairs, stats).write.mode("append").parquet(outDir)
            s.sparkContext.setJobDescription("q284: index append")
            Dedup.appendWindowFingerprintStats(stats, idx,
              window = 40, nBuckets = 8)
            day.unpersist(); pairs.unpersist(); stats.unpersist()
            ()
          }
          .start()
        q.awaitTermination()
      }
      hist.unpersist(); evalSet.unpersist(); ratio.unpersist()
      evalGrams.unpersist()
      s.sparkContext.setJobDescription(null)
      s.read.parquet(outDir).orderBy(col("doc_id"))
    }, oracle =
      // streaming funnel replay: the ONE-SHOT batch run over the streamed
      // third (doc_id % 3 = 0), every frozen artifact derived from the
      // historical corpus (% 3 <> 0). Stage replays are q187 (repetition),
      // q188 (quality), q183's window logic with corp = historical windows
      // and the batch-min rule over ALL streamed docs (≡ probe-then-append
      // over ascending-id days), q189 (3-gram decontamination, eval = the
      // historical % 97 = 0 slice), q191 (DSIR, ratio from history only).
      s"""WITH tok0 AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT * FROM tok0 WHERE doc_id % 3 = 0),
        |$gopherNgramCteSql,
        |rep AS (
        | SELECT t.doc_id,
        |  (floor(wc.topw * 10000.0 / array_length(t.t) + 0.5) / 10000 <= 0.15
        |   AND (CASE WHEN g2c.doc_id IS NULL THEN 0.0
        |    ELSE floor(g2c.topg * 10000.0 / g2c.ng + 0.5) / 10000 END) <= 0.08
        |   AND (CASE WHEN g3c.doc_id IS NULL THEN 0.0
        |    ELSE floor((g3c.n3 - g3c.d3) * 10000.0 / g3c.n3 + 0.5) / 10000
        |    END) <= 0.01) AS k1
        | FROM toks t JOIN wc ON wc.doc_id = t.doc_id
        |  LEFT JOIN g2c ON g2c.doc_id = t.doc_id
        |  LEFT JOIN g3c ON g3c.doc_id = t.doc_id),
        |qual AS (
        | SELECT doc_id,
        |  (array_length(t) >= 30 AND array_length(t) <= 100000
        |   AND floor(length(array_to_string(t, '')) * 10000.0
        |     / array_length(t) + 0.5) / 10000 >= 3.0
        |   AND floor(length(array_to_string(t, '')) * 10000.0
        |     / array_length(t) + 0.5) / 10000 <= 10.0
        |   AND floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |     * 10000.0 / array_length(t) + 0.5) / 10000 >= 0.8
        |   AND (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
        |    + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) >= 2)
        |   AS k2
        | FROM toks),
        |pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 3 = 0),
        |corp AS (
        | SELECT DISTINCT substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40 AND doc_id % 3 <> 0),
        |bmin AS (SELECT win, min(doc_id) AS first_id FROM occ GROUP BY 1),
        |nd AS (SELECT DISTINCT o.doc_id
        | FROM occ o JOIN bmin b ON b.win = o.win
        |  LEFT JOIN corp c ON c.win = o.win
        | WHERE c.win IS NOT NULL OR o.doc_id > b.first_id),
        |gg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        | FROM tok0, unnest(range(1, array_length(t) - 1)) AS r(i)
        | WHERE array_length(t) >= 3),
        |ev AS (SELECT DISTINCT g FROM gg
        | WHERE doc_id % 3 <> 0 AND doc_id % 97 = 0),
        |contam AS (SELECT DISTINCT gg.doc_id FROM gg JOIN ev USING (g)
        | WHERE gg.doc_id % 3 = 0),
        |dtok AS (SELECT doc_id, lang, w FROM (
        |  SELECT doc_id, lang,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0) WHERE w <> ''),
        |cr AS (SELECT w, count(*) AS c_r FROM dtok
        | WHERE doc_id % 3 <> 0 GROUP BY 1),
        |ct2 AS (SELECT w, count(*) AS c_t FROM dtok
        | WHERE doc_id % 3 <> 0 AND lang = 'en' GROUP BY 1),
        |tot AS (SELECT sum(c_r) AS n_r, count(*) AS v FROM cr),
        |ttot AS (SELECT count(*) AS n_t FROM dtok
        | WHERE doc_id % 3 <> 0 AND lang = 'en'),
        |lr AS (SELECT cr.w,
        |  ln((coalesce(ct2.c_t, 0) + 1) * 1.0 /
        |     ((SELECT n_t FROM ttot) + (SELECT v FROM tot)))
        |  - ln((cr.c_r + 1) * 1.0 /
        |     ((SELECT n_r FROM tot) + (SELECT v FROM tot))) AS lr
        | FROM cr LEFT JOIN ct2 ON ct2.w = cr.w),
        |dsel AS (SELECT st.doc_id,
        |  (floor(avg(lr.lr) * 10000 + 0.5) / 10000 > 0) AS k5
        | FROM dtok st JOIN lr ON lr.w = st.w
        | WHERE st.doc_id % 3 = 0 GROUP BY 1),
        |flags AS (
        | SELECT d.doc_id,
        |  coalesce(rep.k1, false) AS k_rep,
        |  coalesce(qual.k2, false) AS k_qual,
        |  (nd.doc_id IS NULL) AS k_nodup,
        |  (contam.doc_id IS NULL) AS k_clean,
        |  coalesce(dsel.k5, false) AS k_dsir
        | FROM documents d
        |  LEFT JOIN rep ON rep.doc_id = d.doc_id
        |  LEFT JOIN qual ON qual.doc_id = d.doc_id
        |  LEFT JOIN nd ON nd.doc_id = d.doc_id
        |  LEFT JOIN contam ON contam.doc_id = d.doc_id
        |  LEFT JOIN dsel ON dsel.doc_id = d.doc_id
        | WHERE d.doc_id % 3 = 0)
        |SELECT doc_id, k_rep, k_qual, k_nodup, k_clean, k_dsir,
        | (k_rep AND k_qual AND k_nodup AND k_clean AND k_dsir) AS selected
        |FROM flags ORDER BY doc_id""".stripMargin),

    // ---- the full curation pipeline in ONE plan — the query a
    // pretraining-data engineer actually runs: corpus (+injected
    // near-dups) → Gopher repetition gate → Gopher quality gate →
    // PII scrub → exact dedup on the SCRUBBED hash → token-balanced
    // shard packing → per-shard manifest. The stage ORDER is
    // load-bearing and the card fails loudly if it drifts: every 7th
    // doc re-enters as a copy differing ONLY in its injected PII
    // (a fresh doc_id mints a fresh email + IP), so the raw hashes
    // are all distinct and only scrub-then-dedup collapses the pair —
    // dedup-before-scrub would ship both copies and every shard
    // count below would shift. All stages are existing verified
    // operators (q187/q188 gates, q55 scrub, q21 keep-first grain,
    // q218 banded packing); this card proves they COMPOSE. Scale
    // shape: the gates + scrub are ONE zero-shuffle codegen pass over
    // (doc_id, text) — both Gopher structs evaluate inline, no join
    // back to the corpus — so the only corpus-grain shuffle is the
    // dedup hash grain, followed by q218's 256-band packing. No
    // global sort, no driver row loop, dup groups bound the dedup
    // window ----
    QuerySpec("q317_training_shards", (s, d) => {
      import graft.operators.Curation
      import graft.text.{Pii, TextFunctions}
      val docs = tSpread(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val contact = concat(col("text"),
        lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 504-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 192.168."), (col("doc_id") % 256).cast("string"),
        lit(".7"))
      val inj = corpus.select(col("doc_id"), contact.as("text"))
      val gated = inj
        .filter(length(trim(col("text"))) > 0)
        .filter(TextFunctions.gopherGateKeepFastUdf(col("text")))
      val scrub = gated.select(col("doc_id"),
        Pii.redact(col("text")).as("clean"),
        (Pii.emailCount(col("text")) + Pii.phoneCount(col("text")) +
          Pii.ipCount(col("text"))).cast("bigint").as("n_pii"))
      val kept = scrub
        .withColumn("_h", md5(col("clean")))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1)
        .select(col("doc_id"), col("n_pii"),
          TextFunctions.tokenCount(col("clean")).cast("bigint")
            .as("n_toks"))
      Curation.shardByTokens(kept, "doc_id", "n_toks",
          shardBudget = 5000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("shard_tokens"),
          sum(col("n_pii")).as("pii_masked"))
        .select(col("shard"), col("n_docs"),
          col("shard_tokens").cast("bigint").as("shard_tokens"),
          col("pii_masked").cast("bigint").as("pii_masked"))
        .orderBy(col("shard"))
    }, oracle =
      s"""WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 10000000 AS doc_id, text FROM documents
        | WHERE doc_id % 7 = 0),
        |inj AS (SELECT doc_id,
        |  text || ' Contact: user' || CAST(doc_id AS VARCHAR) ||
        |  '@mail.example.com or 504-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' at 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
        | FROM corpus),
        |$curatedShardsSql""".stripMargin),

    // ---- the WHOLE product path in ONE plan: web archive bytes in,
    // training shards out. Composes the wire chain (q307: HTTP
    // envelope, Content-Type reaches the sniffer), the decode chain
    // (q302: cp1252 charset → boilerplate → entities, each stage must
    // fire exactly once in order) and the curation chain (q317: Gopher
    // gates → PII scrub → scrubbed-hash dedup → token packing). The
    // page body carries a link-dense nav (dropped), named + numeric-C1
    // entities AND raw cp1252 bytes (é “ ” € ’ survive only if decode
    // order holds), and the PII contact line INSIDE the kept block —
    // the dup arm again differs only in its minted email/IP, so the
    // shard manifest is wrong unless every rung of all three chains
    // fires. Scale shape: wire+decode+gates+scrub are one per-row
    // codegen+UDF pass; first corpus shuffle is the dedup hash ----
    QuerySpec("q319_web_to_shards", (s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.text.{HtmlEntities, Pii, TextFunctions}
      import graft.extract.Boilerplate
      import graft.operators.Curation
      val docs = tSpread(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val nav = "<div class=\"nav\"><a href=\"/\">home</a> " +
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></div>"
      val part1 = concat(lit(nav + "<p>"), col("text"),
        lit(" caf&eacute; &amp; bar &#147;ok&#148; Contact: user"),
        col("doc_id").cast("string"),
        lit("@mail.example.com at 192.168."),
        (col("doc_id") % 256).cast("string"), lit(".7 "))
      val specials = lit(Array[Byte](0x80.toByte, 0x92.toByte))
      val body = concat(encode(part1, "UTF-8"), specials,
        encode(lit("</p>"), "UTF-8"))
      val payload = HttpMessage.writeUdf(lit(200), lit("OK"),
        lit("text/html; charset=windows-1252"), lit(null).cast("string"),
        body, lit(false))
      val content = corpus
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          CharsetSniff.decodeUdf(expr("h._2['content-type']"), col("h._3"))
            .as("html"))
        .select(col("doc_id"),
          HtmlEntities.decodeUdf(Boilerplate.extractUdf(3)(col("html"))("_3"))
            .as("text"))
      val gated = content
        .filter(length(trim(col("text"))) > 0)
        .filter(TextFunctions.gopherGateKeepFastUdf(col("text")))
      val scrub = gated.select(col("doc_id"),
        Pii.redact(col("text")).as("clean"),
        (Pii.emailCount(col("text")) + Pii.phoneCount(col("text")) +
          Pii.ipCount(col("text"))).cast("bigint").as("n_pii"))
      val kept = scrub
        .withColumn("_h", md5(col("clean")))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1)
        .select(col("doc_id"), col("n_pii"),
          TextFunctions.tokenCount(col("clean")).cast("bigint")
            .as("n_toks"))
      Curation.shardByTokens(kept, "doc_id", "n_toks",
          shardBudget = 5000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("shard_tokens"),
          sum(col("n_pii")).as("pii_masked"))
        .select(col("shard"), col("n_docs"),
          col("shard_tokens").cast("bigint").as("shard_tokens"),
          col("pii_masked").cast("bigint").as("pii_masked"))
        .orderBy(col("shard"))
    }, oracle =
      s"""WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 10000000 AS doc_id, text FROM documents
        | WHERE doc_id % 7 = 0),
        |inj AS (SELECT doc_id,
        |  text || ' caf' || chr(233) || ' & bar ' || chr(8220) || 'ok'
        |   || chr(8221) || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |   || '@mail.example.com at 192.168.'
        |   || CAST(doc_id % 256 AS VARCHAR) || '.7 '
        |   || chr(8364) || chr(8217) AS text
        | FROM corpus),
        |$curatedShardsSql""".stripMargin),

    // ---- incremental shard packing — shard IMMUTABILITY under corpus
    // growth: a production training set is built in epochs (each crawl
    // round appends), and already-shipped shards must never be
    // rewritten (a training run resumes against them by content
    // address). Epoch-1 docs pack exactly as they would alone —
    // bit-identical manifest, which the oracle replays separately —
    // and epoch-2 docs pack into FRESH shard ids starting after
    // epoch 1's last (append-only, the LSM idea applied to shards),
    // rather than re-balancing the whole corpus the way a naive
    // re-run of q218 would. The epoch-1 offset rides a broadcast
    // 1-row aggregate — no driver round trip in the plan ----
    QuerySpec("q320_incremental_shards", (s, d) => {
      import graft.operators.Curation
      import graft.text.TextFunctions
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"))
      val v1 = docs.filter(col("doc_id") % 5 =!= 0)
      val v2 = docs.filter(col("doc_id") % 5 === 0)
      val p1 = Curation.shardByTokens(v1, "doc_id", "n_toks",
        shardBudget = 5000L)
      val base = p1.agg((max(col("shard")) + 1).as("_base"))
      val p2 = Curation.shardByTokens(v2, "doc_id", "n_toks",
          shardBudget = 5000L)
        .crossJoin(broadcast(base))
        .select(col("doc_id"), col("n_toks"),
          (col("shard") + col("_base")).as("shard"))
      p1.select(col("doc_id"), col("n_toks"), col("shard"))
        .withColumn("epoch", lit(1L))
        .unionByName(p2.withColumn("epoch", lit(2L)))
        // the shard's CONTENT ADDRESS: md5 over its doc ids in pack
        // order (the rank key) — what a resuming training run checks
        // against the manifest before trusting an already-built shard
        .withColumn("_rk",
          md5(concat_ws(":", lit("shard"), col("doc_id").cast("string"))))
        .groupBy(col("shard"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("shard_tokens"),
          md5(concat_ws(",",
            transform(
              sort_array(collect_list(struct(col("_rk"),
                col("doc_id")))),
              x => x("doc_id").cast("string")))).as("manifest_md5"))
        .select(col("shard"), col("epoch"), col("n_docs"),
          col("shard_tokens").cast("bigint").as("shard_tokens"),
          col("manifest_md5"))
        .orderBy(col("shard"))
    }, oracle =
      """WITH d0 AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS BIGINT) AS n_toks,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk
        | FROM documents),
        |c1 AS (SELECT doc_id, n_toks,
        |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
        | FROM d0 WHERE doc_id % 5 <> 0),
        |p1 AS (SELECT doc_id, n_toks,
        |  CAST(excl // 5000 AS BIGINT) AS shard FROM c1),
        |b AS (SELECT max(shard) + 1 AS base FROM p1),
        |c2 AS (SELECT doc_id, n_toks,
        |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
        | FROM d0 WHERE doc_id % 5 = 0),
        |p2 AS (SELECT doc_id, n_toks,
        |  CAST(excl // 5000 + (SELECT base FROM b) AS BIGINT) AS shard
        | FROM c2),
        |u AS (
        | SELECT shard, CAST(1 AS BIGINT) AS epoch, doc_id, n_toks,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk FROM p1
        | UNION ALL
        | SELECT shard, CAST(2 AS BIGINT) AS epoch, doc_id, n_toks,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk FROM p2)
        |SELECT shard, epoch, count(*) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS shard_tokens,
        | md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |   ORDER BY rk, doc_id)) AS manifest_md5
        |FROM u GROUP BY 1, 2 ORDER BY shard""".stripMargin),

    // ---- context-window chunking: the sequence-creation step between
    // curation and packing — every doc's token stream splits into
    // L=32-token windows at stride S=24 (8-token overlap, the
    // HF-tokenizers `stride` convention: windows start at 0, S, 2S, …
    // while start < n; the last window runs short instead of padding).
    // Chunk CONTENT is pinned, not just counts: each row carries the
    // md5 of its exact token slice, so an off-by-one in either the
    // start arithmetic or the slice bounds flips every hash. Pure
    // map-side explode — one codegen pass, no shuffle until the
    // presentation sort; at 100 TB this is the scan-shaped stage
    // between q317's gates and q218's packing ----
    QuerySpec("q318_context_windows", (s, d) => {
      val L = 32
      val S = 24
      tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0),
            floor((size(col("t")) - lit(1)) / lit(S)).cast("int")))
            .as("k"))
        .select(col("doc_id"), col("k").cast("bigint").as("chunk_id"),
          least(lit(L), size(col("t")) - col("k") * S).cast("bigint")
            .as("n_tokens"),
          md5(concat_ws(" ", slice(col("t"), col("k") * S + 1,
            least(lit(L), size(col("t")) - col("k") * S))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents WHERE length(trim(text)) > 0),
        |ch AS (SELECT doc_id, t,
        |  unnest(range(0, (array_length(t) - 1) // 24 + 1)) AS k
        | FROM toks)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        | CAST(least(32, array_length(t) - k * 24) AS BIGINT) AS n_tokens,
        | md5(array_to_string(
        |   t[k * 24 + 1 : least(k * 24 + 32, array_length(t))], ' '))
        |   AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),
  )
}
