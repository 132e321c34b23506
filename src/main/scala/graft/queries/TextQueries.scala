package graft
package queries

import graft.text.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Text queries: tokenization (whitespace, BPE, byte-level BPE), n-gram
  * and vocabulary statistics, language models and their quality proxies,
  * retrieval (TF-IDF, BM25) and character-grain normalization. */
private[graft] object TextQueries {

  /** Probe terms for the CMS point-query demos (sorted; present in the
    * synthetic documents vocabulary plus one absent term). */
  private val CmsProbeTerms: Seq[String] =
    Seq("agg", "data", "join", "scan", "spark", "table", "value", "zzz_absent")

  /** The bigram LM that q88, q243, q246 and q269 score with, as `logp`
    * on every bigram row of `docs`: add-one smoothed log2 P(w2|w1) =
    * log2((c(w1,w2)+1) / (c(w1)+V)), carrying `keep` columns. Bigrams
    * come from the map-side adjacentPairs array (w2 NULL on a doc's
    * last token), and ONE checkpointed pair-grain aggregate derives the
    * bigram counts, the unigram counts AND V, so the corpus is scanned
    * twice (model + probe). The count-frame joins are deliberately
    * UN-hinted: the bigram vocabulary grows with corpus content, so a
    * forced broadcast would OOM the executors at scale; only the 1-row
    * vocab-size frame keeps an explicit broadcast. */
  private def bigramLogProb(docs: DataFrame, keep: String*): DataFrame = {
    val pairs = docs
      .select(keep.map(col) :+
        explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"): _*)
      .select(keep.map(col) ++ Seq(col("bg.w").as("w"), col("bg.w2").as("w2")): _*)
    val pc = pairs.groupBy(col("w"), col("w2"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val biCounts = pc.filter(col("w2").isNotNull)
      .select(col("w"), col("w2"), col("c").as("cb"))
    val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
    val vocab = uniCounts.agg(count(lit(1)).as("v"))
    pairs.filter(col("w2").isNotNull)
      .join(biCounts, Seq("w", "w2"))
      .join(uniCounts, Seq("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))))
  }

  /** q197's oracle: the FULL BPE training loop plus per-document
    * tokenization, unrolled to `n` argmax+replace iterations of plain
    * DuckDB SQL. Symbol sequences ride a double-space string encoding
    * (each symbol wrapped in its own leading+trailing space, so the
    * pattern `' l  r '` → `' lr '` reproduces the trainer's
    * left-to-right non-overlapping single-pass merge exactly: after a
    * replacement the NEXT pair's leading space is still present, while
    * a merged symbol can never re-merge in the same pass); documents
    * join their words with a newline so no merge crosses a word
    * boundary. CTEs are MATERIALIZED — the chain references each stage
    * twice (pair count + rewrite) and inlining would blow up
    * exponentially. substr()/length() count codepoints, matching
    * [[graft.text.BpeTrainer.applyMerges]]'s codepoint segmentation. */
  private def bpeTokenizeOracle(n: Int,
                                finalSelect: Option[String] = None): String = {
    val sb = new StringBuilder
    sb ++= """WITH words AS (
      | SELECT w, count(*) AS wf FROM (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents)
      | WHERE length(w) > 0 GROUP BY 1),
      |st0 AS MATERIALIZED (
      | SELECT w, wf,
      |  ' ' || array_to_string(list_transform(range(1, length(w)+1),
      |    i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS seg
      | FROM words),
      |d0 AS MATERIALIZED (
      | SELECT doc_id,
      |  array_to_string(list_transform(
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |      x -> x <> ''),
      |    w -> ' ' || array_to_string(list_transform(range(1, length(w)+1),
      |      i -> substr(w, CAST(i AS INT), 1)), '  ') || ' '),
      |   chr(10)) AS seg
      | FROM documents WHERE length(trim(text)) > 0)""".stripMargin
    bpeMergeLoopSql(sb, n)
    sb ++= finalSelect.getOrElse(s"""
      |SELECT doc_id,
      | CAST(len(regexp_split_to_array(trim(seg), '\\s+')) AS BIGINT)
      |   AS n_tokens,
      | md5(array_to_string(regexp_split_to_array(trim(seg), '\\s+'), ' '))
      |   AS tok_md5
      |FROM d$n ORDER BY doc_id""".stripMargin)
    sb.toString
  }

  /** The shared n-iteration argmax+replace merge loop over the st/d
    * double-space segmentation CTEs (see [[bpeTokenizeOracle]]'s doc). */
  private def bpeMergeLoopSql(sb: StringBuilder, n: Int): Unit =
    for (i <- 1 to n) sb ++= s""",
      |p$i AS MATERIALIZED (
      | SELECT s[j] AS l, s[j+1] AS r, wf FROM
      |  (SELECT regexp_split_to_array(trim(seg), '\\s+') AS s, wf
      |   FROM st${i - 1}),
      |  unnest(range(1, len(s))) AS t(j)
      | WHERE len(s) >= 2),
      |b$i AS MATERIALIZED (
      | SELECT l, r FROM p$i GROUP BY l, r
      | ORDER BY sum(wf) DESC, l, r LIMIT 1),
      |st$i AS MATERIALIZED (
      | SELECT w, wf,
      |  replace(seg, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS seg
      | FROM st${i - 1}, b$i b),
      |d$i AS MATERIALIZED (
      | SELECT doc_id,
      |  replace(seg, ' '||b.l||'  '||b.r||' ', ' '||b.l||b.r||' ') AS seg
      | FROM d${i - 1}, b$i b)""".stripMargin

  /** Per-word BYTE-grain segmentation SQL: codepoints → UTF-8 bytes by
    * integer math → the GPT-2 bytes↔unicode bijection char per byte
    * ([[graft.text.BpeTrainer.ByteToChar]]'s SQL twin: visible ASCII and
    * Latin-1-minus-NBSP/SHY map to themselves, the 68 shifted bytes to
    * 256+rank), double-space joined like the codepoint form. */
  private def byteSegSql(w: String): String =
    s"""' ' || array_to_string(list_transform(
      |    flatten(list_transform(
      |      list_transform(range(1, length($w)+1),
      |        ci -> unicode(substr($w, CAST(ci AS INT), 1))),
      |      u -> CASE WHEN u < 128 THEN [u]
      |       WHEN u < 2048 THEN [192 + u//64, 128 + u%64]
      |       WHEN u < 65536 THEN [224 + u//4096, 128 + (u//64)%64,
      |        128 + u%64]
      |       ELSE [240 + u//262144, 128 + (u//4096)%64, 128 + (u//64)%64,
      |        128 + u%64] END)),
      |    b -> chr(CAST(CASE WHEN (b BETWEEN 33 AND 126)
      |       OR (b BETWEEN 161 AND 172) OR (b BETWEEN 174 AND 255) THEN b
      |      ELSE 256 + least(b, 33) + greatest(0, least(b, 161) - 127)
      |       + (CASE WHEN b > 173 THEN 1 ELSE 0 END) END AS INT))),
      |   '  ') || ' '""".stripMargin

  /** [[bpeTokenizeOracle]]'s byte-grain twin: words keep their case
    * (byte-level tokenizers don't normalize), st0/d0 segment at UTF-8
    * byte grain via [[byteSegSql]], and the merge loop is shared. */
  private def bpeByteTokenizeOracle(n: Int, finalSelect: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH words AS (
      | SELECT w, count(*) AS wf FROM (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      |  FROM documents)
      | WHERE length(w) > 0 GROUP BY 1),
      |st0 AS MATERIALIZED (
      | SELECT w, wf, ${byteSegSql("w")} AS seg
      | FROM words),
      |d0 AS MATERIALIZED (
      | SELECT doc_id,
      |  array_to_string(list_transform(
      |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |      x -> x <> ''),
      |    w -> ${byteSegSql("w")}),
      |   chr(10)) AS seg
      | FROM documents WHERE length(trim(text)) > 0)""".stripMargin
    bpeMergeLoopSql(sb, n)
    sb ++= finalSelect
    sb.toString
  }

  /** The bigram-LM quality proxy and the Gopher-quality label per doc:
    * `sc(doc_id, ppl10k)` from the add-one bigram model and
    * `gt(doc_id, keep)` from the word-count, mean-word-length,
    * alphabetic-ratio and stopword rules. */
  private lazy val bigramProxyCteSql: String =
    s"""$bigramCteSql,
      |bi AS (SELECT w, w2, count(*) AS cb FROM big GROUP BY 1, 2),
      |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM tok),
      |sc AS (
      | SELECT b.doc_id,
      |  CAST(round(round(-avg(log2((bi.cb + 1.0) / (uni.cu + v.v))), 4)
      |       * 10000) AS BIGINT) AS ppl10k
      | FROM big b
      |  JOIN bi ON bi.w = b.w AND bi.w2 = b.w2
      |  JOIN uni ON uni.w = b.w
      |  CROSS JOIN v
      | GROUP BY b.doc_id),
      |gt AS (
      | SELECT doc_id,
      |  (array_length(t) >= 30 AND array_length(t) <= 100000
      |   AND floor(length(array_to_string(t, '')) * 10000.0
      |        / array_length(t) + 0.5) / 10000 BETWEEN 3.0 AND 10.0
      |   AND floor(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
      |        * 10000.0 / array_length(t) + 0.5) / 10000 >= 0.8
      |   AND (CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END
      |    + CASE WHEN list_contains(lt, 'a') THEN 1 ELSE 0 END) >= 2)
      |   AS keep
      | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
      |        list_transform(regexp_split_to_array(trim(text), '\\s+'),
      |          x -> lower(x)) AS lt
      |       FROM documents WHERE length(trim(text)) > 0))""".stripMargin

  /** Lowercased whitespace tokens with positions (`tok`) and each token's
    * in-document successor (`big(doc_id, w, w2)`). */
  private lazy val bigramCteSql: String =
    """tok0 AS (
      | SELECT doc_id, ts, unnest(range(1, array_length(ts) + 1)) AS i
      | FROM (SELECT doc_id,
      |        regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |       FROM documents)),
      |tok AS (
      | SELECT doc_id, i - 1 AS pos, ts[CAST(i AS INT)] AS w
      | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0),
      |big AS (
      | SELECT doc_id, w,
      |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      | FROM tok
      | QUALIFY w2 IS NOT NULL)""".stripMargin

  /** One BPE-training step over the lowercased word counts: adjacent
    * codepoint pairs weighted by word frequency, ranked by
    * `pair_freq DESC, s1, s2` in `ranked`. */
  private lazy val bpePairRankCteSql: String =
    """words AS (
      | SELECT w, count(*) AS wf FROM (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents)
      | WHERE length(w) > 0 GROUP BY 1),
      |chars AS (
      | SELECT w, wf, unnest(range(1, length(w) + 1)) AS i FROM words),
      |sym AS (
      | SELECT w, wf, i, substr(w, CAST(i AS INT), 1) AS s1 FROM chars),
      |pairs AS (
      | SELECT w, wf, s1,
      |  lead(s1, 1) OVER (PARTITION BY w ORDER BY i) AS s2
      | FROM sym QUALIFY s2 IS NOT NULL),
      |counted AS (
      | SELECT s1, s2, CAST(sum(wf) AS BIGINT) AS pair_freq
      | FROM pairs GROUP BY 1, 2),
      |ranked AS (
      | SELECT s1, s2, pair_freq,
      |  row_number() OVER (ORDER BY pair_freq DESC, s1, s2) AS rank
      | FROM counted)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis ----
    QuerySpec("q19_text_stats", (s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          TextFunctions.bpeTokenCount(col("text")).cast("bigint").as("n_bpe_tokens"),
          TextFunctions.punctCount(col("text")).cast("bigint").as("n_punct"),
          TextFunctions.stopwordCount(col("text")).cast("bigint").as("n_stop"),
          floorBp(TextFunctions.qualityScore(col("text")), 4).as("quality_bp"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | length(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
        | length(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
        | length(regexp_extract_all(lower(text),
        |   '\b(the|a|an|and|of|to|in|is|it|that)\b')) AS n_stop,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE CAST(floor(length(regexp_extract_all(lower(text),
        |    '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |    array_length(regexp_split_to_array(trim(text), '\s+'))
        |    * 10000 + 0.5) AS BIGINT) END AS quality_bp
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("q20_lang_id", (s, d) => {
      tSpread(s, d, "documents")
        .withColumn("predicted", TextFunctions.langId(col("text")))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("predicted"))
    }, oracle =
      """WITH scored AS (
        | SELECT lang,
        |  length(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS s_en,
        |  length(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        |  length(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |  length(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
        |  length(regexp_extract_all(lower(text), '\b(de|le|shi|wo|ni)\b')) AS s_zh
        | FROM documents),
        |pred AS (
        | SELECT lang,
        |  CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |   WHEN s_zh > greatest(s_en, s_es, s_fr, s_de) THEN 'zh'
        |   WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
        |   WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
        |   WHEN s_es > s_en THEN 'es'
        |   ELSE 'en' END AS predicted
        | FROM scored)
        |SELECT lang, predicted, count(*) AS n_docs FROM pred
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),

    // ---- pure-SQL text analysis via the engine's registered functions ----
    QuerySpec("q48_sql_text_surface", (s, d) => {
      tSpread(s, d, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT lang, lang_id(text) AS predicted,
          | count(*) AS n_docs,
          | sum(token_count(text)) AS total_tokens,
          | CAST(floor(sum(CAST(floor(quality_score(text) * 10000 + 0.5)
          |   AS BIGINT)) * 1 / count(*) + 0.5) AS BIGINT) AS avg_quality_bp
          |FROM documents
          |GROUP BY lang, lang_id(text)
          |ORDER BY lang, predicted""".stripMargin)
    }, oracle =
      """WITH m AS (
        | SELECT lang,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |    AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |   ELSE round(length(regexp_extract_all(lower(text),
        |     '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |     array_length(regexp_split_to_array(trim(text), '\s+')), 4) END
        |    AS quality,
        |  length(regexp_extract_all(lower(text), '\b(the|and|of|is|a)\b')) AS s_en,
        |  length(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS s_es,
        |  length(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |  length(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
        |  length(regexp_extract_all(lower(text), '\b(de|le|shi|wo|ni)\b')) AS s_zh
        | FROM documents),
        |pred AS (
        | SELECT lang, n_tokens, quality,
        |  CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
        |   WHEN s_zh > greatest(s_en, s_es, s_fr, s_de) THEN 'zh'
        |   WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
        |   WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
        |   WHEN s_es > s_en THEN 'es'
        |   ELSE 'en' END AS predicted
        | FROM m)
        |SELECT lang, predicted, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(floor(sum(CAST(floor(quality * 10000 + 0.5) AS BIGINT))
        |   * 1 / count(*) + 0.5) AS BIGINT) AS avg_quality_bp
        |FROM pred GROUP BY lang, predicted
        |ORDER BY lang, predicted""".stripMargin),

    // ---- boilerplate detector: n-grams shared across many documents ----
    QuerySpec("q51_boilerplate_ngrams", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("_toks"))
      docs.select(col("doc_id"),
          explode(array_distinct(
            TextFunctions.shinglesFromTokens(col("_toks"), 5))).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(20)
    }, oracle =
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |  FROM toks, unnest(range(1, array_length(t) - 3)) AS r(i)
        |  WHERE array_length(t) >= 5)
        |SELECT ngram, count(*) AS n_docs FROM sh
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin),

    // ---- PII scrub: detect + mask emails/phones/IPs (synthetic contact
    // strings derived deterministically from the customer table) ----
    QuerySpec("q55_pii_redact", (s, d) => {
      import graft.text.Pii
      val contact = concat_ws(" ", col("c_name"), lit("email"),
        concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
          lit("@example.com")),
        when(col("c_custkey") % 3 === 0,
          concat(lit("phone 504-555-"),
            lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))),
        when(col("c_custkey") % 5 === 0,
          concat(lit("ip 10."), (col("c_custkey") % 256).cast("string"),
            lit("."), (floor(col("c_custkey") / 256) % 256).cast("string"),
            lit(".1"))))
      t(s, d, "customer")
        .select(col("c_custkey"), contact.as("contact"))
        .select(col("c_custkey"),
          Pii.emailCount(col("contact")).cast("bigint").as("n_email"),
          Pii.phoneCount(col("contact")).cast("bigint").as("n_phone"),
          Pii.ipCount(col("contact")).cast("bigint").as("n_ip"),
          Pii.redact(col("contact")).as("redacted"))
        .orderBy(col("c_custkey"))
    }, oracle =
      """WITH base AS (
        | SELECT c_custkey, concat_ws(' ', c_name, 'email',
        |   lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) || '@example.com',
        |   CASE WHEN c_custkey % 3 = 0 THEN 'phone 504-555-' ||
        |     lpad((c_custkey % 10000)::VARCHAR, 4, '0') END,
        |   CASE WHEN c_custkey % 5 = 0 THEN 'ip 10.' ||
        |     (c_custkey % 256)::VARCHAR || '.' ||
        |     (CAST(floor(c_custkey / 256) AS BIGINT) % 256)::VARCHAR || '.1' END
        |  ) AS contact
        | FROM customer)
        |SELECT c_custkey,
        | length(regexp_extract_all(contact,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        | length(regexp_extract_all(contact, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
        | length(regexp_extract_all(contact,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        | regexp_replace(regexp_replace(regexp_replace(contact,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM base ORDER BY c_custkey""".stripMargin),

    // ---- Gopher-style within-document repetition stats ----
    QuerySpec("q56_doc_repetition", (s, d) => {
      // ONE exploded lineage, bigrams via lead() and per-token counts via
      // a count window — array-lambda shingling (transform+slice+
      // array_distinct) is interpreted (CodegenFallback) and O(tokens²)
      // per doc: measured 4 s vs 0.4 s at sf0.1 for the same output
      val tok = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("p", "t")))
      val wSeq = Window.partitionBy("doc_id").orderBy("p")
      val wTok = Window.partitionBy("doc_id", "t")
      tok
        .withColumn("bigram", when(lead(col("t"), 1).over(wSeq).isNotNull,
          concat_ws(" ", col("t"), lead(col("t"), 1).over(wSeq))))
        .withColumn("c", count(lit(1)).over(wTok))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tokens"),
          max(col("c")).as("mx"),
          count(col("bigram")).as("tbi"),
          countDistinct(col("bigram")).as("dbi"))
        .filter(col("tbi") > 0)
        .select(col("doc_id"), col("n_tokens"),
          ratioBp(col("mx"), col("n_tokens"), 4).as("top_token_frac_bp"),
          // 1 - dbi/tbi = (tbi-dbi)/tbi, kept as one exact ratio
          ratioBp(col("tbi") - col("dbi"), col("tbi"), 4)
            .as("dup_bigram_frac_bp"))
        .withColumn("flagged",
          col("top_token_frac_bp") > 2000 || col("dup_bigram_frac_bp") > 4000)
        .orderBy(col("doc_id"))
    }, oracle =
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        | FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |tstat AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n
        | FROM tc GROUP BY 1),
        |bi AS (SELECT doc_id,
        |  list_transform(range(0, array_length(ts) - 1),
        |    i -> ts[i + 1] || ' ' || ts[i + 2]) AS bs
        | FROM toks WHERE array_length(ts) >= 2),
        |bstat AS (SELECT doc_id,
        |  array_length(list_distinct(bs)) AS dbi, array_length(bs) AS tbi
        | FROM bi)
        |SELECT t.doc_id, t.n AS n_tokens,
        | CAST(floor(t.mx * 10000 / t.n + 0.5) AS BIGINT) AS top_token_frac_bp,
        | CAST(floor((b.tbi - b.dbi) * 10000 / b.tbi + 0.5) AS BIGINT)
        |   AS dup_bigram_frac_bp,
        | (floor(t.mx * 10000 / t.n + 0.5) > 2000 OR
        |  floor((b.tbi - b.dbi) * 10000 / b.tbi + 0.5) > 4000) AS flagged
        |FROM tstat t JOIN bstat b ON t.doc_id = b.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // ---- global vocabulary: top terms by collection frequency ----
    QuerySpec("q59_vocab_topk", (s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(100)
    }, oracle =
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '')) AS term
        | FROM documents WHERE length(trim(text)) > 0)
        |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM tok GROUP BY term
        |ORDER BY tf DESC, term LIMIT 100""".stripMargin),

    // ---- per-doc top TF-IDF terms (rank by tf desc, df asc, term) ----
    QuerySpec("q60_tfidf_terms", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val tf = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df as a window over tf — ONE lineage (a tf⋈df join would
      // recompute the whole explode+agg subtree for the df side)
      val withDf = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      withDf.crossJoin(broadcast(total))
        .withColumn("tfidf_bp",
          floorBp(col("tf") * log(col("n_docs").cast("double") / col("df")),
            4))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf_bp"))
        .orderBy(col("doc_id"), col("term"))
    }, oracle =
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '')) AS term
        | FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        | SELECT doc_id, term, tf, df,
        |  CAST(floor(tf * ln(n_docs::DOUBLE / df) * 10000 + 0.5) AS BIGINT)
        |    AS tfidf_bp,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf DESC, df ASC, term) AS rk
        | FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, tf, df, tfidf_bp FROM sc
        |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin),

    // ---- Count-Min frequency sketch: per-source heavy-hitter estimates
    // from a fixed 4×32-counter state (est ≥ exact always; both shown) ----
    QuerySpec("q66_cms_heavy_hitters", (s, d) => {
      import graft.sketch.CountMin.{cms_agg, cms_query}
      val toks = tSpread(s, d, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val sk = toks.groupBy("source").agg(cms_agg(col("term"), 4, 32).as("sk"))
      val probes = CmsProbeTerms
      import s.implicits._
      val probeDf = probes.toDF("term")
      val exact = toks.filter(col("term").isin(probes: _*))
        .groupBy("source", "term").agg(count(lit(1)).as("exact_tf"))
      sk.crossJoin(broadcast(probeDf))
        .select(col("source"), col("term"),
          cms_query(col("sk"), col("term")).as("est_tf"))
        .join(exact, Seq("source", "term"), "left")
        .na.fill(0L, Seq("exact_tf"))
        .orderBy(col("source"), col("term"))
    }, oracle =
      // full CMS replay: every (term, row) counter update re-derived in
      // HUGEINT arithmetic; estimate = min over the 4 row counters (grid
      // left-join so an empty bucket reads 0, exactly like the sketch)
      s"""WITH toks AS (
        |  SELECT source, t AS term FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |tf AS (SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |probes AS (SELECT unnest(['agg','data','join','scan','spark','table',
        |  'value','zzz_absent']) AS term),
        |vk AS (SELECT source, term, c, r,
        |    CAST(r AS VARCHAR) || '|' || term AS key
        |  FROM tf, range(0, 4) rr(r)),
        |vb AS (SELECT source, term, c, r,
        |    CAST(${fnvSql("key", "f")} % 32 AS INT) AS bucket FROM vk),
        |pk AS (SELECT term, r, CAST(r AS VARCHAR) || '|' || term AS key
        |  FROM probes, range(0, 4) rr(r)),
        |pb AS (SELECT term, r,
        |    CAST(${fnvSql("key", "g")} % 32 AS INT) AS bucket FROM pk),
        |grid AS (SELECT s.source, p.term, p.r, p.bucket
        |  FROM (SELECT DISTINCT source FROM tf) s, pb p),
        |rowsum AS (
        |  SELECT g.source, g.term, g.r, coalesce(sum(v.c), 0) AS s
        |  FROM grid g LEFT JOIN vb v
        |    ON v.source = g.source AND v.r = g.r AND v.bucket = g.bucket
        |  GROUP BY 1, 2, 3),
        |est AS (SELECT source, term, min(s) AS est_tf FROM rowsum GROUP BY 1, 2)
        |SELECT e.source, e.term, CAST(e.est_tf AS BIGINT) AS est_tf,
        | CAST(coalesce(x.c, 0) AS BIGINT) AS exact_tf
        |FROM est e LEFT JOIN tf x ON x.source = e.source AND x.term = e.term
        |ORDER BY e.source, e.term""".stripMargin),

    // ---- sliding-window token chunking (64-token window, stride 48):
    // the context-window / RAG chunker. ONE lineage: tokenize once,
    // explode a closed-form start list, slice — no self-join, no UDF ----
    QuerySpec("q72_chunk_windows", (s, d) => {
      val W = 64; val S = 48
      val docs = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
      val n = size(col("ts"))
      val nStarts = when(n <= W, lit(1)).otherwise(
        lit(1) + ceil((n - W).cast("double") / S).cast("int"))
      docs.withColumn("idx", explode(sequence(lit(0), nStarts - 1)))
        .withColumn("start", col("idx") * S)
        .withColumn("chunk", slice(col("ts"), col("start") + 1, lit(W)))
        .select(col("doc_id"), col("idx").cast("bigint").as("chunk_idx"),
          col("start").cast("bigint").as("start_tok"),
          size(col("chunk")).cast("bigint").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, oracle =
      """WITH docs AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        | FROM documents WHERE length(trim(text)) > 0),
        |n AS (SELECT doc_id, ts, array_length(ts) AS n FROM docs),
        |st AS (
        | SELECT doc_id, ts, n,
        |  CASE WHEN n <= 64 THEN 1
        |       ELSE 1 + CAST(ceil((n - 64)::DOUBLE / 48) AS INT) END
        |    AS n_starts
        | FROM n),
        |ch0 AS (
        | SELECT doc_id, ts, unnest(range(0, n_starts)) AS i FROM st),
        |ch AS (
        | SELECT doc_id, i AS chunk_idx, i * 48 AS start_tok,
        |  ts[(CAST(i AS INT) * 48 + 1):(CAST(i AS INT) * 48 + 64)] AS chunk
        | FROM ch0)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(start_tok AS BIGINT) AS start_tok,
        | CAST(array_length(chunk) AS BIGINT) AS chunk_len,
        | md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // ---- text normalization (the cleanup stage before any dedup/hash
    // pass): whitespace collapse + casefold, fingerprinted before/after
    // so the oracle checks the exact normal form ----
    QuerySpec("q109_normalize_text", (s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("raw_len"),
          length(norm).cast("bigint").as("norm_len"),
          md5(norm).as("norm_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS raw_len,
        | CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |   AS BIGINT) AS norm_len,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- inverted index build (search-engine posting lists): token →
    // df/cf + position-resolved postings, zero-padded so the string
    // sort equals the numeric (doc_id, pos) order; lists truncated to
    // 50 entries (skip-list head) to bound row width ----
    QuerySpec("q127_inverted_index", (s, d) => {
      val tok = tSpread(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
      tok.groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("cf"),
          concat_ws(";", slice(sort_array(collect_list(
            format_string("%08d:%06d", col("doc_id"), col("pos")))),
            1, 50)).as("postings"))
        .filter(col("df") >= 100)
        .select(col("w").as("token"), col("df"), col("cf"), col("postings"))
        .orderBy(col("token"))
    }, oracle =
      """WITH tok0 AS (
        | SELECT doc_id, ts, unnest(range(1, array_length(ts) + 1)) AS i
        | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
        |       FROM documents)),
        |tok AS (
        | SELECT doc_id, i - 1 AS pos, ts[CAST(i AS INT)] AS w
        | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0)
        |SELECT w AS token, count(DISTINCT doc_id) AS df, count(*) AS cf,
        | array_to_string(list_sort(list(printf('%08d:%06d', doc_id, pos)))[1:50],
        |   ';') AS postings
        |FROM tok GROUP BY w HAVING count(DISTINCT doc_id) >= 100
        |ORDER BY token""".stripMargin),

    // ---- TF-IDF retrieval (the search-engine QUERY path over the
    // q127-style index): query terms broadcast as a semi-filter, doc
    // scores from one aggregate over the matched postings, global
    // top-10 via sort+limit (TakeOrdered, no full sort) ----
    QuerySpec("q156_tfidf_search", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val tok = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val tf = tok.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n"))
      val queryTerms = Seq("dup", "key", "vector")
      // materialize the matched postings (tiny: query terms only) so the
      // df aggregate and the scoring join share ONE corpus tokenization —
      // a second dfreq branch would re-explode the corpus (the q204
      // lesson: ReuseExchange misses when pruning reshapes the subtree)
      val matched = tf.filter(col("w").isin(queryTerms: _*))
        .localCheckpoint()
      val dfreq = matched.groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("df"))
      matched
        .join(broadcast(dfreq), "w")
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        // quantize per TERM (tf/n/df are ints, so each term's double is
        // engine-identical), then sum exact bigints — a quantized SUM of
        // doubles would ride the partition-dependent addition order onto
        // grid boundaries (observed: one doc flipping between runs)
        .agg(sum(floorBp(col("tf") * log(col("n") / col("df")), 4))
            .as("score_bp"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score_bp").desc, col("doc_id"))
        .limit(10)
    }, oracle =
      """WITH tok AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        | FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        | WHERE w <> '' GROUP BY 1, 2),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |qt AS (SELECT unnest(['dup', 'key', 'vector']) AS w),
        |scores AS (
        | SELECT tf.doc_id,
        |  CAST(sum(CAST(floor(tf.tf * ln((SELECT n FROM n)::DOUBLE / df.df)
        |    * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS score_bp,
        |  count(*) AS n_terms
        | FROM tf JOIN df ON tf.w = df.w JOIN qt ON tf.w = qt.w
        | GROUP BY tf.doc_id)
        |SELECT doc_id, score_bp, n_terms
        |FROM scores ORDER BY score_bp DESC, doc_id LIMIT 10""".stripMargin),

    // ---- Okapi BM25 multi-query retrieval (k1=1.2, b=0.75 — the
    // lexical leg every RAG serving stack pairs with the vector leg;
    // extends q156's single-query TF-IDF to per-anchor BM25 with real
    // length normalization). Per anchor (doc_id % 113 == 0) the query
    // terms are the anchor's first 6 distinct words. Postings join on
    // the term key — the document-frequency frame is vocabulary-grain
    // (Heaps-unbounded) so it SHUFFLE-joins, never broadcast (q88
    // lesson); N/avgdl ride one broadcast 1-row cross join; the
    // per-(anchor, doc) score is one map-side-combinable aggregate over
    // ≤6 matched terms; top-10 per anchor via the window
    // InferWindowGroupLimit turns into a per-partition top-k ----
    QuerySpec("q204_bm25_search", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val tok = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      // the postings frame is MATERIALIZED once (what a real lexical
      // engine calls the index build): dl, df and the scoring join all
      // consume it, and relying on ReuseExchange instead is fragile —
      // each consumer pushes different implied predicates / prunes
      // different columns, de-duplicating the subtree only sometimes.
      // One corpus tokenization, three cheap postings-grain re-reads.
      val tf = tok.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      // tf is distinct on (doc_id, w), so document frequency is a plain
      // count over it — a countDistinct would plan its own (w, doc_id)
      // distinct aggregate whose exchange cannot reuse tf's, re-running
      // the corpus tokenization a second time
      val dfreq = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"))
      // avgdl via exact integer sum / one double division — avg()'s
      // engine-specific accumulation order would be an ulp gamble
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      val qterms = docs.filter(col("doc_id") % 113 === 0)
        .select(col("doc_id").as("qid"), explode(array_distinct(
          slice(split(trim(col("text")), "\\s+"), 1, 6))).as("w"))
      val K1 = 1.2d; val B = 0.75d
      tf.join(qterms, "w")
        .join(dfreq, "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(
            log(lit(1.0d) + (col("n") - col("df") + lit(0.5d)) /
              (col("df") + lit(0.5d))) *
            (col("tf") * lit(K1 + 1.0d)) /
            (col("tf") + lit(K1) * (lit(1.0d - B) +
              lit(B) * col("dl") / col("avgdl"))))
          .as("score0"),
          count(lit(1)).as("n_terms"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score0").desc, col("doc_id"))))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("doc_id"), col("n_terms"),
          floor(col("score0") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("score_bp"),
          col("rn"))
        .orderBy(col("qid"), col("rn"))
    }, oracle =
      // constants forced ::DOUBLE — DuckDB parses bare decimal literals
      // as DECIMAL and would run exact-decimal arithmetic where Spark
      // runs IEEE doubles; avgdl is integer-sum / one double division on
      // both sides for the same reason
      s"""WITH $bm25TermStatsCteSql,
        |sc AS (
        | SELECT q.qid, tf.doc_id,
        |  sum(ln(1.0::DOUBLE + ((SELECT n FROM st) - df.df + 0.5::DOUBLE)
        |        / (df.df + 0.5::DOUBLE)) *
        |      (tf.tf * 2.2::DOUBLE) /
        |      (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE +
        |        0.75::DOUBLE * dl.dl / (SELECT avgdl FROM st))))
        |    AS score0,
        |  count(*) AS n_terms
        | FROM tf JOIN qt q ON tf.w = q.w JOIN df ON tf.w = df.w
        |   JOIN dl ON dl.doc_id = tf.doc_id
        | GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, n_terms, score0,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY score0 DESC, doc_id) AS rn FROM sc)
        |SELECT qid, doc_id, n_terms,
        | CAST(floor(score0 * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
        |   AS score_bp,
        | CAST(rn AS INT) AS rn
        |FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin),

    // ---- corpus-scale BPE tokenization (what a training-data
    // pipeline actually ships: token ids per document, not a merge
    // list): train 20 merges on the vocabulary grain, then ONE
    // map-side projection pass re-tokenizes every document under the
    // broadcast merge list. The oracle replays the ENTIRE training
    // loop AND the per-document tokenization in DuckDB (20 unrolled
    // argmax+replace iterations over a double-space symbol encoding),
    // then compares per-doc token count + an md5 of the token stream —
    // the strongest possible check that counting, tie-breaks, and the
    // greedy in-order merge replay agree symbol-for-symbol ----
    QuerySpec("q197_bpe_tokenize", (s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.train(docs, "text", 20)
      require(merges.size == 20, s"expected 20 merges, got ${merges.size}")
      BpeTrainer.tokenize(docs.filter(length(trim(col("text"))) > 0),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("tok_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      bpeTokenizeOracle(20)),

    // ---- multi-step BPE tokenizer training (the iterative extension
    // of q89's single merge step): 20 merges learned on the frequency-
    // weighted VOCABULARY (per-iteration cost independent of corpus
    // size), then the corpus re-tokenized under them. The oracle
    // replays the FIRST merge relationally (q89's argmax) — a real
    // check that the trainer's counting+tie-break agree with SQL —
    // plus the constants the spec pins (merge count, compression) ----
    QuerySpec("q195_bpe_train", (s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.train(docs, "text", 20)
      require(merges.nonEmpty,
        "BPE training found no mergeable pairs in the corpus")
      val stats = BpeTrainer.tokenize(docs, "text", merges)
        .select(sum(size(col("tokens"))).as("nt"),
          sum(length(regexp_replace(trim(lower(col("text"))), "\\s+", "")))
            .as("nc")).head()
      val first = merges.head
      import s.implicits._
      Seq((merges.size.toLong, first.left, first.right, first.freq,
          stats.getLong(0) < stats.getLong(1)))
        .toDF("n_merges", "first_left", "first_right", "first_freq",
          "compression_ok")
    }, oracle =
      // first merge replayed relationally (q89's CTE chain); count and
      // compression are spec-pinned constants, the q170/q185 pattern
      s"""WITH $bpePairRankCteSql
        |SELECT CAST(20 AS BIGINT) AS n_merges, s1 AS first_left,
        | s2 AS first_right, pair_freq AS first_freq,
        | true AS compression_ok
        |FROM ranked WHERE rank = 1""".stripMargin),

    // ---- Zipf slope per source (corpus-profiling statistic: natural
    // text fits log f ≈ a + s·log r with s near −1; synthetic or
    // degenerate corpora deviate — a drift detector for ingest). The
    // rank window is per-source over the VOCABULARY grain (≪ corpus);
    // the regression is one moment aggregate, map-side combinable ----
    QuerySpec("q194_zipf_slope", (s, d) => {
      val tok = TextFunctions
        .unigrams(tSpread(s, d, "documents"), "text", col("source"))
        .select(col("source"), col("_w").as("w"))
      val freq = tok.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("f"))
      val ranked = freq.withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("f").desc, col("w"))))
      // qdouble idiom, not round(): same IEEE expression both engines,
      // no decimal-tie divergence on the regression moments (ADVICE r6)
      def q4(c: org.apache.spark.sql.Column) =
        floor(c * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"),
          floorBp(regr_slope(log(col("f")), log(col("r"))), 4)
            .as("zipf_slope_bp"),
          floorBp(regr_r2(log(col("f")), log(col("r"))), 4).as("r2_bp"))
        .orderBy(col("source"))
    }, oracle =
      """WITH tok AS (
        | SELECT source,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |t2 AS (SELECT source, w FROM tok WHERE w <> ''),
        |freq AS (SELECT source, w, count(*) AS f FROM t2 GROUP BY 1, 2),
        |ranked AS (SELECT source, f,
        |  row_number() OVER (PARTITION BY source ORDER BY f DESC, w) AS r
        | FROM freq)
        |SELECT source, count(*) AS n_types,
        | CAST(floor(regr_slope(ln(f), ln(r)) * 10000 + 0.5) AS BIGINT)
        |   AS zipf_slope_bp,
        | CAST(floor(regr_r2(ln(f), ln(r)) * 10000 + 0.5) AS BIGINT) AS r2_bp
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- LM-perplexity quality filter (KenLM-family): a bigram model
    // trained ON the corpus scores each doc; P(w2|w1) = (c(w1,w2)+1) /
    // (c(w1)+V) with add-one smoothing. ONE token lineage feeds both the
    // model counts and the per-doc scoring (`bigramLogProb`) ----
    QuerySpec("q88_lm_perplexity", (s, d) => {
      bigramLogProb(tSpread(s, d, "documents"), "doc_id")
        .withColumn("lp_bp", floorBp(col("logp"), 4))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (-ratioBp(sum(col("lp_bp")), count(lit(1)), 0))
            .as("ppl_bits_bp"))
        .withColumn("keep", col("ppl_bits_bp") < 70000L)
        .orderBy(col("doc_id"))
    }, oracle =
      s"""WITH $bigramCteSql,
        |bi AS (SELECT w, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tok)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        | -CAST(floor(sum(CAST(floor(log2((bi.cb + 1.0) / (uni.cu + v.v))
        |    * 10000 + 0.5) AS BIGINT)) * 1 / count(*) + 0.5) AS BIGINT)
        |   AS ppl_bits_bp,
        | -floor(sum(CAST(floor(log2((bi.cb + 1.0) / (uni.cu + v.v))
        |    * 10000 + 0.5) AS BIGINT)) * 1 / count(*) + 0.5) < 70000 AS keep
        |FROM big b
        | JOIN bi ON bi.w = b.w AND bi.w2 = b.w2
        | JOIN uni ON uni.w = b.w
        | CROSS JOIN v
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin),

    // ---- one BPE-training iteration: adjacent-symbol pair frequencies
    // over the word vocabulary (weighted by word frequency), the argmax
    // pair being the merge a tokenizer trainer would apply. Counting
    // runs on the VOCABULARY (words × chars), not the corpus — the
    // standard trick that makes BPE training corpus-size-independent ----
    QuerySpec("q89_bpe_merge_step", (s, d) => {
      val words = tSpread(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      val seqW = Window.partitionBy(col("w")).orderBy(col("i"))
      val pairs = words
        .withColumn("i", explode(sequence(lit(1), length(col("w")))))
        .select(col("w"), col("wf"), col("i"),
          expr("substring(w, i, 1)").as("s1"))
        .withColumn("s2", lead(col("s1"), 1).over(seqW))
        .filter(col("s2").isNotNull)
      val counted = pairs.groupBy(col("s1"), col("s2"))
        .agg(sum(col("wf")).as("pair_freq"))
      val rk = Window.orderBy(col("pair_freq").desc, col("s1"), col("s2"))
      counted.withColumn("rank", row_number().over(rk))
        .withColumn("is_merge", col("rank") === 1)
        .filter(col("rank") <= 20)
        .select(col("rank").cast("bigint").as("rank"), col("s1"), col("s2"),
          col("pair_freq"), col("is_merge"))
        .orderBy(col("rank"))
    }, oracle =
      s"""WITH $bpePairRankCteSql
        |SELECT CAST(rank AS BIGINT) AS rank, s1, s2, pair_freq,
        | rank = 1 AS is_merge
        |FROM ranked WHERE rank <= 20
        |ORDER BY rank""".stripMargin),

    // ---- tokenizer fertility sheet (the standard per-language
    // tokenizer eval: BPE-ish tokens per word and chars per token —
    // high fertility means a language is paying more sequence length
    // per word): one zero-exchange projection computing both token
    // counts, one bounded per-language aggregate; ratios in exact
    // basis-point integer arithmetic after the sums ----
    QuerySpec("q219_tokenizer_fertility", (s, d) => {
      import graft.text.TextFunctions
      tSpread(s, d, "documents")
        .select(col("lang"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("words"),
          TextFunctions.bpeTokenCount(col("text")).cast("bigint")
            .as("toks"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words")).as("tot_words"),
          sum(col("toks")).as("tot_toks"),
          sum(col("n_chars")).as("tot_chars"))
        .select(col("lang"), col("n_docs"), col("tot_words"),
          col("tot_toks"),
          expr("tot_toks * 10000L div tot_words").as("fertility_bp"),
          expr("tot_chars * 10000L div tot_toks")
            .as("chars_per_tok_bp"))
        .orderBy(col("lang"))
    }, oracle =
      """WITH d AS (SELECT lang,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS BIGINT) AS words,
        |  CAST(length(regexp_extract_all(text, '\w+|[^\w\s]'))
        |    AS BIGINT) AS toks,
        |  n_chars
        | FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(words) AS BIGINT) AS tot_words,
        |  CAST(sum(toks) AS BIGINT) AS tot_toks,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars
        | FROM d GROUP BY lang)
        |SELECT lang, n_docs, tot_words, tot_toks,
        |  tot_toks * 10000 // tot_words AS fertility_bp,
        |  tot_chars * 10000 // tot_toks AS chars_per_tok_bp
        |FROM g ORDER BY lang""".stripMargin),

    // ---- deterministic span-corruption masks (T5/UL2 denoising
    // objective prep): ~15% of tokens in 2-4-token spans, one span per
    // 20-token stratum, start jittered by the closed-form
    // multiplicative hash (q173's engine-agnostic permutation family —
    // NOT rand(): at 100 TB the mask is recomputable from the doc id
    // alone, no mask table to persist, and strata guarantee
    // non-overlap by construction). One bounded explode (n_tok/20 rows
    // per doc), one per-doc re-aggregate; the md5 over the ordered
    // span list pins every start:len pair ----
    QuerySpec("q228_span_corruption", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.bpeTokenCount(col("text"))
            .cast("bigint").as("n_tok"))
        .withColumn("m", expr("n_tok div 20"))
        .filter(col("m") >= 1)
        .withColumn("st", expr("n_tok div m"))
      docs.withColumn("k", explode(sequence(lit(0L), col("m") - 1)))
        .withColumn("l",
          expr("2 + pmod(pmod(doc_id * 7 + k, 1000003) * 2654435761, " +
            "1000003) % 3"))
        .withColumn("start",
          expr("k * st + pmod(pmod(doc_id * 13 + k, 1000003) * " +
            "2654435761, 1000003) % (st - l + 1)"))
        .groupBy(col("doc_id"), col("n_tok"), col("m"))
        .agg(sum(col("l")).as("n_corrupt"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(struct(col("k"),
              concat_ws(":", col("start"), col("l")).as("sl")))),
            x => x.getField("sl")))).as("spans_md5"))
        .select(col("doc_id"), col("n_tok"), col("m").as("n_spans"),
          col("n_corrupt"),
          expr("n_corrupt * 10000 div n_tok").as("ratio_bp"),
          col("spans_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // span-corruption replay: identical closed-form hash arithmetic,
      // list-built spans in stratum order.
      """WITH t AS (
        | SELECT doc_id, CAST(length(regexp_extract_all(text, '\w+|[^\w\s]'))
        |   AS BIGINT) AS n_tok
        | FROM documents),
        |s AS (SELECT doc_id, n_tok, n_tok // 20 AS m,
        |  n_tok // (n_tok // 20) AS st
        | FROM t WHERE n_tok // 20 >= 1),
        |sp AS (SELECT doc_id, n_tok, m, st,
        |  list_transform(range(0, m), k ->
        |    2 + (((doc_id * 7 + k) % 1000003) * 2654435761 % 1000003) % 3)
        |    AS lens,
        |  list_transform(range(0, m), k ->
        |    k * st + (((doc_id * 13 + k) % 1000003) * 2654435761 % 1000003)
        |      % (st - (2 + (((doc_id * 7 + k) % 1000003) * 2654435761
        |        % 1000003) % 3) + 1)) AS starts
        | FROM s)
        |SELECT doc_id, n_tok, CAST(m AS BIGINT) AS n_spans,
        | CAST(list_sum(lens) AS BIGINT) AS n_corrupt,
        | CAST(list_sum(lens) * 10000 // n_tok AS BIGINT) AS ratio_bp,
        | md5(array_to_string(list_transform(range(1, CAST(m AS BIGINT) + 1),
        |   i -> CAST(starts[CAST(i AS INT)] AS VARCHAR) || ':' ||
        |        CAST(lens[CAST(i AS INT)] AS VARCHAR)), ',')) AS spans_md5
        |FROM sp ORDER BY doc_id""".stripMargin),

    // ---- vocabulary drift between two corpus slices (the snapshot-
    // over-snapshot distribution check an ingest pipeline runs before
    // accepting a new crawl): unigram ppm distributions of the two
    // halves, L1 distance plus the top-10 movers. Vocabulary-grain
    // FULL-OUTER shuffle join on the word key (Heaps-unbounded — never
    // broadcast, the q88 lesson); totals ride 1-row broadcasts; all
    // ppm arithmetic exact integer; the drift frame is materialized
    // once (localCheckpoint) because both the L1 total and the movers
    // consume it ----
    QuerySpec("q233_vocab_drift", (s, d) => {
      val docs = tSpread(s, d, "documents")
      def counts(side: DataFrame) = side
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val a = counts(docs.filter(col("doc_id") % 2 === 0))
      val b = counts(docs.filter(col("doc_id") % 2 === 1))
      val ta = a.agg(sum(col("c")).as("ta"))
      val tb = b.agg(sum(col("c")).as("tb"))
      val drift = a.withColumnRenamed("c", "ca")
        .join(b.withColumnRenamed("c", "cb"), Seq("w"), "full")
        .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
        .select(col("w"),
          expr("coalesce(ca, 0L) * 1000000L div ta").as("ppm_a"),
          expr("coalesce(cb, 0L) * 1000000L div tb").as("ppm_b"))
        .withColumn("delta_ppm", col("ppm_b") - col("ppm_a"))
        .localCheckpoint()
      val l1 = drift.agg(sum(abs(col("delta_ppm"))).as("l1_ppm"))
      drift.crossJoin(broadcast(l1))
        .orderBy(abs(col("delta_ppm")).desc, col("w"))
        .limit(10)
        .select(col("w"), col("ppm_a"), col("ppm_b"), col("delta_ppm"),
          col("l1_ppm"))
    }, oracle =
      // drift replay: same integer ppm pipeline over the two halves.
      """WITH tok0 AS (
        | SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        | FROM documents),
        |tok AS (SELECT doc_id, w FROM tok0 WHERE length(w) > 0),
        |a AS (SELECT w, count(*) AS c FROM tok WHERE doc_id % 2 = 0
        | GROUP BY 1),
        |b AS (SELECT w, count(*) AS c FROM tok WHERE doc_id % 2 = 1
        | GROUP BY 1),
        |ta AS (SELECT sum(c) AS t FROM a),
        |tb AS (SELECT sum(c) AS t FROM b),
        |j AS (SELECT coalesce(a.w, b.w) AS w,
        |  coalesce(a.c, 0) * 1000000 // ta.t AS ppm_a,
        |  coalesce(b.c, 0) * 1000000 // tb.t AS ppm_b
        | FROM a FULL OUTER JOIN b ON a.w = b.w
        | CROSS JOIN ta CROSS JOIN tb),
        |jd AS (SELECT w, ppm_a, ppm_b, ppm_b - ppm_a AS delta_ppm FROM j),
        |l AS (SELECT sum(abs(delta_ppm)) AS l1 FROM jd)
        |SELECT w, CAST(ppm_a AS BIGINT) AS ppm_a,
        | CAST(ppm_b AS BIGINT) AS ppm_b,
        | CAST(delta_ppm AS BIGINT) AS delta_ppm,
        | CAST(l.l1 AS BIGINT) AS l1_ppm
        |FROM jd CROSS JOIN l
        |ORDER BY abs(delta_ppm) DESC, w LIMIT 10""".stripMargin),

    // ---- Heaps-law vocabulary growth curve (the data-card sheet that
    // answers "is more data still buying new vocabulary?"): vocab size
    // at every DOUBLING prefix of the corpus (docs with id < 2^k).
    // The scale trick: never rescan per prefix — ONE word-key shuffle
    // computes each word's first-occurrence doc, bit_length maps that
    // to the first prefix LEVEL containing it (integer-exact — no
    // float log2 on either engine), and the cumulative curve assembles
    // on a ≤ log2(N)-row frame (the only unpartitioned window). Word
    // key is Heaps-unbounded → shuffle join, never broadcast ----
    QuerySpec("q237_vocab_growth", (s, d) => {
      val docs = tSpread(s, d, "documents")
      def levelOf(c: Column) =
        when(c === 0, lit(0)).otherwise(length(bin(c))).cast("int")
      val docLvl = docs
        .select(levelOf(col("doc_id")).as("level"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
        .groupBy(col("level")).agg(sum(col("n_toks")).as("toks_new"))
      val wordLvl = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(min(col("doc_id")).as("m"))
        .select(levelOf(col("m")).as("level"))
        .groupBy(col("level")).agg(count(lit(1)).as("new_words"))
      val n = docs.agg(count(lit(1)).as("n"))
      val wl = Window.orderBy(col("level"))
        .rowsBetween(Window.unboundedPreceding, 0)
      docLvl.join(wordLvl, Seq("level"), "left")
        .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
        .withColumn("n_tokens", sum(col("toks_new")).over(wl))
        .withColumn("vocab", sum(col("new_words")).over(wl))
        .crossJoin(broadcast(n))
        .withColumn("prefix_docs",
          least(expr("shiftleft(1L, level)"), col("n")))
        .select(col("level").cast("bigint").as("level"), col("prefix_docs"),
          col("n_tokens"), col("vocab"), col("new_words"))
        .orderBy(col("level"))
    }, oracle =
      // growth replay: bin() bit-length prefix levels (identical
      // unpadded semantics in both engines), word-grain first
      // occurrence, cumulative assembly over the level frame.
      """WITH dl AS (
        | SELECT CASE WHEN doc_id = 0 THEN 0 ELSE length(bin(doc_id)) END
        |   AS level,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |   END AS n_toks
        | FROM documents),
        |dt AS (SELECT level, sum(n_toks) AS toks_new FROM dl GROUP BY 1),
        |w0 AS (SELECT doc_id,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        | FROM documents),
        |wm AS (SELECT w, min(doc_id) AS m FROM w0 WHERE length(w) > 0
        | GROUP BY 1),
        |wl AS (SELECT CASE WHEN m = 0 THEN 0 ELSE length(bin(m)) END
        |   AS level, count(*) AS new_words
        | FROM wm GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |j AS (SELECT dt.level, toks_new, coalesce(new_words, 0) AS new_words
        | FROM dt LEFT JOIN wl ON dt.level = wl.level)
        |SELECT CAST(level AS BIGINT) AS level,
        | CAST(least(1 << level, n.n) AS BIGINT) AS prefix_docs,
        | CAST(sum(toks_new) OVER (ORDER BY level ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS BIGINT) AS n_tokens,
        | CAST(sum(new_words) OVER (ORDER BY level ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab,
        | CAST(new_words AS BIGINT) AS new_words
        |FROM j CROSS JOIN n ORDER BY level""".stripMargin),

    // ---- fill-in-the-middle transform (Bavarian et al. 2022's FIM
    // data augmentation for code/infilling pretraining, the q228
    // deterministic-prep shape): 50% of docs (by closed-form
    // multiplicative hash — recomputable from the doc id alone, no
    // rand()) split at two uniform character offsets u ≤ v into
    // prefix/middle/suffix and reassemble with sentinels — PSM
    // `<PRE>p<SUF>s<MID>m` or SPM `<PRE><SUF>s<MID>p·m`, mode by a
    // second hash bit; the rest pass through raw. ONE codegen
    // projection per doc, zero exchanges before the presentation
    // sort; md5 of the reassembled sequence pins every byte ----
    QuerySpec("q241_fim_transform", (s, d) => {
      def h(k: Int) =
        expr(s"pmod(pmod(doc_id * $k, 1000003) * 2654435761, 1000003)")
      tSpread(s, d, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("n", length(col("text")).cast("bigint"))
        .withColumn("fim", col("n") >= 2 && h(7) % 2 === 0)
        .withColumn("a", h(17) % (col("n") + 1))
        .withColumn("b", h(19) % (col("n") + 1))
        .withColumn("u", least(col("a"), col("b")))
        .withColumn("v", greatest(col("a"), col("b")))
        .withColumn("mode", when(!col("fim"), lit("raw"))
          .when(h(13) % 2 === 0, lit("psm")).otherwise(lit("spm")))
        .withColumn("pre", expr("substring(text, 1, int(u))"))
        .withColumn("mid", expr("substring(text, int(u + 1), int(v - u))"))
        .withColumn("suf", expr("substring(text, int(v + 1), int(n - v))"))
        .withColumn("out", when(col("mode") === "raw", col("text"))
          .when(col("mode") === "psm", concat(lit("<PRE>"), col("pre"),
            lit("<SUF>"), col("suf"), lit("<MID>"), col("mid")))
          .otherwise(concat(lit("<PRE><SUF>"), col("suf"),
            lit("<MID>"), col("pre"), col("mid"))))
        .select(col("doc_id"), col("mode"),
          when(col("mode") === "raw", lit(0L)).otherwise(col("u"))
            .as("pre_len"),
          when(col("mode") === "raw", lit(0L)).otherwise(col("v") - col("u"))
            .as("mid_len"),
          when(col("mode") === "raw", lit(0L)).otherwise(col("n") - col("v"))
            .as("suf_len"),
          md5(col("out")).as("out_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // FIM replay: identical multiplicative-hash draws and character
      // offsets; md5 of the reassembled sentinel sequence pins bytes.
      """WITH dd AS (
        | SELECT doc_id, coalesce(text, '') AS text,
        |  CAST(length(coalesce(text, '')) AS BIGINT) AS n
        | FROM documents),
        |hx AS (
        | SELECT doc_id, text, n,
        |  ((doc_id * 7) % 1000003) * 2654435761 % 1000003 AS h7,
        |  ((doc_id * 13) % 1000003) * 2654435761 % 1000003 AS h13,
        |  ((doc_id * 17) % 1000003) * 2654435761 % 1000003 AS h17,
        |  ((doc_id * 19) % 1000003) * 2654435761 % 1000003 AS h19
        | FROM dd),
        |sp AS (
        | SELECT doc_id, text, n,
        |  least(h17 % (n + 1), h19 % (n + 1)) AS u,
        |  greatest(h17 % (n + 1), h19 % (n + 1)) AS v,
        |  CASE WHEN NOT (n >= 2 AND h7 % 2 = 0) THEN 'raw'
        |       WHEN h13 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
        | FROM hx),
        |o AS (
        | SELECT doc_id, mode, u, v, n,
        |  CASE mode WHEN 'raw' THEN text
        |   WHEN 'psm' THEN '<PRE>' || substr(text, 1, CAST(u AS INT))
        |    || '<SUF>' || substr(text, CAST(v + 1 AS INT), CAST(n - v AS INT))
        |    || '<MID>' || substr(text, CAST(u + 1 AS INT), CAST(v - u AS INT))
        |   ELSE '<PRE><SUF>'
        |    || substr(text, CAST(v + 1 AS INT), CAST(n - v AS INT))
        |    || '<MID>' || substr(text, 1, CAST(u AS INT))
        |    || substr(text, CAST(u + 1 AS INT), CAST(v - u AS INT))
        |  END AS out
        | FROM sp)
        |SELECT doc_id, mode,
        | CAST(CASE WHEN mode = 'raw' THEN 0 ELSE u END AS BIGINT) AS pre_len,
        | CAST(CASE WHEN mode = 'raw' THEN 0 ELSE v - u END AS BIGINT)
        |   AS mid_len,
        | CAST(CASE WHEN mode = 'raw' THEN 0 ELSE n - v END AS BIGINT)
        |   AS suf_len,
        | md5(out) AS out_md5
        |FROM o ORDER BY doc_id""".stripMargin),

    // ---- CCNet perplexity buckets (Wenzek et al. 2020: split each
    // language into head/middle/tail TERTILES of LM perplexity — the
    // curation sheet behind "train on head+middle"): per-doc bigram
    // perplexity is q88's lineage (carrying lang), integer-ized at 4
    // decimals, then the tertile cutoffs come from a VALUE HISTOGRAM —
    // per-(lang, ppl10k) counts, cumulative over the histogram (value-
    // domain-bounded, far below doc grain), smallest value reaching
    // ⌈N/3⌉ / ⌈2N/3⌉ — never a per-language doc sort (a lang-partition
    // ntile would put corpus/|langs| docs through one task at 100 TB).
    // Cutoffs broadcast back (langs-bounded); docs excluded only when
    // unscoreable (< 2 tokens, as q88) ----
    QuerySpec("q243_ccnet_buckets", (s, d) => {
      val scored = bigramLogProb(tSpread(s, d, "documents"), "doc_id", "lang")
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(-avg(col("logp")), 4).as("ppl_bits"))
        .withColumn("ppl10k", expr("cast(round(ppl_bits * 10000) as bigint)"))
        .select(col("doc_id"), col("lang"), col("ppl10k"))
        .localCheckpoint() // heavy lineage feeds the histogram AND assign
      val hist = scored.groupBy(col("lang"), col("ppl10k"))
        .agg(count(lit(1)).as("c"))
      val wl = Window.partitionBy(col("lang")).orderBy(col("ppl10k"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cuts = hist.withColumn("cum", sum(col("c")).over(wl))
        .join(broadcast(hist.groupBy(col("lang")).agg(sum(col("c")).as("n"))),
          Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(when(col("cum") >= expr("(n + 2) div 3"), col("ppl10k")))
            .as("c33"),
          min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("ppl10k")))
            .as("c66"))
      scored.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket", when(col("ppl10k") <= col("c33"), lit("head"))
          .when(col("ppl10k") <= col("c66"), lit("middle"))
          .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("ppl10k")).as("ppl_lo"),
          max(col("ppl10k")).as("ppl_hi"))
        .orderBy(col("lang"), col("bucket"))
    }, oracle =
      // CCNet-bucket replay: q88's perplexity CTEs (with lang), the same
      // 4-decimal integerization, histogram-cumulative tertile cutoffs.
      """WITH tok0 AS (
        | SELECT doc_id, lang, ts, unnest(range(1, array_length(ts) + 1)) AS i
        | FROM (SELECT doc_id, lang,
        |        regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |       FROM documents)),
        |tok AS (
        | SELECT doc_id, lang, i - 1 AS pos, ts[CAST(i AS INT)] AS w
        | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0),
        |big AS (
        | SELECT doc_id, lang, w,
        |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        | FROM tok
        | QUALIFY w2 IS NOT NULL),
        |bi AS (SELECT w, w2, count(*) AS cb FROM big GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tok),
        |sc AS (
        | SELECT b.doc_id, b.lang,
        |  CAST(round(round(-avg(log2((bi.cb + 1.0) / (uni.cu + v.v))), 4)
        |       * 10000) AS BIGINT) AS ppl10k
        | FROM big b
        |  JOIN bi ON bi.w = b.w AND bi.w2 = b.w2
        |  JOIN uni ON uni.w = b.w
        |  CROSS JOIN v
        | GROUP BY b.doc_id, b.lang),
        |h AS (SELECT lang, ppl10k, count(*) AS c FROM sc GROUP BY 1, 2),
        |cm AS (
        | SELECT lang, ppl10k, c,
        |  sum(c) OVER (PARTITION BY lang ORDER BY ppl10k
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(c) OVER (PARTITION BY lang) AS n
        | FROM h),
        |ct AS (
        | SELECT lang,
        |  min(CASE WHEN cum >= (n + 2) // 3 THEN ppl10k END) AS c33,
        |  min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ppl10k END) AS c66
        | FROM cm GROUP BY 1),
        |bk AS (
        | SELECT sc.lang,
        |  CASE WHEN ppl10k <= c33 THEN 'head'
        |       WHEN ppl10k <= c66 THEN 'middle' ELSE 'tail' END AS bucket,
        |  ppl10k
        | FROM sc JOIN ct ON sc.lang = ct.lang)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(min(ppl10k) AS BIGINT) AS ppl_lo,
        | CAST(max(ppl10k) AS BIGINT) AS ppl_hi
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin),

    // ---- quality-proxy calibration card (can the cheap bigram-LM
    // perplexity stand in for the rule-based quality gate? — the check
    // a curation pipeline runs before swapping proxies): docs binned
    // by tenth-of-a-bit perplexity (FIXED value bins via the q243
    // integer-ized score — never a quantile sort), per-bin gopher-rule
    // pass rate + lift over the corpus base rate. Two doc-grain frames
    // join once on doc_id; every later frame is bins-bounded (≤ 13
    // rows); the base rate is a 1-row broadcast ----
    QuerySpec("q246_proxy_calibration", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val scored = bigramLogProb(docs, "doc_id")
        .groupBy(col("doc_id"))
        .agg(expr("cast(round(round(-avg(logp), 4) * 10000) as bigint)")
          .as("ppl10k"))
      val gate = TextFunctions.gopherQuality(docs, "text", "doc_id")
        .select(col("doc_id"), col("keep"))
      val j = scored.join(gate, Seq("doc_id"))
        .withColumn("bin", expr("least(ppl10k div 1000, cast(100 as bigint))"))
      val base = j.agg(sum(when(col("keep"), 1L).otherwise(0L)).as("tp"),
        count(lit(1)).as("tn"))
      // rates as exact BIGINT basis points (the q247/q261 convention —
      // round-8 lesson: engine-computed fractional columns never leave
      // a declared query; see PLANS.md "output typing"). lift's
      // numerator n_pass·tn·10⁴ passes 9.2e18 at 100 TB doc counts, so
      // it rides decimal(38,0) and narrows only after the div.
      j.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_pass"))
        .crossJoin(broadcast(base))
        .select(col("bin"), col("n_docs"), col("n_pass"),
          expr("(n_pass * 10000 + n_docs div 2) div n_docs")
            .as("pass_rate_bp"),
          // half-up as (2·num + den) div (2·den): den div 2 would pass
          // through Spark's Long-typed IntegralDivide mid-expression and
          // wrap at 100 TB counts; this form's only div is the final
          // bounded-result one
          expr("case when tp > 0 then (2 * cast(n_pass as decimal(38,0)) " +
            "* tn * 10000 + cast(n_docs as decimal(38,0)) * tp) " +
            "div (2 * cast(n_docs as decimal(38,0)) * tp) end")
            .as("lift_bp"))
        .orderBy(col("bin"))
    }, oracle =
      // calibration replay: q88's perplexity CTEs integer-ized as q243
      // does, q188's gopher gate, the same fixed bins + lift algebra.
      s"""WITH $bigramProxyCteSql,
        |j AS (
        | SELECT sc.doc_id, least(ppl10k // 1000, 100) AS bin,
        |  CASE WHEN keep THEN 1 ELSE 0 END AS k
        | FROM sc JOIN gt ON sc.doc_id = gt.doc_id),
        |base AS (SELECT sum(k) AS tp, count(*) AS tn FROM j)
        |SELECT CAST(bin AS BIGINT) AS bin,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(k) AS BIGINT) AS n_pass,
        | CAST((sum(k) * 10000 + count(*) // 2) // count(*) AS BIGINT)
        |   AS pass_rate_bp,
        | CAST(CASE WHEN tp > 0 THEN (2 * CAST(sum(k) AS HUGEINT) * tn
        |   * 10000 + CAST(count(*) AS HUGEINT) * tp)
        |   // (2 * CAST(count(*) AS HUGEINT) * tp) END AS BIGINT) AS lift_bp
        |FROM j CROSS JOIN base
        |GROUP BY bin, tp, tn ORDER BY bin""".stripMargin),

    // ---- held-out per-source LM perplexity (CCNet's ACTUAL source-
    // ranking mechanism — q88 scores in-sample, this trains on a
    // held-out split and scores foreign text): bigram model with add-1
    // smoothing fit on the doc_id%5!=0 split, eval docs scored with
    // unseen words/pairs coalesced to zero counts; per-source mean ppl
    // is an EXACT integer mean of the per-doc integer scores, plus the
    // OOV token rate. The split is the q213 md5 bucket (doc_id % k
    // would correlate with the source assignment); model joins key on
    // the word (Heaps-bounded, shuffle-joined, never broadcast) ----
    QuerySpec("q248_heldout_source_ppl", (s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("bigint") % 100
      // r12: q88's map-side bigram rework (see q88). The md5 split is
      // doc-grain, so filtering whole docs before/after pair
      // construction is equivalent — adjacency never crosses docs.
      val pairs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"), bucket.as("bkt"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("source"), col("bkt"),
          col("bg.w").as("w"), col("bg.w2").as("w2"))
      val ev = pairs.filter(col("bkt") < 20)
      val pc = pairs.filter(col("bkt") >= 20)
        .groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val bi = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uni = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val v = uni.agg(count(lit(1)).as("v"))
      val perDoc = ev.filter(col("w2").isNotNull)
        .join(bi, Seq("w", "w2"), "left")
        .join(uni, Seq("w"), "left")
        .crossJoin(broadcast(v))
        .withColumn("logp",
          log2((coalesce(col("cb"), lit(0L)) + 1).cast("double")
            / (coalesce(col("cu"), lit(0L)) + col("v"))))
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("cast(round(round(-avg(logp), 4) * 10000) as bigint)")
          .as("ppl10k"))
      val oov = ev.join(uni, Seq("w"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("cu").isNull, 1L).otherwise(0L)).as("n_oov"))
      // OOV rate in exact BIGINT basis points (PLANS.md output typing);
      // n_oov·10⁴ ≤ per-source tokens·10⁴ ~ 1e17 at 100 TB — inside Long
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(ppl10k) div count(1)").as("mean_ppl10k"))
        .join(oov, Seq("source"))
        .select(col("source"), col("n_docs"), col("mean_ppl10k"),
          col("n_toks"),
          expr("(n_oov * 10000 + n_toks div 2) div n_toks")
            .as("oov_rate_bp"))
        .orderBy(col("source"))
    }, oracle =
      // held-out replay: q88's CTEs split on doc_id % 5, left joins with
      // zero-coalesced counts, the same exact integer source mean.
      """WITH tok0 AS (
        | SELECT doc_id, source, ts,
        |  unnest(range(1, array_length(ts) + 1)) AS i
        | FROM (SELECT doc_id, source,
        |        regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |       FROM documents)),
        |tok AS (
        | SELECT doc_id, source, i - 1 AS pos, ts[CAST(i AS INT)] AS w,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
        |   AS bkt
        | FROM tok0 WHERE length(ts[CAST(i AS INT)]) > 0),
        |tr AS (SELECT * FROM tok WHERE bkt >= 20),
        |ev AS (SELECT * FROM tok WHERE bkt < 20),
        |trbig AS (
        | SELECT doc_id, w,
        |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        | FROM tr QUALIFY w2 IS NOT NULL),
        |bi AS (SELECT w, w2, count(*) AS cb FROM trbig GROUP BY 1, 2),
        |uni AS (SELECT w, count(*) AS cu FROM tr GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM tr),
        |evbig AS (
        | SELECT doc_id, source, w,
        |  lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        | FROM ev QUALIFY w2 IS NOT NULL),
        |sc AS (
        | SELECT e.doc_id, e.source,
        |  CAST(round(round(-avg(log2((coalesce(bi.cb, 0) + 1.0)
        |    / (coalesce(uni.cu, 0) + v.v))), 4) * 10000) AS BIGINT)
        |   AS ppl10k
        | FROM evbig e
        |  LEFT JOIN bi ON bi.w = e.w AND bi.w2 = e.w2
        |  LEFT JOIN uni ON uni.w = e.w
        |  CROSS JOIN v
        | GROUP BY e.doc_id, e.source),
        |oov AS (
        | SELECT e.source, count(*) AS n_toks,
        |  sum(CASE WHEN uni.cu IS NULL THEN 1 ELSE 0 END) AS n_oov
        | FROM ev e LEFT JOIN uni ON uni.w = e.w
        | GROUP BY e.source)
        |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(ppl10k) // count(*) AS BIGINT) AS mean_ppl10k,
        | CAST(max(n_toks) AS BIGINT) AS n_toks,
        | CAST((max(n_oov) * 10000 + max(n_toks) // 2) // max(n_toks)
        |   AS BIGINT) AS oov_rate_bp
        |FROM sc JOIN oov ON sc.source = oov.source
        |GROUP BY sc.source ORDER BY sc.source""".stripMargin),

    // ---- adjacent-duplicate-word collapse ("the the" cleaning — the
    // token-grain stutter fix every HTML-extraction pipeline runs):
    // pure map-side indexed-lambda filter over the split array, ZERO
    // exchanges; md5 pins every rewritten byte, and the collapse count
    // feeds the doc-quality audit ----
    QuerySpec("q252_stutter_collapse", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .filter(length(trim(col("text"))) > 0)
        .withColumn("ws", split(trim(col("text")), "\\s+"))
      docs
        .withColumn("kept", TextFunctions.stutterKept(col("ws")))
        .select(col("doc_id"),
          size(col("ws")).cast("bigint").as("n_words"),
          (size(col("ws")) - size(col("kept"))).cast("bigint")
            .as("n_collapsed"),
          md5(array_join(col("kept"), " ")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // stutter replay: the same indexed-lambda filter (DuckDB lambdas
      // are 1-based where Spark's are 0-based; the CASE guards ws[0]).
      """WITH l AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        | FROM documents WHERE length(trim(text)) > 0),
        |k AS (
        | SELECT doc_id, ws,
        |  list_filter(ws, (x, i) -> CASE WHEN i = 1 THEN true
        |    ELSE x != ws[i - 1] END) AS kept
        | FROM l)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        | CAST(len(ws) - len(kept) AS BIGINT) AS n_collapsed,
        | md5(array_to_string(kept, ' ')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin),

    // ---- eval-set n-gram novelty sweep (the memorization-risk card:
    // what fraction of the benchmark's n-grams does the training set
    // already contain, for n = 1, 2, 3 — high containment means eval
    // scores measure recall of training text, not generalization):
    // distinct-per-side gram sets (array_distinct BEFORE the explode,
    // q189's bound), one existence join per n on the gram string;
    // output is 3 rows ----
    QuerySpec("q254_novelty_sweep", (s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .filter(size(col("ts")) > 0)
      def grams(df: DataFrame, n: Int) = df
        .filter(size(col("ts")) >= n)
        .select(explode(array_distinct(expr(
          s"transform(sequence(1, size(ts) - ${n - 1}), " +
            s"i -> array_join(slice(ts, i, $n), ' '))"))).as("g"))
        .distinct()
      (1 to 3).map { n =>
        val ev = grams(docs.filter(col("doc_id") % 7 === 0), n)
        val tr = grams(docs.filter(col("doc_id") % 7 =!= 0), n)
          .withColumn("_hit", lit(true))
        ev.join(tr, Seq("g"), "left")
          .agg(lit(n.toLong).as("n"),
            count(lit(1)).as("eval_grams"),
            sum(when(col("_hit"), 1L).otherwise(0L)).as("hit_grams"))
          .select(col("n"), col("eval_grams"), col("hit_grams"),
            // exact BIGINT bp (PLANS.md output typing)
            expr("((eval_grams - hit_grams) * 10000 + eval_grams div 2)" +
              " div eval_grams").as("novelty_rate_bp"))
      }.reduce(_ unionByName _).orderBy(col("n"))
    }, oracle =
      // novelty-sweep replay: q189's distinct-gram CTE per n, existence
      // joins, same 3-row algebra.
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents WHERE length(trim(text)) > 0),
        |g1 AS (SELECT DISTINCT doc_id % 7 = 0 AS ev, unnest(t) AS g
        |       FROM toks),
        |g2 AS (SELECT DISTINCT doc_id % 7 = 0 AS ev,
        |        array_to_string(t[i:i+1], ' ') AS g
        |       FROM toks, unnest(range(1, array_length(t))) AS r(i)
        |       WHERE array_length(t) >= 2),
        |g3 AS (SELECT DISTINCT doc_id % 7 = 0 AS ev,
        |        array_to_string(t[i:i+2], ' ') AS g
        |       FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
        |       WHERE array_length(t) >= 3),
        |u AS (
        | SELECT 1 AS n, g, ev FROM g1
        | UNION ALL SELECT 2, g, ev FROM g2
        | UNION ALL SELECT 3, g, ev FROM g3),
        |ev AS (SELECT DISTINCT n, g FROM u WHERE ev),
        |tr AS (SELECT DISTINCT n, g FROM u WHERE NOT ev),
        |j AS (
        | SELECT ev.n, count(*) AS eval_grams,
        |  sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS hit_grams
        | FROM ev LEFT JOIN tr ON tr.n = ev.n AND tr.g = ev.g
        | GROUP BY ev.n)
        |SELECT CAST(n AS BIGINT) AS n, CAST(eval_grams AS BIGINT)
        |  AS eval_grams, CAST(hit_grams AS BIGINT) AS hit_grams,
        | CAST(((eval_grams - hit_grams) * 10000 + eval_grams // 2)
        |  // eval_grams AS BIGINT) AS novelty_rate_bp
        |FROM j ORDER BY n""".stripMargin),

    // ---- Good-Turing unseen-mass + lexical-diversity source card
    // (how much vocabulary is each source still hiding? P0 = n1/N is
    // the Good-Turing estimate of unseen-word probability; Guiraud
    // R = V/√N is the length-robust type-token ratio, carried as
    // R² = V²/N in integer bp so the output replays exactly): ONE
    // (source, word) aggregate then a sources-grain rollup — the
    // heavy exchange is word-keyed and linear in corpus tokens ----
    QuerySpec("q255_unseen_mass_card", (s, d) => {
      val wc = tSpread(s, d, "documents")
        .select(col("source"), explode(
          split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      wc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_toks"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_toks"), col("vocab"), col("n1"),
          col("n2"),
          // exact BIGINT bp (PLANS.md output typing). Guiraud R = V/√N
          // has an irrational denominator, so the card carries R² = V²/N
          // instead — the same monotone diversity ranking, computed
          // exactly (V² rides decimal(38,0): vocab² passes Long at
          // web-corpus vocabulary sizes)
          expr("(n1 * 10000 + n_toks div 2) div n_toks")
            .as("p0_unseen_bp"),
          expr("cast((cast(vocab as decimal(38,0)) * vocab * 10000 " +
            "+ n_toks div 2) div n_toks as bigint)").as("guiraud_sq_bp"))
        .orderBy(col("source"))
    }, oracle =
      // unseen-mass replay: same (source, word) rollup.
      """WITH wc AS (
        | SELECT source, w, count(*) AS c FROM (
        |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
        |    '\s+')) AS w
        |  FROM documents)
        | WHERE length(w) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_toks,
        | CAST(count(*) AS BIGINT) AS vocab,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        | CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        | CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000
        |  + sum(c) // 2) // sum(c) AS BIGINT) AS p0_unseen_bp,
        | CAST((CAST(count(*) AS HUGEINT) * count(*) * 10000
        |  + sum(c) // 2) // sum(c) AS BIGINT) AS guiraud_sq_bp
        |FROM wc GROUP BY source ORDER BY source""".stripMargin),

    // ---- SentencePiece-style character-coverage card (the
    // character_coverage parameter every tokenizer build sets blind:
    // how many distinct characters cover 90/99/99.5/99.95/100% of
    // corpus bytes): the char explode feeds a groupBy whose key domain
    // is the ALPHABET — partial aggregation collapses it map-side, so
    // the shuffle carries |alphabet| rows per partition, not corpus
    // chars. Everything after is alphabet-grain (the global window is
    // bounded by the character domain) ----
    QuerySpec("q257_char_coverage", (s, d) => {
      import s.implicits._
      val ch = tSpread(s, d, "documents")
        .select(explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("ch")).agg(count(lit(1)).as("c"))
      val tot = ch.agg(sum(col("c")).as("total"),
        count(lit(1)).as("alphabet"))
      val w = Window.orderBy(col("c").desc, col("ch"))
      val cum = ch
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(tot))
      val spine = Seq(9000L, 9900L, 9950L, 9995L, 10000L)
        .toDF("target_bp")
      spine.join(cum, col("cum") * lit(10000L) >=
          col("target_bp") * col("total"))
        .groupBy(col("target_bp"))
        .agg(min(col("rk")).cast("bigint").as("chars_needed"),
          max(col("alphabet")).as("alphabet"),
          max(col("total")).as("total_chars"))
        .orderBy(col("target_bp"))
    }, oracle =
      // char-coverage replay: same alphabet-grain cumulative.
      """WITH ch AS (
        | SELECT ch, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, '')) AS ch FROM documents)
        | WHERE ch <> '' GROUP BY 1),
        |tot AS (SELECT sum(c) AS total, count(*) AS alphabet FROM ch),
        |cum AS (
        | SELECT ch, c, row_number() OVER (ORDER BY c DESC, ch) AS rk,
        |  sum(c) OVER (ORDER BY c DESC, ch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM ch),
        |tg AS (SELECT unnest([9000, 9900, 9950, 9995, 10000]) AS target_bp)
        |SELECT CAST(target_bp AS BIGINT) AS target_bp,
        | CAST(min(rk) AS BIGINT) AS chars_needed,
        | CAST(max(alphabet) AS BIGINT) AS alphabet,
        | CAST(max(total) AS BIGINT) AS total_chars
        |FROM tg JOIN cum CROSS JOIN tot
        | ON cum.cum * 10000 >= target_bp * tot.total
        |GROUP BY target_bp ORDER BY target_bp""".stripMargin),

    // ---- PMI collocations (phrase mining for tokenizer/vocab design
    // — q158 ranks by frequency, PMI ranks by ASSOCIATION: log2 of
    // observed-over-expected bigram probability): bigram and unigram
    // counts are q88's audited aggregates; PMI needs only counts and
    // the 1-row token total, so everything after the token-grain
    // aggregates is vocabulary-grain (Heaps-sublinear). Top-20 by PMI
    // among bigrams seen ≥ 5 times, fully tie-broken ----
    QuerySpec("q267_pmi_collocations", (s, d) => {
      // r12: q88's map-side bigram rework (see q88) — the ONE corpus
      // pass here, since every output frame is vocabulary-grain: cb,
      // cu AND the token total all derive from the checkpointed
      // pair-grain aggregate (nt = Σc — each token is one pair row)
      val pairs = tSpread(s, d, "documents")
        .select(explode(
          TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
        .filter(col("cb") >= 5)
      val uni = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val nb = pc.agg(sum(col("c")).as("nt"))
      big
        .join(uni, Seq("w"))
        .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
        .crossJoin(broadcast(nb))
        .withColumn("pmi4", expr(
          "cast(round(round(log2(cb * cast(nt as double) / " +
            "(cast(cu as double) * cu2)), 4) * 10000) as bigint)"))
        .select(col("w"), col("w2"), col("cb"), col("pmi4"))
        .orderBy(col("pmi4").desc, col("w"), col("w2"))
        .limit(20)
    }, oracle =
      // PMI replay: q88's count CTEs + the same log2 ratio.
      s"""WITH $bigramCteSql,
        |bi AS (SELECT w, w2, count(*) AS cb FROM big GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY 1),
        |nt AS (SELECT count(*) AS nt FROM tok)
        |SELECT b.w, b.w2, CAST(b.cb AS BIGINT) AS cb,
        | CAST(round(round(log2(b.cb * CAST(nt.nt AS DOUBLE)
        |   / (CAST(u1.cu AS DOUBLE) * u2.cu)), 4) * 10000) AS BIGINT)
        |  AS pmi4
        |FROM bi b
        | JOIN uni u1 ON u1.w = b.w
        | JOIN uni u2 ON u2.w = b.w2
        | CROSS JOIN nt
        |ORDER BY pmi4 DESC, b.w, b.w2 LIMIT 20""".stripMargin),

    // ---- word2vec negative-sampling table (the unigram^0.75
    // distribution every embedding trainer draws negatives from):
    // c^0.75 computed as sqrt(sqrt(c³)) — two CORRECTLY-ROUNDED IEEE
    // sqrts on an exact integer cube, so the weight is bit-identical
    // in any engine (pow(c, 0.75) is not correctly rounded and may
    // differ in the last ulp); weights quantized to an integer grid
    // BEFORE the normalizing sum so the total is exact. Output: the
    // top-50 vocabulary rows by count with their sampling ppm ----
    QuerySpec("q268_negative_sampling", (s, d) => {
      val uni = tSpread(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("wq", expr(
          "cast(floor(sqrt(sqrt(cast(c as double) * c * c)) * 10000" +
            " + 0.5) as bigint)"))
        .localCheckpoint() // feeds the total AND the top-k
      val tot = uni.agg(sum(col("wq")).as("tw"))
      uni.crossJoin(broadcast(tot))
        .select(col("w"), col("c"),
          // double-space ppm: wq*1e6 can pass 2^63 at extreme counts,
          // and both engines compute the identical double chain
          expr("cast(round(cast(wq as double) * 1000000 / tw) as bigint)")
            .as("weight_ppm"))
        .orderBy(col("c").desc, col("w"))
        .limit(50)
    }, oracle =
      // negative-sampling replay: sqrt(sqrt(c³)) weights on the same
      // integer grid, ppm in the same double chain.
      """WITH uni AS (
        | SELECT w, count(*) AS c FROM (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |   AS w FROM documents)
        | WHERE length(w) > 0 GROUP BY 1),
        |wq AS (
        | SELECT w, c,
        |  CAST(floor(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 10000 + 0.5)
        |    AS BIGINT) AS wq
        | FROM uni),
        |tw AS (SELECT sum(wq) AS tw FROM wq)
        |SELECT w, CAST(c AS BIGINT) AS c,
        | CAST(round(CAST(wq AS DOUBLE) * 1000000 / tw) AS BIGINT)
        |  AS weight_ppm
        |FROM wq CROSS JOIN tw
        |ORDER BY c DESC, w LIMIT 50""".stripMargin),

    // ---- proxy ROC sweep (q246 showed calibration; this shows
    // DISCRIMINATION: tpr/fpr/precision of "keep iff perplexity ≤ t"
    // against the gopher labels, for t = 4.0..7.0 bits step 0.1):
    // doc-grain work is the same two audited frames joined once; the
    // sweep runs on a (hundredth-bit bin × label) HISTOGRAM, so the
    // 31-point threshold spine never touches doc-grain rows ----
    QuerySpec("q269_proxy_roc", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val scored = bigramLogProb(docs, "doc_id")
        .groupBy(col("doc_id"))
        .agg(expr("cast(round(round(-avg(logp), 4) * 10000) as bigint)")
          .as("ppl10k"))
      val gate = TextFunctions.gopherQuality(docs, "text", "doc_id")
        .select(col("doc_id"), col("keep"))
      val h = scored.join(gate, Seq("doc_id"))
        .groupBy(expr("ppl10k div 100").as("bin"), col("keep"))
        .agg(count(lit(1)).as("c"))
      val tot = h.agg(
        sum(when(col("keep"), col("c")).otherwise(0L)).as("pos"),
        sum(when(!col("keep"), col("c")).otherwise(0L)).as("neg"))
      val spine = s.range(400, 710, 10).select(col("id").as("t"))
      spine.join(h, col("bin") <= col("t"), "left")
        .groupBy(col("t"))
        .agg(sum(when(col("keep"), col("c")).otherwise(0L)).as("tp"),
          sum(when(!col("keep"), col("c")).otherwise(0L)).as("fp"))
        .crossJoin(broadcast(tot))
        // exact BIGINT bp (PLANS.md output typing); pos/neg guarded so
        // an all-keep or all-drop corpus yields NULL, not an ANSI throw
        .select((col("t") * 100).cast("bigint").as("ppl10k_threshold"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("fp"), lit(0L)).as("fp"),
          expr("case when pos > 0 then " +
            "(coalesce(tp, 0) * 10000 + pos div 2) div pos end")
            .as("tpr_bp"),
          expr("case when neg > 0 then " +
            "(coalesce(fp, 0) * 10000 + neg div 2) div neg end")
            .as("fpr_bp"),
          expr("case when coalesce(tp, 0) + coalesce(fp, 0) > 0 then " +
            "(tp * 10000 + (tp + fp) div 2) div (tp + fp) end")
            .as("prec_bp"))
        .orderBy(col("ppl10k_threshold"))
    }, oracle =
      // ROC replay: q246's scored+gate CTEs, the same histogram sweep.
      s"""WITH $bigramProxyCteSql,
        |h AS (
        | SELECT ppl10k // 100 AS bin, keep, count(*) AS c
        | FROM sc JOIN gt ON sc.doc_id = gt.doc_id GROUP BY 1, 2),
        |tot AS (
        | SELECT sum(CASE WHEN keep THEN c ELSE 0 END) AS pos,
        |  sum(CASE WHEN NOT keep THEN c ELSE 0 END) AS neg
        | FROM h),
        |sp AS (SELECT unnest(range(400, 710, 10)) AS t),
        |g AS (
        | SELECT t,
        |  sum(CASE WHEN keep THEN c ELSE 0 END) AS tp,
        |  sum(CASE WHEN NOT keep THEN c ELSE 0 END) AS fp
        | FROM sp LEFT JOIN h ON bin <= t GROUP BY t)
        |SELECT CAST(t * 100 AS BIGINT) AS ppl10k_threshold,
        | CAST(coalesce(tp, 0) AS BIGINT) AS tp,
        | CAST(coalesce(fp, 0) AS BIGINT) AS fp,
        | CAST(CASE WHEN pos > 0 THEN
        |  (coalesce(tp, 0) * 10000 + pos // 2) // pos END AS BIGINT)
        |  AS tpr_bp,
        | CAST(CASE WHEN neg > 0 THEN
        |  (coalesce(fp, 0) * 10000 + neg // 2) // neg END AS BIGINT)
        |  AS fpr_bp,
        | CAST(CASE WHEN coalesce(tp, 0) + coalesce(fp, 0) > 0 THEN
        |  (tp * 10000 + (tp + fp) // 2) // (tp + fp) END AS BIGINT)
        |  AS prec_bp
        |FROM g CROSS JOIN tot
        |ORDER BY ppl10k_threshold""".stripMargin),

    // ---- lossless BPE detokenization (the serving-side property every
    // tokenizer deployment depends on and few pipelines actually test:
    // segment → merge-replay → REASSEMBLE reproduces the normalized
    // text byte-for-byte): q197's 20-merge tokenizer with the standard
    // end-of-word marker on each word's final piece, inverted by
    // detokenize; n_pieces pins the SEGMENTATION against the oracle's
    // full 20-iteration SQL replay (so a tokenizer that degenerates to
    // whole words cannot pass), detok_md5 pins the INVERSION against
    // the normalized original ----
    QuerySpec("q283_bpe_detok_roundtrip", (s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.train(docs, "text", 20)
      BpeTrainer.tokenizeEow(docs.filter(length(trim(col("text"))) > 0),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_pieces"),
          md5(BpeTrainer.detokenize(col("tokens"))).as("detok_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // detok replay: the full 20-iteration BPE SQL replay gives the
      // piece counts (marker pieces count 1-for-1 with plain pieces); the
      // detok md5 is the md5 of the NORMALIZED original (lowercased,
      // single-space words) — the Spark side earns it through
      // segment→merge→reassemble.
      bpeTokenizeOracle(20, Some(
      """
        |SELECT dd.doc_id,
        | CAST(len(regexp_split_to_array(trim(dd.seg), '\s+')) AS BIGINT)
        |   AS n_pieces,
        | md5(array_to_string(list_filter(
        |   regexp_split_to_array(trim(lower(doc.text)), '\s+'),
        |   x -> x <> ''), ' ')) AS detok_md5
        |FROM d20 dd JOIN documents doc ON doc.doc_id = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin))),

    // ---- BYTE-level BPE with lossless detokenization — q283's
    // production twin. Every production tokenizer (GPT-2/LLaMA family)
    // works at byte grain through a bytes↔unicode bijection: any UTF-8
    // input is in-alphabet by construction (OOV-free — no unknown
    // symbol path exists), case and every byte are PRESERVED (byte-level
    // tokenizers don't normalize), and detok inverts byte-for-byte.
    // n_pieces pins the segmentation against the oracle's full
    // 20-iteration byte-grain SQL replay (codepoint→UTF-8-byte integer
    // math + the bijection in SQL); detok_md5 pins the inversion against
    // the case-preserving single-space-joined original ----
    QuerySpec("q285_byte_bpe_roundtrip", (s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.trainBytes(docs, "text", 20)
      BpeTrainer.tokenizeBytesEow(docs.filter(length(trim(col("text"))) > 0),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_pieces"),
          md5(BpeTrainer.detokenizeBytes(col("tokens"))).as("detok_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // byte-grain detok replay: piece counts from the byte-level merge
      // replay; detok md5 = md5 of the CASE-PRESERVING single-space-joined
      // original words — the Spark side earns it byte-for-byte through
      // segment→merge→reassemble→bijection-inverse→UTF-8-decode.
      bpeByteTokenizeOracle(20,
      """
        |SELECT dd.doc_id,
        | CAST(len(regexp_split_to_array(trim(dd.seg), '\s+')) AS BIGINT)
        |   AS n_pieces,
        | md5(array_to_string(list_filter(
        |   regexp_split_to_array(trim(doc.text), '\s+'),
        |   x -> x <> ''), ' ')) AS detok_md5
        |FROM d20 dd JOIN documents doc ON doc.doc_id = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin)),

    // ---- Unicode normalization (the projection every text-dedup
    // stage must run FIRST: composed vs decomposed forms of the same
    // visible string hash differently at every dedup grain unless the
    // corpus is normalized to one form). Each doc gets a DECOMPOSED
    // prefix (base letter + combining mark); NFC must compose it
    // (n_nfc = n_raw - 1 per doc) and the md5s pin the exact composed
    // bytes against DuckDB's nfc_normalize; the fold key adds
    // strip-accents + casefold, the accent-insensitive join key ----
    QuerySpec("q290_unicode_normalize", (s, d) => {
      import graft.text.UnicodeNorm
      // DECOMPOSED on purpose: base letter + combining mark (NFC
      // composes each to one codepoint: é ü ñ Ç Å)
      val prefixes = array(lit("e\u0301"), lit("u\u0308"),
        lit("n\u0303"), lit("C\u0327"), lit("A\u030A"))
      val dec = concat(
        element_at(prefixes, (col("doc_id") % 5 + 1).cast("int")),
        lit(" "), col("text"))
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          length(dec).cast("bigint").as("n_raw"),
          length(UnicodeNorm.nfc(dec)).cast("bigint").as("n_nfc"),
          md5(UnicodeNorm.nfc(dec)).as("nfc_md5"),
          md5(UnicodeNorm.foldKey(dec)).as("fold_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // NFC replay via DuckDB's nfc_normalize/strip_accents/lower over
      // the SAME decomposed construction (chr codes are the combining
      // marks: 769 acute, 776 diaeresis, 771 tilde, 807 cedilla,
      // 778 ring above).
      """WITH px AS (SELECT doc_id,
        |  (CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'e' || chr(769) WHEN 1 THEN 'u' || chr(776)
        |    WHEN 2 THEN 'n' || chr(771) WHEN 3 THEN 'C' || chr(807)
        |    ELSE 'A' || chr(778) END) || ' ' || text AS dec
        | FROM documents)
        |SELECT doc_id, CAST(length(dec) AS BIGINT) AS n_raw,
        | CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_nfc,
        | md5(nfc_normalize(dec)) AS nfc_md5,
        | md5(lower(strip_accents(nfc_normalize(dec)))) AS fold_md5
        |FROM px ORDER BY doc_id""".stripMargin),

    // ---- blocklist scan via Aho-Corasick (term blocklists carry
    // hundreds of patterns; the automaton matches ALL of them in ONE
    // linear walk instead of one corpus pass per pattern). The pattern
    // set nests on purpose — tab⊂table, an⊂scan, al⊂value, rde⊂order,
    // plus a phrase and an absent term — so an automaton that drops
    // the failure-output merge undercounts and fails the hash; the
    // oracle counts each pattern independently by position scan ----
    QuerySpec("q292_blocklist_scan", (s, d) => {
      import graft.text.AhoCorasick
      val pats = Seq("scan", "can", "an", "table", "tab", "ab",
        "le", "order", "rde", "value", "al", "fast sort", "zebra")
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          AhoCorasick.countsUdf(pats)(col("text")).as("m"))
        .select(col("doc_id"),
          col("m._1").as("n_matches"),
          col("m._2").as("n_patterns"))
        .orderBy(col("doc_id"))
    }, oracle =
      // blocklist replay: each pattern counted INDEPENDENTLY by position
      // scan (overlaps and nested matches included) — the semantics the
      // one-pass automaton must reproduce across its failure-output
      // links.
      """WITH p(pat) AS (VALUES ('scan'), ('can'), ('an'), ('table'),
        |  ('tab'), ('ab'), ('le'), ('order'), ('rde'), ('value'),
        |  ('al'), ('fast sort'), ('zebra')),
        |c AS (SELECT doc_id, pat,
        |  len(list_filter(range(1, length(text) - length(pat) + 2),
        |    i -> substr(text, i, length(pat)) = pat)) AS n
        | FROM documents, p)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_matches,
        | CAST(count(*) FILTER (n > 0) AS BIGINT) AS n_patterns
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
