package graft

import graft.vector.{CosineSimilarity, TopKByScore}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's SQL-surface function builders. [[GraftExtensions]]
  * injects them at session build (`GraftSession.local`, or
  * `spark.sql.extensions=graft.GraftExtensions` — the way a library jar
  * ships Catalyst functions). */
object GraftFunctions {

  val cosineBuilder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))

  val topkBuilder: Seq[Expression] => Expression = exprs => {
    val k = exprs(2).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"topk_by_score k must be an integer literal, got $other")
    }
    TopKByScore(exprs(0), exprs(1), k).toAggregateExpression()
  }

  // Column-composition functions (built from codegen'd builtins) exposed
  // to SQL by round-tripping through the Column bridge: the builder
  // receives child Expressions, wraps them as Columns, applies the same
  // composition the DataFrame API uses, and unwraps the result — so SQL
  // and DataFrame callers share ONE definition.
  private def columnFn(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression = { exprs =>
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // resolvedExpression (not expression): a registry builder's output
    // skips the Dataset analysis path that would unwrap a lazy
    // ColumnNodeExpression, so the conversion must happen eagerly here
    ColumnBridge.resolvedExpression(f(exprs.map(ColumnBridge.column)))
  }

  val langIdBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.langId(cs(0)))
  val gopherRepetitionBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.gopherRepetitionStruct(cs(0)))
  val gopherQualityBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.gopherQualityStruct(cs(0)))
  val qualityProbBuilder: Seq[Expression] => Expression =
    columnFn(cs =>
      graft.operators.HashedLogReg.qualityProb(cs(0), cs(1), cs(2)))
  val tokenCountBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.tokenCount(cs(0)))
  val bpeTokenCountBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.bpeTokenCount(cs(0)))
  val qualityScoreBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.qualityScore(cs(0)))
  val fingerprintBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.text.TextFunctions.fingerprint(cs(0)))
  val ttlSecondsBuilder: Seq[Expression] => Expression =
    columnFn(cs => graft.parse.Parsers.ttlSeconds(cs(0), cs(1)))

  val hllBuilder: Seq[Expression] => Expression = exprs => {
    val p = if (exprs.length < 2) 9 else exprs(1).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"hll_distinct precision must be an integer literal, got $other")
    }
    graft.sketch.HllDistinct(exprs(0), p).toAggregateExpression()
  }

  val histQuantileBuilder: Seq[Expression] => Expression = exprs => {
    def dbl(e: Expression, what: String): Double = e.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"hist_quantile $what must be a numeric literal, got $other")
    }
    val bins = if (exprs.length < 5) 256 else exprs(4).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"hist_quantile bins must be an integer literal, got $other")
    }
    graft.sketch.HistQuantileAgg(exprs(0), dbl(exprs(1), "q"),
      dbl(exprs(2), "lo"), dbl(exprs(3), "hi"), bins).toAggregateExpression()
  }

  private def intLit(exprs: Seq[Expression], idx: Int, default: Int,
      what: String): Int =
    if (exprs.length <= idx) default
    else exprs(idx).eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  private def strLit(exprs: Seq[Expression], idx: Int,
      what: String): String =
    if (exprs.length <= idx) throw new IllegalArgumentException(
      s"$what is required (argument ${idx + 1})")
    else exprs(idx).eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }

  val cmsAggBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.CmsAgg(exprs(0),
      intLit(exprs, 1, 4, "cms_agg depth"),
      intLit(exprs, 2, 32, "cms_agg width")).toAggregateExpression()
  val cmsMergeBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.CmsMerge(exprs(0)).toAggregateExpression()
  val cmsQueryBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.CmsQuery(exprs(0), exprs(1))
  val hllSketchBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.HllSketchAgg(exprs(0),
      intLit(exprs, 1, 9, "hll_sketch precision")).toAggregateExpression()
  val hllMergeEstBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.HllMergeAgg(exprs(0), asEstimate = true).toAggregateExpression()
  val hllMergeSketchBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.HllMergeAgg(exprs(0), asEstimate = false).toAggregateExpression()
  val hllUnionEstBuilder: Seq[Expression] => Expression = exprs =>
    graft.sketch.HllUnionEst(exprs(0), exprs(1))
  val zvalueBuilder: Seq[Expression] => Expression = exprs =>
    graft.store.InterleaveBits(exprs.tail,
      intLit(exprs, 0, 8, "zvalue bits"))

  /** Every (name, builder) the engine exposes to SQL. */
  val all: Seq[(String, Seq[Expression] => Expression, Class[_])] = Seq(
    ("hll_distinct", hllBuilder, classOf[graft.sketch.HllDistinct]),
    ("hll_sketch", hllSketchBuilder, classOf[graft.sketch.HllSketchAgg]),
    ("hll_merge_est", hllMergeEstBuilder, classOf[graft.sketch.HllMergeAgg]),
    ("hll_merge_sketch", hllMergeSketchBuilder, classOf[graft.sketch.HllMergeAgg]),
    ("hll_union_est", hllUnionEstBuilder, classOf[graft.sketch.HllUnionEst]),
    ("zvalue", zvalueBuilder, classOf[graft.store.InterleaveBits]),
    ("cms_agg", cmsAggBuilder, classOf[graft.sketch.CmsAgg]),
    ("cms_merge", cmsMergeBuilder, classOf[graft.sketch.CmsMerge]),
    ("cms_query", cmsQueryBuilder, classOf[graft.sketch.CmsQuery]),
    ("hist_quantile", histQuantileBuilder, classOf[graft.sketch.HistQuantileAgg]),
    ("cosine_sim", cosineBuilder, classOf[CosineSimilarity]),
    ("topk_by_score", topkBuilder, classOf[TopKByScore]),
    ("lang_id", langIdBuilder, classOf[Expression]),
    ("token_count", tokenCountBuilder, classOf[Expression]),
    ("bpe_token_count", bpeTokenCountBuilder, classOf[Expression]),
    ("quality_score", qualityScoreBuilder, classOf[Expression]),
    ("doc_fingerprint", fingerprintBuilder, classOf[graft.text.RollingHash]),
    ("ttl_seconds", ttlSecondsBuilder, classOf[Expression]),
    ("gopher_repetition", gopherRepetitionBuilder, classOf[Expression]),
    ("gopher_quality", gopherQualityBuilder, classOf[Expression]),
    ("quality_prob", qualityProbBuilder, classOf[Expression]),
    // the multimodal codecs' SQL surface: decode-dispatching features
    // and per-codec stats structs over a BINARY column
    ("media_features",
      columnFn(cs => graft.multimodal.Multimodal.mediaFeatures(cs(0))),
      classOf[Expression]),
    ("img_stats",
      columnFn(cs => graft.multimodal.Multimodal.imgStats(cs(0))),
      classOf[Expression]),
    ("wav_stats",
      columnFn(cs => graft.multimodal.Multimodal.wavStats(cs(0))),
      classOf[Expression]),
    ("y4m_stats",
      columnFn(cs => graft.multimodal.Multimodal.y4mStats(cs(0))),
      classOf[Expression]),
    ("phash",
      columnFn(cs => graft.multimodal.Multimodal.phash(cs(0))),
      classOf[Expression]),
    ("afp",
      columnFn(cs => graft.multimodal.Multimodal.afp(cs(0))),
      classOf[Expression]),
    ("vfp",
      columnFn(cs => graft.multimodal.Multimodal.vfp(cs(0))),
      classOf[Expression]),
    // the q252/q256 cleaning stage: adjacent-duplicate-word collapse
    ("clean_stutter",
      columnFn(cs => graft.text.TextFunctions.stutterCollapse(cs(0))),
      classOf[Expression]),
    // the q55/q317 scrubbing stage: mask emails/phones/IPv4s; count
    // gives the masked-span total a curation audit sums per shard
    ("pii_redact",
      columnFn(cs => graft.text.Pii.redact(cs(0))),
      classOf[Expression]),
    ("pii_count",
      columnFn(cs => (graft.text.Pii.emailCount(cs(0)) +
        graft.text.Pii.phoneCount(cs(0)) +
        graft.text.Pii.ipCount(cs(0))).cast("bigint")),
      classOf[Expression]),
    // compressed text columns (WARC/WET-style payloads): real JDK zlib
    ("gzip_text",
      columnFn(cs => graft.text.GzipText.gzip(cs(0))),
      classOf[Expression]),
    ("gunzip_text",
      columnFn(cs => graft.text.GzipText.gunzip(cs(0))),
      classOf[Expression]),
    ("zstd_text",
      columnFn(cs => graft.text.ZstdText.zstd(cs(0))),
      classOf[Expression]),
    ("unzstd_text",
      columnFn(cs => graft.text.ZstdText.unzstd(cs(0))),
      classOf[Expression]),
    // the crawl-ingestion layer (q288-q297): one definition shared
    // between the Column API and SQL
    ("url_canon",
      columnFn(cs => graft.text.UrlCanon.canon(cs(0))),
      classOf[Expression]),
    ("url_host",
      columnFn(cs => graft.text.UrlCanon.host(cs(0))),
      classOf[Expression]),
    // registered_domain(host, 'com,co.uk,...') — the suffix list is a
    // plan-time literal, so the lookup set builds ONCE per plan
    ("registered_domain", exprs => {
      val sfx = strLit(exprs, 1, "registered_domain suffix list")
        .split(",").map(_.trim).filter(_.nonEmpty).toSet
      columnFn(cs =>
        graft.text.UrlCanon.registeredDomainUdf(sfx)(cs(0)))(exprs.take(1))
    }, classOf[Expression]),
    ("nfc",
      columnFn(cs => graft.text.UnicodeNorm.nfc(cs(0))),
      classOf[Expression]),
    ("nfkc",
      columnFn(cs => graft.text.UnicodeNorm.nfkc(cs(0))),
      classOf[Expression]),
    ("strip_accents",
      columnFn(cs => graft.text.UnicodeNorm.stripAccents(cs(0))),
      classOf[Expression]),
    ("fold_key",
      columnFn(cs => graft.text.UnicodeNorm.foldKey(cs(0))),
      classOf[Expression]),
    ("robots_allowed",
      columnFn(cs => graft.ingest.Robots.allowedUdf(cs(0), cs(1), cs(2))),
      classOf[Expression]),
    // multi_match(text, 'p1,p2,...') — the automaton builds ONCE per
    // plan from the literal pattern list
    ("multi_match", exprs => {
      val pats = strLit(exprs, 1, "multi_match pattern list")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      columnFn(cs =>
        graft.text.AhoCorasick.countsUdf(pats)(cs(0)))(exprs.take(1))
    }, classOf[Expression]),
    // cdc_chunks(text [, window [, maskBits]])
    ("cdc_chunks", exprs => {
      val w = intLit(exprs, 1, 8, "cdc_chunks window")
      val bits = intLit(exprs, 2, 6, "cdc_chunks mask bits")
      columnFn(cs =>
        graft.text.Chunker.chunksUdf(w, bits)(cs(0)))(exprs.take(1))
    }, classOf[Expression]),
    ("warc_split",
      columnFn(cs => graft.ingest.Warc.splitUdf(cs(0))),
      classOf[Expression]),
    ("tar_split",
      columnFn(cs => graft.ingest.Tar.splitUdf(cs(0))),
      classOf[Expression]),
    // boilerplate_extract(html [, min_words])
    ("boilerplate_extract", exprs => {
      val mw = intLit(exprs, 1, 10, "boilerplate_extract min words")
      columnFn(cs =>
        graft.extract.Boilerplate.extractUdf(mw)(cs(0)))(exprs.take(1))
    }, classOf[Expression]),
    // round-11 crawl additions (q299-q301)
    ("sniff_charset",
      columnFn(cs => graft.ingest.CharsetSniff.sniffUdf(cs(0), cs(1))),
      classOf[Expression]),
    ("decode_text",
      columnFn(cs => graft.ingest.CharsetSniff.decodeUdf(cs(0), cs(1))),
      classOf[Expression]),
    ("decode_entities",
      columnFn(cs => graft.text.HtmlEntities.decodeUdf(cs(0))),
      classOf[Expression]),
    ("sitemap_urls",
      columnFn(cs => graft.ingest.Sitemap.urlsUdf(cs(0))),
      classOf[Expression]),
    ("sitemap_children",
      columnFn(cs => graft.ingest.Sitemap.childrenUdf(cs(0))),
      classOf[Expression]),
    ("robots_sitemaps",
      columnFn(cs => graft.ingest.Robots.sitemapsUdf(cs(0))),
      classOf[Expression]),
    ("crawl_delay",
      columnFn(cs => graft.ingest.Robots.crawlDelayUdf(cs(0), cs(1))),
      classOf[Expression]),
    // round 12: the crawl-loop closers
    ("http_parse",
      columnFn(cs => graft.ingest.HttpMessage.parseUdf(cs(0))),
      classOf[Expression]),
    ("url_resolve",
      columnFn(cs => graft.text.UrlResolve.resolveUdf(cs(0), cs(1))),
      classOf[Expression]),
    ("outlinks",
      columnFn(cs => graft.extract.Outlinks.hrefsUdf(cs(0))),
      classOf[Expression]),
    ("sitemap_children_checked",
      columnFn(cs => graft.ingest.Sitemap.childrenCheckedUdf(cs(0), cs(1))),
      classOf[Expression]),
    // round-12 continuation: the archive-index layer + anchor signal
    ("surt_key",
      columnFn(cs => graft.ingest.Cdx.surtUdf(cs(0))),
      classOf[Expression]),
    ("cdx_index",
      columnFn(cs => graft.ingest.Cdx.indexUdf(cs(0))),
      classOf[Expression]),
    ("cdx_fetch",
      columnFn(cs => graft.ingest.Cdx.fetchUdf(cs(0), cs(1), cs(2))),
      classOf[Expression]),
    ("anchor_pairs",
      columnFn(cs => graft.extract.Outlinks.anchorsUdf(cs(0))),
      classOf[Expression]),
  )

  /** `dsir_weights('raw_view', 'target_view' [, 'text_col' [, 'id_col']])`
    * — DSIR importance weighting as a SQL TABLE function (the operator
    * is inherently relational: two corpus scans, vocabulary-grain
    * aggregates, a ratio join — not a scalar). Table names are resolved
    * against the active session's catalog at analysis time; the
    * returned plan is exactly [[graft.operators.ImportanceSelect
    * .dsirWeights]]'s, so SQL and DataFrame callers share one
    * definition and one plan shape. */
  val dsirWeightsTvf
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => {
      def str(i: Int, default: String, what: String): String =
        if (exprs.length <= i) default
        else exprs(i).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"dsir_weights $what must be a string literal, got $other")
        }
      if (exprs.length < 2) throw new IllegalArgumentException(
        "dsir_weights requires at least ('raw_table', 'target_table'); " +
          s"got ${exprs.length} argument(s)")
      val spark = SparkSession.active
      val raw = spark.table(str(0, "", "raw table"))
      val target = spark.table(str(1, "", "target table"))
      graft.operators.ImportanceSelect
        .dsirWeights(raw, target, str(2, "text", "text column"),
          str(3, "doc_id", "id column"))
        .queryExecution.logical
    }

  /** `contamination_spans('train_view', 'bench_view' [, 'text_col'
    * [, 'id_col' [, window]]])` — verbatim eval-leak spans as a SQL
    * TABLE function (inherently relational: two corpus scans, a
    * window-hash existence join, an island merge). The returned plan
    * is exactly [[graft.dedup.Dedup.contaminationSpans]]'s, so SQL and
    * DataFrame callers share one definition and one plan shape. */
  val contaminationSpansTvf
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => {
      def str(i: Int, default: String, what: String): String =
        if (exprs.length <= i) default
        else exprs(i).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"contamination_spans $what must be a string literal, got $other")
        }
      if (exprs.length < 2) throw new IllegalArgumentException(
        "contamination_spans requires at least ('train_table', " +
          s"'bench_table'); got ${exprs.length} argument(s)")
      val spark = SparkSession.active
      graft.dedup.Dedup.contaminationSpans(
          spark.table(str(0, "", "train table")),
          spark.table(str(1, "", "benchmark table")),
          str(2, "text", "text column"), str(3, "doc_id", "id column"),
          window = intLit(exprs, 4, 40, "contamination_spans window"))
        .queryExecution.logical
    }

  /** `shard_by_tokens('docs_view' [, 'id_col' [, 'tokens_col'
    * [, shard_budget]]])` — token-balanced contiguous shard packing
    * as a SQL TABLE function. Inherently relational AND inherently
    * engine-assisted (the exact global prefix sum without a global
    * sort is GlobalOrder's 256-band construction — not writable as a
    * scalar), so this is the one curation stage a pure-SQL user could
    * not compose by hand. The returned plan is exactly
    * [[graft.operators.Curation.shardByTokens]]'s. */
  val shardByTokensTvf
      : Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    exprs => {
      def str(i: Int, default: String, what: String): String =
        if (exprs.length <= i) default
        else exprs(i).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"shard_by_tokens $what must be a string literal, got $other")
        }
      if (exprs.length < 1) throw new IllegalArgumentException(
        "shard_by_tokens requires at least ('docs_table'); got 0 arguments")
      val budget =
        if (exprs.length <= 3) 25000L
        else exprs(3).eval(null) match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"shard_by_tokens budget must be an integer literal, got $other")
        }
      val spark = SparkSession.active
      graft.operators.Curation.shardByTokens(
          spark.table(str(0, "", "docs table")),
          str(1, "doc_id", "id column"),
          str(2, "n_toks", "tokens column"), budget)
        .queryExecution.logical
    }

  /** Every (name, builder) the engine exposes as a SQL TABLE function. */
  val allTable: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      Class[_])] = Seq(
    ("dsir_weights", dsirWeightsTvf,
      graft.operators.ImportanceSelect.getClass),
    ("contamination_spans", contaminationSpansTvf,
      graft.dedup.Dedup.getClass),
    ("shard_by_tokens", shardByTokensTvf,
      graft.operators.Curation.getClass),
  )
}

/** The engine, installed once at session build: the functions above,
  * the range-join and transparent-ANN optimizer rewrites
  * ([[graft.plans.RangeJoinRule]], [[graft.plans.AnnIndexRule]]), the
  * as-of-join and ANN-fallback planner strategies, and the `GRAFT` SQL
  * parser. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder, cls) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    GraftFunctions.allTable.foreach { case (name, builder, cls) =>
      e.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    e.injectOptimizerRule(_ => new graft.plans.RangeJoinRule)
    // once, after operator optimisation: inside that fixed-point batch
    // other rules rebuild the brute branch of a filtered/payload probe
    // and drop its skip tag, so the rule re-fired every iteration and
    // nested ~100 fallbacks (q174: 199 exchanges instead of 1)
    e.injectPreCBORule(_ => new graft.plans.AnnIndexRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AnnFallbackStrategy)
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}
