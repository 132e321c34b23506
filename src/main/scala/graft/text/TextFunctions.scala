package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * builtins (no UDFs in the hot path) so a 100 TB documents scan stays
  * inside WholeStageCodegen with the text column as the only read column.
  */
object TextFunctions {

  /** Whitespace token count; empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish tokenizer count: words OR single non-space punctuation, the
    * usual pre-tokenization regex shape (`\w+|[^\w\s]`). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Count of regex word matches of any of `words` (word-boundary). */
  def wordMatchCount(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + words.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"),
      lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^\\w\\s]"), lit(0)))

  /** Stopword-ratio quality score in [0,1]: stopword tokens / tokens.
    * A length/punct/stopword heuristic in the C4/Gopher-rules family. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  def stopwordCount(text: Column): Column = wordMatchCount(text, EnStopwords)

  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text)
    when(toks === 0, lit(0.0)).otherwise(
      round(stopwordCount(text).cast("double") / toks.cast("double"), 4))
  }

  /** Language-ID by stopword-profile voting: score the text against each
    * language's tiny stopword list, predict the argmax (ties → language
    * order below, then 'und' when nothing matches). N-gram-profile
    * heuristic in the textcat family, restricted to word-level evidence
    * so it is exactly expressible in ANSI SQL for the oracle. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("de", "le", "shi", "wo", "ni"),
  )

  def langId(text: Column): Column = {
    // argmax via array_max over (score, precedence, lang) structs: each
    // score expression is evaluated exactly ONCE per row (a fold of
    // when() chains would re-evaluate every regexp several times).
    // Precedence = reverse list position, so on score ties the EARLIER
    // language wins — i.e. a later language only wins strictly-greater.
    val n = LangProfiles.size
    val candidates = LangProfiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(wordMatchCount(text, words).as("s"),
        lit(n - i).as("r"), lit(lang).as("l"))
    }
    val best = array_max(array(candidates: _*))
    when(best.getField("s") === 0, lit("und")).otherwise(best.getField("l"))
  }

  /** Word n-gram shingles over an ALREADY-PROJECTED token array column.
    *
    * Callers must bind the tokens in a prior projection
    * (`.select(split(trim(text), "\\s+").as("toks"))`) — passing
    * `split(...)` directly here would re-evaluate the split inside the
    * per-element lambda, turning an O(tokens) shingle pass into
    * O(tokens²) per document (measured 3-4× on the documents table). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Adjacent word pairs as ONE map-side array — the bigram-LM lineage
    * (q88 family) without its posexplode + per-doc window-lead, which
    * costs a full token-stream Exchange + Sort per use (guide §2.4:
    * remove shuffles outright — adjacency within a document never
    * needed a shuffle). `w2` is NULL on each doc's final token, so one
    * explode serves BOTH grains: bigram rows (`w2 IS NOT NULL`) and
    * unigram rows (every token appears exactly once as `w`); the
    * model-side counts then derive from a single pair-grain aggregate
    * (cb = count per (w,w2); cu = sum over w; V = distinct-w row
    * count) instead of three separate corpus scans. */
  def adjacentPairs(text: Column): Column =
    bound(filter(split(trim(text), "\\s+"), x => x =!= "")) { ts =>
      when(size(ts) === 0,
        array().cast("array<struct<w:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(ts)), i =>
          struct(element_at(ts, i).as("w"),
            when(i < size(ts), element_at(ts, i + 1)).as("w2"))))
    }

  /** 64-bit rolling polynomial document fingerprint over whitespace
    * tokens — see [[RollingHash]] (custom codegen expression; wrapping
    * arithmetic is intentional and ANSI-safe there). */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val toks = split(trim(text), "\\s+")
    ColumnBridge.column(RollingHash(ColumnBridge.expression(toks)))
  }

  /** Intra-document repeated-span detection — the within-doc half of
    * exact-substring dedup (Lee et al. 2022 shape). A `window`-token
    * window whose content already occurred EARLIER in the same document
    * marks a repeated span; repeated starts within `gap` positions of
    * each other merge into one span (gaps-and-islands).
    *
    * Entirely per-document window functions over one exploded lineage:
    * the partition key is the document id at every stage, so there is
    * no cross-document shuffle — embarrassingly parallel at 100 TB.
    *
    * @return docs with ≥1 repeat: (idCol, n_repeated_windows, n_spans)
    */
  def repeatedSpans(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, window: Int = 3,
                    gap: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, "window must cover at least 2 tokens")
    val tok = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("p", "t")))
    val wSeq = Window.partitionBy(idCol).orderBy("p")
    val withLeads = (1 until window).foldLeft(tok) { (d, i) =>
      d.withColumn(s"t$i", lead(col("t"), i).over(wSeq))
    }
    val gramCols = col("t") +: (1 until window).map(i => col(s"t$i"))
    val grams = withLeads
      .filter(col(s"t${window - 1}").isNotNull)
      .select(col(idCol), col("p"),
        md5(concat_ws(" ", gramCols: _*)).as("g"))
    val wG = Window.partitionBy(col(idCol), col("g"))
    val rep = grams.withColumn("minp", min(col("p")).over(wG))
      .filter(col("p") > col("minp"))
    rep
      .withColumn("prevp", lag(col("p"), 1).over(wSeq))
      .withColumn("b",
        when(col("prevp").isNull || col("p") - col("prevp") > gap, 1L)
          .otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_repeated_windows"),
        sum(col("b")).as("n_spans"))
  }

  /** The one lowercased-whitespace-unigram explode every corpus
    * operator shares (DSIR, the hashed classifier, BPE training,
    * Zipf profiling): blank/null docs dropped, empty tokens dropped,
    * token column named `_w`. Centralized because the tokenization
    * must stay symmetric with the oracle SQL in all of them — a
    * Unicode-whitespace tweak in one copy would silently diverge the
    * rest. */
  def unigrams(df: org.apache.spark.sql.DataFrame, textCol: String,
               keep: Column*): org.apache.spark.sql.DataFrame = df
    .filter(length(trim(col(textCol))) > 0)
    .select((keep :+
      explode(split(trim(lower(col(textCol))), "\\s+")).as("_w")): _*)
    .filter(col("_w") =!= "")

  /** Multiplicity of the array's mode — the max run length of equal
    * adjacent elements after sorting. A pure map-side higher-order fold
    * (O(n log n) per document, ZERO shuffle), which is what lets the
    * Gopher repetition rules below run as a plain projection over a
    * 100 TB scan instead of an exploded two-level aggregate. */
  private def maxMultiplicity(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (st, x) => {
        val run = when(st.getField("prev").isNotNull &&
            x === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))

  /** 4-decimal quantization of an EXACT integer ratio, engine-agnostic:
    * scale in integer arithmetic, ONE double division, floor — the
    * `ratioQ` idiom (see graft.queries.QueryHelpers) that sidesteps `round()`'s
    * HALF_UP-vs-binary tie divergence between Spark and DuckDB. */
  private def rq4(num: Column, den: Column): Column =
    floor(num * lit(10000L) / den + lit(0.5d)) / lit(10000.0d)

  /** Bind a computed array ONCE as a higher-order-function lambda
    * variable so every downstream sub-expression references the bound
    * value instead of re-evaluating its defining expression (the
    * single-element `transform(array(c), f)[1]` idiom — the scalar
    * analogue of projecting the array in a prior select). Keeps the
    * whole composition inside WholeStageCodegen, which is what lets
    * the struct forms below register as plain SQL scalar functions. */
  private def bound(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Gopher-style repetition filter rules (Rae et al. 2021, appendix A
    * "repetition removal"): per-document mode-word fraction, most-
    * frequent-2-gram fraction, and duplicate-3-gram fraction, plus the
    * keep flag at Gopher's thresholds (≤ 0.15, ≤ 0.08, ≤ 0.01).
    * Line/paragraph variants are meaningless on single-line documents,
    * so the word/n-gram family carries the rule set here.
    *
    * This scalar struct form is the ONE definition shared by the
    * DataFrame API ([[gopherRepetition]]) and the SQL surface
    * (`gopher_repetition(text)` in GraftFunctions) — computed entirely
    * with higher-order functions (array_sort + fold, array_distinct):
    * no explode, no groupBy, no window — a 100 TB corpus scan stays one
    * shuffle-free WholeStageCodegen pass reading only the text column.
    * Blank text reads as one empty-string token (callers that must
    * exclude blanks filter first, as [[gopherRepetition]] does).
    *
    * @return struct(n_words, top_word_frac, top_2gram_frac,
    *         dup_3gram_frac, keep)
    */
  def gopherRepetitionStruct(text: Column): Column =
    bound(split(trim(text), "\\s+"))(gopherRepetitionStructFromTokens)

  /** [[gopherRepetitionStruct]] over an ALREADY-BOUND token array. */
  def gopherRepetitionStructFromTokens(t: Column): Column =
    bound(shinglesFromTokens(t, 2)) { g2 =>
      bound(shinglesFromTokens(t, 3)) { g3 =>
        val topWord = rq4(maxMultiplicity(t), size(t))
        val top2 = when(size(g2) === 0, 0.0)
          .otherwise(rq4(maxMultiplicity(g2), size(g2)))
        val dup3 = when(size(g3) === 0, 0.0)
          .otherwise(rq4(size(g3) - size(array_distinct(g3)), size(g3)))
        struct(
          size(t).cast("long").as("n_words"),
          topWord.as("top_word_frac"),
          top2.as("top_2gram_frac"),
          dup3.as("dup_3gram_frac"),
          (topWord <= 0.15 && top2 <= 0.08 && dup3 <= 0.01).as("keep"))
      }
    }

  // ---- JVM twin of the gate booleans (round-12 optimization) ----
  //
  // The HOF struct forms above are the oracle-replayable definitions the
  // per-field cards (q187/q188) keep. For the CURATION GATE — where only
  // the keep booleans matter — they have two measured costs:
  //  1. higher-order functions are interpreted (CodegenFallback), and the
  //     array_sort + fold chain allocates per element (the minhash
  //     primitive-loop lesson: ~5-10× slower than one JVM call per doc);
  //  2. a deterministic gate filter is pushed below the tSpread
  //     round-robin repartition into the single-task scan stage
  //     (guide §4.4's filter-duplication cousin) — q317/q319 measured the
  //     whole gate running on ONE core (3.2 s single-task stages).
  // The UDFs below replicate the keep semantics EXACTLY (same trim/split,
  // same floor((x*10000)+0.5)/10000 double grid, multiplicity instead of
  // sort order — the mode count is order-independent) and are marked
  // nondeterministic so the optimizer neither duplicates them nor pushes
  // the filter below the spread (guide §4.4). Equality with the HOF
  // forms is pinned in TextSpec and by the 3-sf oracle gate.

  private lazy val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private lazy val AlphaPattern = java.util.regex.Pattern.compile("[A-Za-z]")

  /** `split(trim(text), "\\s+")` exactly: Spark's trim strips 0x20 only;
    * split keeps a leading empty token when the trimmed text starts with
    * non-space whitespace. */
  private def trimSplit(text: String): Array[String] = {
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    WsPattern.split(text.substring(b, e), -1)
  }

  /** Mode multiplicity — order-independent, so a hash count replays
    * [[maxMultiplicity]]'s sorted-run fold exactly. */
  private def modeCount(arr: Iterator[String]): Long = {
    val m = new java.util.HashMap[String, Long]()
    var best = 0L
    arr.foreach { x =>
      val c = m.merge(x, 1L, (a, b) => a + b)
      if (c > best) best = c
    }
    best
  }

  /** [[rq4]]'s double grid in JVM arithmetic (identical IEEE ops). */
  private def rq4d(num: Long, den: Long): Double =
    math.floor(num * 10000L / den.toDouble + 0.5d) / 10000.0d

  private def gopherGatesEval(text: String): (Boolean, Boolean) = {
    val t = trimSplit(text)
    val n = t.length.toLong
    // repetition keep
    val topW = rq4d(modeCount(t.iterator), n)
    var repKeep = topW <= 0.15
    if (repKeep && t.length >= 2) {
      val g2 = (0 until t.length - 1).iterator.map(i => t(i) + " " + t(i + 1))
      repKeep = rq4d(modeCount(g2), t.length - 1L) <= 0.08
    }
    if (repKeep && t.length >= 3) {
      val g3n = t.length - 2L
      val seen = new java.util.HashSet[String]()
      var dups = 0L
      var i = 0
      while (i < t.length - 2) {
        if (!seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))) dups += 1
        i += 1
      }
      repKeep = rq4d(dups, g3n) <= 0.01
    }
    // quality keep
    var qualKeep = n >= 30L && n <= 100000L
    if (qualKeep) {
      var chars = 0L
      t.foreach(tok => chars += tok.codePointCount(0, tok.length))
      val meanLen = rq4d(chars, n)
      qualKeep = meanLen >= 3.0 && meanLen <= 10.0
    }
    if (qualKeep) {
      var alpha = 0L
      t.foreach(tok => if (AlphaPattern.matcher(tok).find()) alpha += 1)
      qualKeep = rq4d(alpha, n) >= 0.8
    }
    if (qualKeep) {
      val lowered = new java.util.HashSet[String]()
      t.foreach(tok => lowered.add(tok.toLowerCase(java.util.Locale.ROOT)))
      var hits = 0
      GopherStopwords.foreach(w => if (lowered.contains(w)) hits += 1)
      qualKeep = hits >= 2
    }
    (repKeep, qualKeep)
  }

  /** Both Gopher gates' keep flags (repetition AND quality) as one
    * nondeterministic JVM call per document — the curation-scan form
    * (q317/q319). NULL text gates NULL (filter drops it), like the HOF
    * struct forms. */
  lazy val gopherGateKeepFastUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) None
      else { val (r, q) = gopherGatesEval(text); Some(r && q) }
    }.asNondeterministic()

  /** BOTH gate booleans in one pass — struct(rep_keep, qual_keep) — for
    * funnels that report the flags separately (q284). */
  lazy val gopherGatesUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) None else Some(gopherGatesEval(text))
    }.asNondeterministic()

  /** DataFrame form of [[gopherRepetitionStruct]] over non-blank rows:
    * (idCol, n_words, top_word_frac, top_2gram_frac, dup_3gram_frac,
    * keep). */
  def gopherRepetition(df: org.apache.spark.sql.DataFrame, textCol: String,
                       idCol: String): org.apache.spark.sql.DataFrame =
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), gopherRepetitionStruct(col(textCol)).as("_g"))
      .select(col(idCol), col("_g.n_words"), col("_g.top_word_frac"),
        col("_g.top_2gram_frac"), col("_g.dup_3gram_frac"), col("_g.keep"))

  /** The stopwords whose presence Gopher's quality rules require (≥ 2
    * distinct hits keeps the document). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  /** Gopher-style document quality rules: word count bounds, mean word
    * length bounds, alphabetic-word fraction, and required-stopword
    * hits — the non-repetition half of the rule set. The ONE definition
    * shared by the DataFrame API ([[gopherQuality]]) and the SQL
    * surface (`gopher_quality(text)`); same zero-shuffle HOF projection
    * shape as [[gopherRepetitionStruct]]. Stopwords match against
    * LOWERCASED tokens (sentence-initial 'The'/'And' count — the
    * convention every other token path here uses).
    *
    * @return struct(n_words, mean_word_len, alpha_word_frac, stop_hits,
    *         keep)
    */
  def gopherQualityStruct(text: Column, minWords: Long = 30): Column =
    bound(split(trim(text), "\\s+"))(t =>
      gopherQualityStructFromTokens(t, minWords))

  /** [[gopherQualityStruct]] over an ALREADY-BOUND token array. */
  def gopherQualityStructFromTokens(t: Column, minWords: Long = 30): Column = {
    val stopHits = bound(transform(t, x => lower(x))) { lt =>
      GopherStopwords
        .map(w => when(array_contains(lt, w), 1).otherwise(0))
        .reduce(_ + _)
    }
    // total non-space chars / words; tokens are whitespace-split so
    // concatenating them drops exactly the separators
    val meanLen = rq4(length(concat_ws("", t)), size(t))
    val alphaFrac = rq4(size(filter(t, x => x.rlike("[A-Za-z]"))), size(t))
    struct(
      size(t).cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_word_frac"),
      stopHits.cast("long").as("stop_hits"),
      (size(t).cast("long") >= minWords &&
        size(t).cast("long") <= 100000L &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        alphaFrac >= 0.8 && stopHits >= 2).as("keep"))
  }

  /** The kept-words array of an adjacent-duplicate-word collapse over
    * a whitespace-token array: drops every token equal to its
    * predecessor (the "the the" stutter fix). The i = 0 arm is a CASE
    * (not OR) so the 1-based element_at(ws, 0) never evaluates under
    * ANSI. Pure map-side higher-order filter — zero exchanges. */
  def stutterKept(ws: Column): Column =
    filter(ws, (x, i) =>
      when(i === lit(0), lit(true)).otherwise(x =!= element_at(ws, i)))

  /** [[stutterKept]] over raw text, re-joined with single spaces — the
    * one definition the Column API, the `clean_stutter` SQL function,
    * and streaming plans share (q252/q256's cleaning stage). */
  def stutterCollapse(text: Column): Column =
    array_join(stutterKept(split(trim(text), "\\s+")), " ")

  /** DataFrame form of [[gopherQualityStruct]] over non-blank rows:
    * (idCol, n_words, mean_word_len, alpha_word_frac, stop_hits,
    * keep). */
  def gopherQuality(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, minWords: Long = 30): org.apache.spark.sql.DataFrame =
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), gopherQualityStruct(col(textCol), minWords).as("_g"))
      .select(col(idCol), col("_g.n_words"), col("_g.mean_word_len"),
        col("_g.alpha_word_frac"), col("_g.stop_hits"), col("_g.keep"))
}
