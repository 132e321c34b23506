package graft

import graft.dedup.Dedup
import graft.dims.{CoalesceMerge, Scd2}
import graft.graph.Graph
import graft.operators.{GlobalOrder, Skyline}
import graft.enrich.{EmbedStage, Geocode}
import graft.multimodal.Multimodal
import graft.parse.Parsers
import graft.pipeline.{Pipeline, SyntheticStaging}
import graft.plans.{AsOfJoin, RangeJoin, SpatialJoin}
import graft.serve.Serving
import graft.streaming.StreamingIngest
import graft.text.TextFunctions
import graft.vector.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB oracle for every SQL-expressible one.
  *
  * Determinism rules (oracle parity):
  *  - never `current_date()`/`now()` — "today" is always a pinned literal;
  *  - every query ends in a total-order `orderBy` mirrored in the SQL;
  *  - doubles rounded (2-4 dp) on both sides;
  *  - timestamps compared as `unix_micros` (Spark) == `epoch_us` (DuckDB)
  *    so ns-vs-us parquet resolution can't skew ordering or values.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Scan feeding a CPU-dense narrow stage (regex, shingle/minhash
    * hashing, embedding): the bench files are single-row-group parquet,
    * so the scan — and every map-side operator fused above the first
    * shuffle — would otherwise run as ONE task on one core. An explicit
    * round-robin repartition to the session's parallelism restores the
    * cluster-shaped plan (at production scale inputs arrive as thousands
    * of splits and the same repartition is a cheap rebalance). */
  private def tSpread(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** Build + persist the demo HNSW graph index over the spread
    * embeddings table — the shared shape of every at-rest ANN query.
    * r13: the RAW table's count (parquet row-group metadata — no data
    * read) feeds writeGraphIndex's autoSplit via knownCount, so index
    * sizing no longer pays a full count pass that executes the tSpread
    * repartition first; same n → identical split and graphs. */
  private def writeEmbGraphIndex(s: SparkSession, dir: String,
                                 path: String): Unit =
    graft.vector.HnswIndex.writeGraphIndex(
      tSpread(s, dir, "embeddings"), "embedding", "vec_id", path,
      graft.vector.HnswIndex.Params(m = 8, efConstruction = 128),
      knownCount = t(s, dir, "embeddings").count())

  /** Driver-side fetch of the demo query vector (vec_id=0). Reads the RAW
    * table so the `vec_id = 0` predicate is pushed to the parquet scan —
    * fetching one row must not pay the `tSpread` repartition shuffle the
    * scoring pass wants. */
  private def queryVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Serving.eventsByDate(Tables.events(spark, "/root/testdata/sf0.001"),
      date = "2024-01-05", today = "2024-01-01")

  // pinned "today" for all TTL/date math
  private val Today = "2024-01-01"

  /** The IVF probe replayed end-to-end in DuckDB SQL: hash-spread
    * centroid pick, nearest-centroid assignment, 4-of-16 cell routing,
    * exact top-20 within the probed cells. Shared by q39 (IvfIndex
    * direct), q178 (RoutedHnsw direct — with exhaustive efSearch the
    * in-cell graph walk is exact, so routed == IVF row for row) and
    * q179 (transparent planning onto a registered routed index — the
    * oracle matches ONLY IF the rewrite fired: brute force returns the
    * global top-20, which differs from the 4-cell probe). */
  private val IvfProbeOracleSql: String =
    """WITH cents AS (
      | SELECT row_number() OVER (ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
      |   - 1 AS cid, embedding AS ce
      | FROM embeddings
      | QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id) <= 16),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |assign AS (SELECT e.vec_id, e.embedding, c.cid,
      |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) DESC,
      |     c.cid) AS rn
      | FROM embeddings e, cents c),
      |cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
      |probe AS (SELECT c.cid FROM cents c, q
      | ORDER BY list_cosine_similarity(CAST(c.ce AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, c.cid
      | LIMIT 4)
      |SELECT cl.vec_id,
      | CAST(floor(list_cosine_similarity(CAST(cl.embedding AS DOUBLE[]),
      |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
      |FROM cells cl, q WHERE cl.cid IN (SELECT cid FROM probe)
      |ORDER BY list_cosine_similarity(CAST(cl.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC,
      | cl.vec_id
      |LIMIT 20""".stripMargin

  /** Engine-agnostic k-decimal quantization of an EXACT integer ratio
    * `num/den`: scale in exact bigint arithmetic, take ONE double
    * division (identical IEEE result in both engines), then floor.
    * `round()` is NOT engine-agnostic here: an exact ratio like
    * 565/100000 is a true decimal tie at 4dp, and Spark (decimal
    * shortest-repr, HALF_UP) and DuckDB (binary double) resolve ties in
    * opposite directions — caught by the sf0.001/sf0.1 gates on
    * q52/q150. SQL twin: `floor(num * 10^k / den + 0.5) / 10^k`. */
  private def ratioQ(num: Column, den: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(num * lit(scale) / den + lit(0.5d)) / lit(scale.toDouble)
  }

  /** Total .parquet bytes under a directory — the at-rest size the
    * q185/q186/q190 store-ratio gates compare. */
  private def parquetDirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(dir))
  }

  /** Engine-agnostic quantization of an already-computed double that is
    * IDENTICAL in both engines (same single IEEE expression, e.g.
    * percent_rank): floor on the same bits agrees everywhere, while
    * round() diverges on decimal-tie shortest-reprs. SQL twin:
    * `floor(x * 10^k + 0.5) / 10^k`. */
  private def floorQ(c: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(c * lit(scale.toDouble) + lit(0.5d)) / lit(scale.toDouble)
  }

  /** Exact integer cents of a ~2dp money double (q105's idiom):
    * `floor(x*100 + 0.5)` recovers the exact cents integer in both
    * engines. Sums/averages over cents are then exact bigint math. */
  private def cents(c: Column): Column =
    floor(c * lit(100d) + lit(0.5d)).cast("bigint")

  /** Integer-grid twin of [[ratioQ]] (the round-10 UNIVERSAL
    * output-typing contract: no float/fractional-decimal output
    * columns anywhere): the quantized ratio emitted AS the BIGINT
    * k-decimal fixed-point value instead of dividing back to a double.
    * SQL twin: `CAST(floor(num * 10^k / den + 0.5) AS BIGINT)`. */
  private def ratioBp(num: Column, den: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(num * lit(scale) / den + lit(0.5d)).cast("bigint")
  }

  /** Integer-grid twin of [[floorQ]] — the k-decimal grid of an
    * engine-identical double, emitted as BIGINT. SQL twin:
    * `CAST(floor(x * 10^k + 0.5) AS BIGINT)`. */
  private def floorBp(c: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(c * lit(scale.toDouble) + lit(0.5d)).cast("bigint")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.4, §2.5) ----
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // l_quantity is integer-valued: the sum is an exact bigint
          sum(col("l_quantity")).cast("bigint").as("sum_qty"),
          // money lands as exact integer CENTS (universal typing
          // contract: no float output anywhere); the discounted price
          // quantizes per row AFTER the same IEEE product both engines
          // compute, so the cents are engine-identical
          sum(cents(col("l_extendedprice"))).as("sum_base_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price_cents"),
          ratioBp(sum(col("l_quantity").cast("bigint")), count(lit(1)), 4)
            .as("avg_qty_bp"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_top_customers" -> ((s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(10)
    }),

    "q03_region_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_revenue_cents"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "q04_inactive_customers" -> ((s, d) => {
      // anti-join: customers with no high-value order (A4/J3 existence
      // check shape — left_anti replaces the reference's per-row
      // SELECT-then-INSERT exists test)
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("n_name"))
    }),

    "q05_parts_in_lineitem" -> ((s, d) => {
      t(s, d, "part").filter(col("p_size") > 30)
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          // money avg: exact integer cents end to end (a 10-part group
          // with a cents-sum ending in 5 is a true 3rd-decimal tie that
          // round() resolves differently per engine)
          ratioBp(sum(cents(col("p_retailprice"))), count(lit(1)), 0)
            .as("avg_price_cents"))
        .orderBy(col("p_brand"))
    }),

    // ---- dedup by natural key (D3) ----
    "q06_dedup_natural_key" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("kept_event_id"),
          unix_micros(col("ts")).as("kept_us"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- windows (O1) ----
    "q07_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("running_cents",
          sum(cents(col("value")))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("rn"),
          col("running_cents"))
        .orderBy(col("event_id"))
    }),

    "q08_sessionize" -> ((s, d) =>
      Serving.sessionize(Tables.events(s, d), gapMinutes = 30)),

    // ---- aggregations (A-agg3) ----
    "q09_per_date_counts" -> ((s, d) => Serving.perDateCounts(Tables.events(s, d))),

    // ---- TTL tiers (C5) ----
    "q10_ttl_tiers" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("ttl_s", Parsers.ttlSeconds(to_date(col("ts")), to_date(lit(Today))))
        .groupBy(col("ttl_s")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("ttl_s"))
    }),

    // ---- bucketing (P8) ----
    "q11_price_bucket" -> ((s, d) => {
      t(s, d, "orders")
        .withColumn("bucket", Parsers.capacityBucket(col("o_totalprice") / 1000.0))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_price_cents"))
        .orderBy(col("bucket"))
    }),

    // ---- upsert merge with COALESCE rules (A2/A1, D3) ----
    "q12_merge_coalesce" -> ((s, d) => {
      val c = t(s, d, "customer")
      val target = c.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"))
      val source = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name").as("name"),
          when(col("c_custkey") % 4 === 0, lit(null).cast("double"))
            .otherwise(round(col("c_acctbal") + 100, 2)).as("acctbal"),
          lit(null).cast("string").as("mktsegment"))
      CoalesceMerge.upsert(target, source, Seq("c_custkey"))
        .withColumn("acctbal_cents", cents(col("acctbal")))
        .drop("acctbal")
        .orderBy(col("c_custkey"))
    }),

    // ---- distinct via explode (D2) ----
    "q13_distinct_tokens" -> ((s, d) => {
      t(s, d, "part")
        .select(explode(split(col("p_type"), " ")).as("word"))
        .distinct().orderBy(col("word"))
    }),

    // ---- S3-key date-extract regex cascade (P9) ----
    "q14_key_date_extract" -> ((s, d) => {
      val o = t(s, d, "orders")
      val key = when(col("o_orderkey") % 3 === 0,
          concat(lit("raw_events/"), date_format(col("o_orderdate"), "yyyy/MM/dd"),
            lit("/event_data_x.json")))
        .when(col("o_orderkey") % 3 === 1,
          concat(lit("other/path/event_data_"),
            date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("_20250101_000000.json")))
        .otherwise(concat(lit("p/file_"), date_format(col("o_orderdate"), "yyyyMMdd"),
          lit("_120000.json")))
      o.withColumn("s3_key", key)
        .withColumn("extracted_date", Parsers.extractDateFromKey(col("s3_key")))
        .select(col("o_orderkey"), col("s3_key"), col("extracted_date"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- embedding-text composition (M2/M3 + P8) ----
    "q15_embed_text_compose" -> ((s, d) => {
      t(s, d, "part")
        .withColumn("embed_text", Parsers.composeEmbedText(Seq(
          "" -> col("p_name"),
          "Type" -> col("p_type"),
          "Brand" -> col("p_brand"),
          "Size" -> Parsers.capacityBucket(col("p_size") * 10))))
        .select(col("p_partkey"), col("embed_text"))
        .orderBy(col("p_partkey"))
    }),

    // ---- serving queries (J4/J6/O1/A-agg4/C5) ----
    "q16_serve_events_by_date" -> ((s, d) =>
      Serving.eventsByDate(Tables.eventsBetween(s, d, "2024-01-05", "2024-01-06"),
        date = "2024-01-05", today = Today)),

    "q17_user_day_digest" -> ((s, d) =>
      Serving.userDayDigest(Tables.eventsBetween(s, d, "2024-01-10", "2024-01-11"),
        date = "2024-01-10")),

    // ---- vector search (M6/O3) ----
    "q18_cosine_topk" -> ((s, d) => {
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      VectorFunctions.topK(emb, "embedding", "vec_id", q, 20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- text analysis ----
    "q19_text_stats" -> ((s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          TextFunctions.bpeTokenCount(col("text")).cast("bigint").as("n_bpe_tokens"),
          TextFunctions.punctCount(col("text")).cast("bigint").as("n_punct"),
          TextFunctions.stopwordCount(col("text")).cast("bigint").as("n_stop"),
          floorBp(TextFunctions.qualityScore(col("text")), 4).as("quality_bp"))
        .orderBy(col("doc_id"))
    }),

    "q20_lang_id" -> ((s, d) => {
      tSpread(s, d, "documents")
        .withColumn("predicted", TextFunctions.langId(col("text")))
        .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // ---- dedup suite ----
    "q21_dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("survivor_id"))
    }),

    "q22_ngram_jaccard" -> ((s, d) => {
      // maxShingleFreq caps the per-shingle fan-out (skew guard); the
      // oracle SQL applies the identical cap
      Dedup.ngramJaccardPairs(tSpread(s, d, "documents"), "text", "doc_id",
        n = 3, threshold = 0.2, maxShingleFreq = 1000)
        .select(col("id_a"), col("id_b"),
          floorBp(col("jaccard"), 4).as("jaccard_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup sketches (hash primitives chosen SQL-replayable) ----
    "q23_minhash_clusters" -> ((s, d) => {
      Dedup.minhashClustersTransitive(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("id"))
    }),

    "q24_simhash" -> ((s, d) => {
      Dedup.simhash(tSpread(s, d, "documents"), "text", "doc_id")
        .orderBy(col("id"))
    }),

    "q25_fingerprint" -> ((s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    "q26_embed_documents" -> ((s, d) => {
      val emb = EmbedStage.embedColumn(tSpread(s, d, "documents"), "text", "emb")
      emb.select(col("doc_id"), size(col("emb")).cast("bigint").as("dim"),
          floorBp(element_at(col("emb"), 1).cast("double"), 4).as("c0_bp"))
        .orderBy(col("doc_id"))
    }),

    "q27_ann_topk" -> ((s, d) => {
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      VectorFunctions.annTopK(emb, "embedding", "vec_id", q, 20, dim = q.length,
        nPlanes = 6)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- full loader pipeline end-to-end (§3.3: P10→A1→A2→A3→J2/J3→A4) ----
    "q28_pipeline_e2e" -> ((s, d) => {
      val staged = SyntheticStaging.fromOrders(s, d)
      val w = Pipeline.run(s, staged, Pipeline.emptyWarehouse(s), today = Today)
      w.events.select(col("wwoz_event_href"), col("artist_name"),
          col("venue_name"), col("description"),
          unix_micros(col("performance_time")).as("perf_us"))
        .orderBy(col("wwoz_event_href"))
    }),

    // ---- rollup (free from Spark SQL; §2.5 note) ----
    "q29_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_revenue_cents"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // ---- set operations (§2.7) ----
    "q30_setops" -> ((s, d) => {
      // each leg is a raw-range-pruned scan (predicate reaches parquet)
      def users(tpe: String, date: String, next: String) =
        Tables.eventsBetween(s, d, date, next)
          .filter(col("event_type") === tpe)
          .select(col("user_id")).distinct()
      users("purchase", "2024-01-05", "2024-01-06")
        .except(users("error", "2024-01-05", "2024-01-06"))
        .union(users("purchase", "2024-01-05", "2024-01-06")
          .intersect(users("signup", "2024-01-06", "2024-01-07")))
        .distinct().orderBy(col("user_id"))
    }),

    // ---- as-of join (point-in-time enrichment) ----
    "q31_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          unix_micros(col("ts")).as("v_us"))
      AsOfJoin.join(purchases, views, "user_id", "p_us", "v_us", "v_id")
        .select(col("p_id"), col("p_us"), col("v_id"), col("v_us"))
        .orderBy(col("p_id"))
    }),

    // ---- self-join pairs (J3 graph shape) ----
    "q32_customer_pairs" -> ((s, d) => {
      val c = t(s, d, "customer")
      val a = c.select(col("c_custkey").as("a_key"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("b_key"),
        col("c_nationkey").as("nk"))
      a.join(b, Seq("nk")).filter(col("a_key") < col("b_key"))
        .join(broadcast(t(s, d, "nation")), col("nk") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_name"))
    }),

    // ---- tumbling-window aggregation (streaming-shape, batch-run) ----
    "q33_hourly_windows" -> ((s, d) => {
      StreamingIngest.windowedCounts(Tables.events(s, d))
        .orderBy(col("window_start_us"), col("event_type"))
    }),

    // ---- geocode enrichment (J5) ----
    "q34_geocode" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      val addr = when(pmod(col("s_suppkey"), lit(10)) === 0, lit(""))
        .when(pmod(col("s_suppkey"), lit(10)) === 1,
          concat(col("s_name"), lit(".Streaming")))
        .otherwise(concat(col("s_name"), lit(" St")))
      val base = sup.select(col("s_suppkey"), addr.as("full_address"))
        .withColumn("latitude", lit(null).cast("double"))
        .withColumn("longitude", lit(null).cast("double"))
        .withColumn("last_geocoded", lit(null).cast("timestamp"))
      val cache = sup.select(concat(col("s_name"), lit(" St")).as("address"),
        round(lit(29.9511) + col("s_suppkey") * 0.0001, 6).as("lat"),
        round(lit(-90.0715) - col("s_suppkey") * 0.0001, 6).as("lon"))
      Geocode.enrich(base, cache, "full_address", to_date(lit(Today)))
        .select(col("s_suppkey"), col("full_address"),
          // microdegrees: the 6dp geocode grid as exact BIGINT
          floorBp(col("latitude"), 6).as("lat_ud"),
          floorBp(col("longitude"), 6).as("lon_ud"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- validation quarantine split (P10/A7) ----
    "q35_quarantine" -> ((s, d) => {
      val staged = t(s, d, "part").select(
        struct(when(col("p_size") < 5, lit("")).otherwise(col("p_name"))
          .as("name")).as("artist_data"),
        struct(lit("V").as("name")).as("venue_data"),
        struct(lit("2024-01-01").as("event_date")).as("event_data"))
      val (ok, bad) = graft.ingest.StagingReader.validateSplit(staged)
      ok.agg(count(lit(1)).as("n")).withColumn("status", lit("valid"))
        .unionByName(
          bad.agg(count(lit(1)).as("n")).withColumn("status", lit("quarantined")))
        .select(col("status"), col("n")).orderBy(col("status"))
    }),

    // ---- CUBE over order status × priority ----
    "q43_cube" -> ((s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_price_cents"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // ---- embedding-cosine near-dup pairs, label-blocked ----
    "q42_embedding_neardup" -> ((s, d) => {
      Dedup.embeddingNearDupPairs(tSpread(s, d, "embeddings"), "embedding", "vec_id",
        col("label"), threshold = 0.3)
        .select(col("id_a"), col("id_b"), floorBp(col("cos"), 4).as("cos_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact percentiles per group (free from Spark SQL) ----
    "q41_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(floorBp(expr("percentile(value, 0.5)"), 2).as("p50_cents"),
          floorBp(expr("percentile(value, 0.95)"), 2).as("p95_cents"),
          // mean over exact per-row cents: no summation-order float luck
          ratioBp(sum(cents(col("value"))), count(lit(1)), 0)
            .as("avg_value_cents"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // ---- SQL surface: spark.sql over registered views (TPC-H Q3 shape) ----
    "q40_sql_surface" -> ((s, d) => {
      Seq("customer", "orders", "lineitem").foreach(n =>
        t(s, d, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT o_orderkey,
          | sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
          |   AS BIGINT)) AS revenue_cents,
          | date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
          |FROM customer
          | JOIN orders ON c_custkey = o_custkey
          | JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          | AND o_orderdate < timestamp '1998-03-15'
          | AND l_shipdate > timestamp '1998-03-15'
          |GROUP BY o_orderkey, o_orderdate
          |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin)
    }),

    // ---- IVF ANN (closed-form centroid pick → SQL-replayable) ----
    "q39_ivf_ann" -> ((s, d) => {
      import graft.vector.IvfIndex
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      // centroid pick sorts the RAW scan (its orderBy plans its own
      // exchange; prepending a repartition would just double-shuffle)
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding", "vec_id", 16)
      val index = IvfIndex.build(emb, "embedding", "vec_id", cs)
      IvfIndex.search(index, "embedding", "vec_id", cs, q, k = 20, nProbe = 4)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- per-group top-k via custom TypedImperativeAggregate ----
    "q38_topk_per_group" -> ((s, d) => {
      import graft.vector.TopKAggregate.topk_by_score
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      emb.withColumn("s", VectorFunctions.cosine_sim(col("embedding"), lit(q)))
        .groupBy(col("label"))
        .agg(topk_by_score(col("s"), col("vec_id"), 5).as("top"))
        .select(col("label"), posexplode(col("top")))
        .select(col("label"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("vec_id"),
          floorBp(col("col.score"), 4).as("score_bp"))
        .orderBy(col("label"), col("rank"))
    }),

    // ---- date fan-out + TTL + per-date counts (C1/C5/A-agg3 join) ----
    "q37_date_fanout" -> ((s, d) => {
      val dates = s.range(1).select(explode(sequence(
        to_date(lit("2024-01-01")),
        date_add(to_date(lit("2024-01-01")), 30))).as("date"))
      val counts = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n_events"))
      dates.join(counts, Seq("date"), "left")
        .select(date_format(col("date"), "yyyy-MM-dd").as("event_date"),
          Parsers.ttlSeconds(col("date"), to_date(lit(Today))).as("ttl_s"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("event_date"))
    }),

    // ---- multimodal columns (deterministic stub decode → SQL oracle) ----
    "q36_multimodal" -> ((s, d) => {
      // maxSide 12 exercises the REAL image path: P6 payloads decode,
      // nearest-neighbor resize, and featurize from actual pixels (f0 =
      // mean red / 255); audio/video rows keep the declared stub
      val media = Multimodal.mediaFromDocuments(tSpread(s, d, "documents"))
      val feat = Multimodal.extractFeatures(Multimodal.resize(media, 12))
      feat.select(col("doc_id"), col("media_type"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          length(col("content")).cast("bigint").as("n_bytes"),
          size(col("features")).cast("bigint").as("feat_dim"),
          floorBp(element_at(col("features"), 1).cast("double"), 4)
            .as("f0_bp"))
        .orderBy(col("doc_id"))
    }),

    // ---- interval join (J6 generalized to pairwise range form) ----
    "q44_range_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val l = e.select(col("user_id"), col("event_id").as("l_id"),
        col("ts").as("l_ts"))
      val r = e.select(col("user_id"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      RangeJoin.within(l, r, "user_id", "l_ts", "r_ts", windowSec = 300)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // ---- deterministic stratified sampling (per-class rates) ----
    "q45_stratified_sample" -> ((s, d) => {
      // md5-derived bucket (not rand()): reproducible across runs/
      // engines, and at 100 TB the sample is recomputable from the key
      // alone — no sample-membership table to persist
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("bigint") % 100).as("bucket")
      val rate = when(col("lang") === "en", lit(10)).otherwise(lit(50))
      tSpread(s, d, "documents")
        .select(col("doc_id"), col("lang"), bucket, rate.as("_rate"))
        .filter(col("bucket") < col("_rate"))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4/Gopher-style quality gate with reject reasons ----
    "q46_quality_gate" -> ((s, d) => {
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
    }),

    // ---- forward as-of join (next purchase at-or-after each click) ----
    "q47_asof_forward" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          unix_micros(col("ts")).as("c_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      AsOfJoin.join(clicks, purchases, "user_id", "c_us", "p_us", "p_id",
        direction = "forward")
        .select(col("c_id"), col("c_us"), col("p_id"), col("p_us"))
        .orderBy(col("c_id"))
    }),

    // ---- pure-SQL text analysis via the engine's registered functions ----
    "q48_sql_text_surface" -> ((s, d) => {
      GraftFunctions.register(s)
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
    }),

    // ---- HLL distinct sketch vs exact, per language ----
    "q49_hll_distinct" -> ((s, d) => {
      import graft.sketch.HllSketch.hll_distinct
      val toks = tSpread(s, d, "documents")
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      toks.groupBy(col("lang"))
        .agg(hll_distinct(col("token"), 9).as("est_tokens"),
          countDistinct(col("token")).as("exact_tokens"))
        .orderBy(col("lang"))
    }),

    // ---- optimizer-rewritten interval join: the user writes the NATURAL
    // theta predicate; RangeJoinRule plans the bucketed equi-join ----
    "q50_range_join_rule" -> ((s, d) => {
      if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[
          graft.plans.RangeJoinRule]))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ new graft.plans.RangeJoinRule
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val l = e.select(col("user_id").as("k"), col("event_id").as("l_id"),
        col("us").as("l_us"))
      val r = e.select(col("user_id").as("k"), col("event_id").as("r_id"),
        col("us").as("r_us"))
      l.join(r, l("k") === r("k") &&
          r("r_us") > l("l_us") && r("r_us") <= l("l_us") + 300000000L)
        .groupBy(l("k").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // ---- boilerplate detector: n-grams shared across many documents ----
    "q51_boilerplate_ngrams" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("_toks"))
      docs.select(col("doc_id"),
          explode(array_distinct(
            TextFunctions.shinglesFromTokens(col("_toks"), 5))).as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("ngram"))
        .limit(20)
    }),

    // ---- skew-salted join (manual AQE-skew-join form, row-identical) ----
    "q53_salted_join" -> ((s, d) => {
      import graft.plans.SaltedJoin
      val o = t(s, d, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      SaltedJoin.join(o, c, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- bloom-pruned semi-join (explicit runtime-filter pattern) ----
    "q54_bloom_semijoin" -> ((s, d) => {
      import graft.sketch.BloomPrune
      val small = t(s, d, "part").filter(col("p_size") === 1)
      val big = t(s, d, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
      BloomPrune.semiJoin(big, small.select(col("p_partkey")), "p_partkey")
        .groupBy(col("p_partkey"))
        .agg(sum(col("l_quantity")).cast("bigint").as("total_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("p_partkey"))
    }),

    // ---- per-label embedding centroids (long format: one row per dim) ----
    "q52_label_centroids" -> ((s, d) => {
      // engine-agnostic quantization (same trick as q105): per-element
      // fixed-point at 4dp via floor(x*1e4+0.5), then EXACT bigint sums —
      // avg-then-round on raw floats puts near-tie centroids on opposite
      // sides of the rounding boundary depending on accumulation order
      // (caught by the sf0.001 gate; sf0.01 happened to pass)
      val q = floor(col("col").cast("double") * lit(10000d) + lit(0.5d))
        .cast("bigint")
      tSpread(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).cast("bigint").as("dim"))
        .agg(floor(sum(q) / count(lit(1)) + lit(0.5d)).cast("bigint")
            .as("centroid_bp"),
          count(lit(1)).as("n_vecs"))
        .orderBy(col("label"), col("dim"))
    }),

    // ---- PII scrub: detect + mask emails/phones/IPs (synthetic contact
    // strings derived deterministically from the customer table) ----
    "q55_pii_redact" -> ((s, d) => {
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
    }),

    // ---- Gopher-style within-document repetition stats ----
    "q56_doc_repetition" -> ((s, d) => {
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
    }),

    // ---- sequence packing: concat docs into 2048-token training bins,
    // per source partition (parallel, deterministic — no global sort) ----
    "q57_sequence_pack" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
        .withColumn("pack_id",
          floor((sum("n_tokens").over(w) - col("n_tokens")) / lit(2048L)))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
        .orderBy(col("source"), col("pack_id"))
    }),

    // ---- train/eval contamination: train docs sharing a 4-gram with the
    // held-out split (doc_id % 20 == 0) ----
    "q58_contamination" -> ((s, d) => {
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
    }),

    // ---- global vocabulary: top terms by collection frequency ----
    "q59_vocab_topk" -> ((s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(100)
    }),

    // ---- per-doc top TF-IDF terms (rank by tf desc, df asc, term) ----
    "q60_tfidf_terms" -> ((s, d) => {
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
    }),

    // ---- simhash near-dup pairs via pigeonhole band blocking ----
    "q61_simhash_pairs" -> ((s, d) => {
      Dedup.simhashHammingPairs(tSpread(s, d, "documents"), "text", "doc_id",
        maxHamming = 3, nBands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- as-of join through the CUSTOM PHYSICAL OPERATOR (logical node
    // + strategy + merge exec) — same semantics as q31's compositional
    // window form, planned as one shuffle+sort per side ----
    "q62_asof_physical" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val views = {
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_id"),
            unix_micros(col("ts")).as("v_us"))
        val w = Window.partitionBy(col("user_id"), col("v_us"))
          .orderBy(col("v_id").desc)
        v.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
      graft.plans.AsOfJoinPhysical.join(purchases, views,
          "user_id", "p_us", "v_us")
        .select(col("p_id"), col("p_us"), col("v_id"), col("v_us"))
        .orderBy(col("p_id"))
    }),

    // ---- mergeable histogram-quantile sketch (fixed 256-bin state per
    // group; the 100 TB alternative to q41's exact sort-based percentile)
    "q63_hist_quantile" -> ((s, d) => {
      import graft.sketch.HistQuantile.hist_quantile
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          floorBp(hist_quantile(col("value"), 0.5, 0.0, 500.0, 256), 4)
            .as("p50_est_bp"),
          floorBp(hist_quantile(col("value"), 0.95, 0.0, 500.0, 256), 4)
            .as("p95_est_bp"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // ---- source mixing: deterministic token-budget downsampling per
    // source (the data-mixture stage of a training pipeline) ----
    "q64_source_mixing" -> ((s, d) => {
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
    }),

    // ---- incremental dedup: new batch probed against the corpus's
    // MinHash-LSH index (the per-crawl stage; q23 is the one-off global
    // clustering) ----
    "q65_incremental_dedup" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.minhashIncrementalCandidates(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
          "text", "doc_id")
        .orderBy(col("id_new"), col("id_old"))
    }),

    // ---- Count-Min frequency sketch: per-source heavy-hitter estimates
    // from a fixed 4×32-counter state (est ≥ exact always; both shown) ----
    "q66_cms_heavy_hitters" -> ((s, d) => {
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
    }),

    // ---- two-level distinct rollup over STORED sketches: fine
    // (source, lang) HLL sketches merged per source — the 100 TB
    // pre-aggregation pattern (daily sketch tables → monthly rollup
    // without rescanning; register-max is associative, so the merged
    // estimate is bit-identical to a direct per-source sketch) ----
    "q67_sketch_rollup" -> ((s, d) => {
      import graft.sketch.HllSketch.{hll_merge_est, hll_sketch}
      val toks = tSpread(s, d, "documents")
        .select(col("source"), col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val fine = toks.groupBy("source", "lang")
        .agg(hll_sketch(col("token"), 9).as("sk"))
      val coarse = fine.groupBy("source")
        .agg(hll_merge_est(col("sk")).as("est_tokens"),
          count(lit(1)).as("n_langs"))
      val exact = toks.groupBy("source")
        .agg(countDistinct(col("token")).as("exact_tokens"))
      coarse.join(exact, "source")
        .select(col("source"), col("est_tokens"), col("n_langs"),
          col("exact_tokens"))
        .orderBy(col("source"))
    }),

    // ---- deterministic weighted reservoir sample (Efraimidis-Spirakis
    // priority sampling): md5-derived uniform u, priority ln(u)/w with
    // w = token count, top-5 per source. Through the k-bounded
    // TopKByScore aggregate, NOT a window — the shuffle carries ≤k rows
    // per group per partition instead of a full per-group sort ----
    "q68_reservoir_sample" -> ((s, d) => {
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
    }),

    // ---- domain frequency cap + training-shard assignment: at most 15
    // docs per source (deterministic md5 order — the anti-spam cap of a
    // crawl pipeline), survivors dealt to 8 shards by an independent
    // salted hash (the deterministic "global shuffle" of a training run:
    // shard membership is recomputable from the key alone) ----
    "q69_domain_cap_shards" -> ((s, d) => {
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
    }),

    // ---- Z-order (Morton) multi-dimensional clustering: a 2D box query
    // prefiltered by the z-range [z(lo corner), z(hi corner)] — sound
    // because the interleave is monotone per dimension (ZOrderSpec
    // proves the bound and the file-skipping effect of z-clustered
    // layout; here the oracle proves the prefilter never drops a row) ----
    "q70_zorder" -> ((s, d) => {
      import graft.store.ZOrder
      val e = Tables.events(s, d)
      val vb = ZOrder.bucketize(col("value"), 0.0, 640.0, 8)
      val ub = ZOrder.bucketize(col("user_id").cast("double"), 0.0, 2048.0, 8)
      // box: value ∈ [50,300], user_id ∈ [2,90] → bucket corners
      // (20,0)-(120,11) in closed form (floor(50/640·256) etc.); bounds
      // chosen non-empty at every sf (sf0.001 has user_id 0-14)
      val zLo = ZOrder.zvalueLong(8, Seq(20L, 0L))
      val zHi = ZOrder.zvalueLong(8, Seq(120L, 11L))
      e.withColumn("_zv", ZOrder.zvalue(8, vb, ub))
        .filter(col("_zv").between(zLo, zHi))
        .filter(col("value").between(50.0, 300.0) &&
          col("user_id").between(2, 90))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_value_cents"))
        .orderBy(col("event_type"))
    }),

    // ---- distinct-set overlap from SKETCHES ONLY (inclusion-exclusion
    // over stored HLL bytes): pairwise union/intersection estimates of
    // per-source token vocabularies without re-touching raw text — the
    // audience-overlap / cross-source-contamination screen at 100 TB ----
    "q71_hll_overlap" -> ((s, d) => {
      import graft.sketch.HllSketch.{hll_sketch, hll_union_est}
      val toks = tSpread(s, d, "documents")
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val sk = toks.groupBy("source").agg(hll_sketch(col("token"), 9).as("sk"))
      val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"))
      val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"))
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          // est(X) = unionEst(X, X): one scalar covers both shapes
          hll_union_est(col("sk_a"), col("sk_a")).as("est_a"),
          hll_union_est(col("sk_b"), col("sk_b")).as("est_b"),
          hll_union_est(col("sk_a"), col("sk_b")).as("est_union"))
        .withColumn("est_intersect",
          col("est_a") + col("est_b") - col("est_union"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- sliding-window token chunking (64-token window, stride 48):
    // the context-window / RAG chunker. ONE lineage: tokenize once,
    // explode a closed-form start list, slice — no self-join, no UDF ----
    "q72_chunk_windows" -> ((s, d) => {
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
    }),

    // ---- curriculum binning: global quality deciles. Exact ntile via
    // GlobalOrder (range-partitioned sort + broadcast offsets — never a
    // single-partition window); the approximate alternative at even
    // larger scale is hist_quantile cut-points (q63) + a bucket join ----
    "q73_curriculum_bins" -> ((s, d) => {
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
    }),

    // ---- KV cache sink round-trip THROUGH the DataSourceV2 connector
    // (S7 write w/ two-phase commit, S6/S8 read back): per-date payloads
    // flushed to the cache table, then served FROM it — the oracle sees
    // only the read-back, so a lost/duplicated task file would mismatch ----
    "q74_kv_sink_roundtrip" -> ((s, d) => {
      val payload = Tables.events(s, d)
        .select(to_date(col("ts")).as("date"))
        .groupBy(col("date")).agg(count(lit(1)).as("n_events"))
        .select(
          concat(lit("events:"), col("date").cast("string")).as("cache_key"),
          to_json(struct(col("date").cast("string").as("date"),
            col("n_events"))).as("payload_json"),
          Parsers.ttlSeconds(col("date"), lit(Today)).as("ttl_s"))
      val dir = java.nio.file.Files.createTempDirectory("graft-kv-q74").toString
      payload.write.format("graft.sources.KvCacheSink")
        .option("path", dir).mode("overwrite").save()
      s.read.format("graft.sources.KvCacheSink").option("path", dir).load()
        .select(col("cache_key"), col("ttl_s"),
          get_json_object(col("payload_json"), "$.n_events").cast("bigint")
            .as("n_events"))
        .orderBy(col("cache_key"))
    }),

    // ---- NATIVE session_window operator (vs q08's compositional
    // lag/sum form): one aggregation, no window-function pass; in
    // streaming the same expression runs over the session state store.
    // Spark semantics: window = [first, last+gap), so an event at
    // exactly last+gap opens a NEW session (oracle replays with >=) ----
    "q75_session_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("session_value_cents"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"), col("session_value_cents"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ---- pivot (conditional aggregation with explicit value list —
    // implicit pivot would need an extra distinct pass to discover
    // columns; at 100 TB the list is part of the job contract) ----
    "q76_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .select(to_date(col("ts")).cast("string").as("event_date"),
          col("event_type"))
        .groupBy(col("event_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("event_date"))
    }),

    // ---- vector math in PURE expression space (zip_with + aggregate
    // higher-order functions): the "builtins before UDFs" ladder's first
    // rung, checked against the codegen CosineSimilarity expression ----
    "q77_hof_vector" -> ((s, d) => {
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val dot = aggregate(
        zip_with(col("embedding"), lit(q), (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x)
      val na = aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x)
      val nq = lit(q.map(v => v.toDouble * v).sum)
      emb
        .withColumn("cos_hof",
          when(na === 0.0 || nq === 0.0, 0.0)
            .otherwise(dot / sqrt(na * nq)))
        .withColumn("cos_native",
          VectorFunctions.cosine_sim(col("embedding"), lit(q)))
        .orderBy(col("cos_native").desc, col("vec_id"))
        .limit(50)
        .select(col("vec_id"), floorBp(col("cos_hof"), 4).as("cos_hof_bp"),
          floorBp(col("cos_native"), 4).as("cos_native_bp"))
    }),

    // ---- hard-negative mining for contrastive training: per anchor,
    // top-3 nearest SAME-label (positives) and top-3 nearest OTHER-label
    // (hard negatives). Broadcast anchors × corpus scan stays map-side;
    // the k-bounded TopKByScore shuffles ≤k rows per (anchor, side) ----
    "q78_hard_negatives" -> ((s, d) => {
      import graft.vector.TopKAggregate.topk_by_score
      val emb = tSpread(s, d, "embeddings")
      val anchors = t(s, d, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          col("label").as("a_label"))
      emb.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("a_id"))
        .withColumn("s",
          VectorFunctions.cosine_sim(col("embedding"), col("a_emb")))
        .withColumn("is_pos", (col("label") === col("a_label")).cast("int"))
        .groupBy(col("a_id"), col("is_pos"))
        .agg(topk_by_score(col("s"), col("vec_id"), 3).as("top"))
        .select(col("a_id"), col("is_pos"), posexplode(col("top")))
        .select(col("a_id"), col("is_pos").cast("bigint").as("is_pos"),
          (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("vec_id"),
          floorBp(col("col.score"), 4).as("score_bp"))
        .orderBy(col("a_id"), col("is_pos").desc, col("rank"))
    }),

    // ---- MapType end-to-end: per-source language histogram built as a
    // MAP column (map_from_entries), pruned with map_filter, consumed
    // via explode back to rows ----
    "q79_map_ops" -> ((s, d) => {
      val hist = tSpread(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("lang"), col("n"))))).as("lang_map"))
      hist.select(col("source"),
          size(col("lang_map")).cast("bigint").as("n_langs"),
          explode(map_filter(col("lang_map"), (_, v) => v >= 2)))
        .select(col("source"), col("n_langs"), col("key").as("lang"),
          col("value").as("n_docs"))
        .orderBy(col("source"), col("lang"))
    }),

    // ---- explicit GROUPING SETS + grouping_id (the general form of
    // q29's ROLLUP / q43's CUBE) through the SQL surface ----
    "q80_grouping_sets" -> ((s, d) => {
      Tables.events(s, d)
        .select(to_date(col("ts")).cast("string").as("event_date"),
          col("event_type"), col("value"))
        .createOrReplaceTempView("ev_gs")
      s.sql(
        """SELECT event_date, event_type, count(*) AS n,
          | sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_value_cents,
          | CAST(grouping_id(event_date, event_type) AS BIGINT) AS gid
          |FROM ev_gs
          |GROUP BY GROUPING SETS ((event_date, event_type), (event_type), ())
          |ORDER BY gid, event_date ASC NULLS FIRST,
          | event_type ASC NULLS FIRST""".stripMargin)
    }),

    // ---- event-time RANGE window frame (sliding trailing hour) +
    // lead/lag neighbors: the frame is defined in VALUE space (micros),
    // so ties and gaps behave identically across engines ----
    "q81_range_window" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
      val hour = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      val seq_ = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      e.withColumn("hour_sum_cents",
          sum(cents(col("value"))).over(hour))
        .withColumn("prev_id", lag(col("event_id"), 1).over(seq_))
        .withColumn("next_id", lead(col("event_id"), 1).over(seq_))
        .select(col("user_id"), col("event_id"), col("us"),
          col("hour_sum_cents"), col("prev_id"), col("next_id"))
        .orderBy(col("user_id"), col("us"), col("event_id"))
    }),

    // ---- unpivot: melt q76's wide per-type counts back to long form
    // (pivot and its inverse round-trip through the engine) ----
    "q82_unpivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .select(to_date(col("ts")).cast("string").as("event_date"),
          col("event_type"))
        .groupBy(col("event_date"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(Array(col("event_date")),
          types.map(col).toArray, "event_type", "n")
        .filter(col("n") > 0)
        .orderBy(col("event_date"), col("event_type"))
    }),

    // ---- ordered string aggregation (listagg): deterministic because
    // the list is sorted before joining — the only form that is stable
    // under distributed aggregation ----
    "q83_string_agg" -> ((s, d) => {
      tSpread(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("lang")))).as("langs"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }),

    // ---- correlated subqueries through the SQL surface: EXISTS with a
    // nested uncorrelated scalar + a correlated scalar in the SELECT —
    // Catalyst decorrelates both into joins (no per-row re-execution) ----
    "q84_correlated_subquery" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_q84")
      t(s, d, "orders").createOrReplaceTempView("orders_q84")
      s.sql(
        """SELECT c.c_custkey, c.c_name,
          | (SELECT sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
          |  FROM orders_q84 o
          |  WHERE o.o_custkey = c.c_custkey) AS total_cents
          |FROM customer_q84 c
          |WHERE EXISTS (
          |  SELECT 1 FROM orders_q84 o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
          |    (SELECT avg(o2.o_totalprice) FROM orders_q84 o2))
          |ORDER BY c.c_custkey""".stripMargin)
    }),

    // ---- one Lloyd k-means iteration, oracle-checked end to end:
    // cosine-argmax assignment to 4 fixed seed vectors (mutually
    // near-orthogonal, so the argmax is numerically stable), then
    // per-(cluster, dim) means — the distributed E/M step behind
    // IvfIndex.kmeansCentroids, replayed exactly in SQL ----
    "q86_kmeans_step" -> ((s, d) => {
      import graft.vector.IvfIndex
      val emb = tSpread(s, d, "embeddings")
      val cs = t(s, d, "embeddings").filter(col("vec_id") < 4)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      IvfIndex.build(emb, "embedding", "vec_id", cs)
        .select(col("centroid_id"), posexplode(col("embedding")))
        .filter(col("pos") < 8)
        .groupBy(col("centroid_id"), col("pos"))
        // q52's idiom: quantize elements to fixed-point, exact bigint
        // sums — avg-then-round on floats is accumulation-order-dependent
        .agg(ratioBp(
            sum(floor(col("col").cast("double") * lit(10000d) + lit(0.5d))
              .cast("bigint")),
            count(lit(1)), 0).as("mean_val_bp"),
          count(lit(1)).as("n"))
        .select(col("centroid_id").cast("bigint").as("centroid_id"),
          col("pos").cast("bigint").as("dim"), col("mean_val_bp"), col("n"))
        .orderBy(col("centroid_id"), col("dim"))
    }),

    // ---- content-defined chunking (rsync/LBFS family): a chunk ends
    // AFTER any token whose hash falls in 1/16 of the space, so chunk
    // boundaries depend only on content — an insertion reshuffles
    // boundaries locally, not globally, which is what makes chunk-level
    // dedup robust under edits at 100 TB (vs q72's fixed windows, where
    // one inserted token shifts every downstream chunk) ----
    "q90_cdc_chunks" -> ((s, d) => {
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
    }),

    // ---- ingest data-profiling pass: per-source fill rates and length
    // distribution — the first query any 100 TB onboarding runs (one
    // scan, all metrics as conditional aggregates) ----
    "q92_profile_sources" -> ((s, d) => {
      tSpread(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((length(trim(col("text"))) === 0).cast("long")).as("n_empty"),
          sum((col("lang").isNull || col("lang") === "").cast("long"))
            .as("n_no_lang"),
          // exact-ratio avgs (ints / booleans): bigint sums + quantized
          // division, not round() (decimal-tie hazard)
          ratioBp(sum(length(col("text")).cast("bigint")), count(lit(1)), 2)
            .as("avg_chars_c"),
          min(length(col("text"))).cast("bigint").as("min_chars"),
          max(length(col("text"))).cast("bigint").as("max_chars"),
          ratioBp(sum((col("n_chars") =!= length(col("text"))).cast("bigint")),
            count(lit(1)), 4).as("meta_mismatch_rate_bp"))
        .orderBy(col("source"))
    }),

    // ---- argmax aggregates (max_by/min_by): per user, WHICH event had
    // the extreme value — without a self-join back to the fact. Ordering
    // keys are zero-padded sortable strings (value ties broken by
    // event_id) so both engines compare the identical scalar ----
    "q93_argmax" -> ((s, d) => {
      val valueKey = format_string("%015d|%010d",
        round(col("value") * 100).cast("bigint"), col("event_id"))
      val timeKey = format_string("%020d|%010d",
        unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_id"), valueKey).as("top_value_event"),
          min_by(col("event_id"), timeKey).as("first_event"),
          max_by(col("event_type"), timeKey).as("last_type"),
          cents(max(col("value"))).as("top_value_cents"))
        .orderBy(col("user_id"))
    }),

    // ---- CSV sink/source round-trip with explicit schema (no
    // inference pass — at 100 TB schema inference is a full extra scan):
    // quoting/escaping handled by the format, oracle sees only the
    // read-back aggregate ----
    "q94_csv_roundtrip" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-csv-q94").toString
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true").option("escape", "\"").csv(dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "bigint").add("lang", "string")
        .add("source", "string").add("text", "string")
      s.read.schema(schema).option("header", "true")
        .option("escape", "\"").csv(dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("bigint").as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("source"), col("lang"))
    }),

    // ---- schema evolution: two parquet batches with different columns
    // (a new `quality` column appears mid-stream) read as ONE table via
    // mergeSchema; old rows surface NULL for the new column — the
    // rolling-upgrade contract of a long-lived ingest ----
    "q95_schema_evolution" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-evo-q95").toString
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$dir/batch=old")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .write.mode("overwrite").parquet(s"$dir/batch=new")
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("quality").isNull.cast("long")).as("n_pre_schema"),
          ratioBp(sum(floorBp(col("quality"), 4)),
            count(col("quality")), 0).as("avg_quality_new_bp"))
        .orderBy(col("source"))
    }),

    // ---- DayTimeInterval arithmetic (the reference's `Interval`
    // typical_set_length type, SURVEY §1.3): activity within
    // signup_ts + 2h via interval addition. Per-user equi-join first;
    // at fact×fact scale the same predicate routes through
    // plans.RangeJoin (q44/q50) ----
    "q96_interval_arithmetic" -> ((s, d) => {
      val e = Tables.events(s, d)
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("s_id"),
          col("ts").as("s_ts"))
      val acts = e.filter(col("event_type") =!= "signup")
        .select(col("user_id"), col("event_id").as("a_id"),
          col("ts").as("a_ts"))
      signups.join(acts, Seq("user_id"))
        .filter(col("a_ts") >= col("s_ts") &&
          col("a_ts") < col("s_ts") +
            make_dt_interval(lit(0), lit(2), lit(0), lit(0)))
        .groupBy(col("user_id"), col("s_id"))
        .agg(count(lit(1)).as("n_follow"))
        .orderBy(col("user_id"), col("s_id"))
    }),

    // ---- semi-structured ELT: rows carry a JSON payload (built here
    // from the relational base), parsed back with an EXPLICIT schema
    // (from_json — no inference scan) and exploded; the schema-on-read
    // half of the S4 boundary generalized to nested arrays ----
    "q97_json_elt" -> ((s, d) => {
      val js = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(to_json(struct(col("o_custkey").as("cust"),
          sort_array(collect_list(round(col("o_totalprice"), 2)))
            .as("totals"))).as("payload"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cust",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("totals",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
      js.select(from_json(col("payload"), schema).as("p"))
        .select(col("p.cust").as("cust"), explode(col("p.totals")).as("t"))
        .groupBy(col("cust"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("t"))).as("sum_t_cents"))
        .orderBy(col("cust"))
    }),

    // ---- aggregate variants: FILTER clause + boolean aggregates
    // through the SQL surface ----
    "q98_filtered_aggs" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ev_q98")
      s.sql(
        """SELECT event_type,
          | count(*) FILTER (WHERE value > 250) AS n_high,
          | bool_or(value > 400) AS any_gt400,
          | bool_and(value >= 0) AS all_nonneg,
          | CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
          |     FILTER (WHERE user_id % 2 = 0) * 1
          |   / count(*) FILTER (WHERE user_id % 2 = 0) + 0.5) AS BIGINT)
          |   AS avg_even_users_cents
          |FROM ev_q98 GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    }),

    // ---- relative-rank window trio: percent_rank / cume_dist / ntile
    // over a deterministic (value, event_id) order ----
    "q99_relative_ranks" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d).filter(col("user_id") < 5)
        .select(col("event_type"), col("event_id"), col("value"))
        // percent_rank/cume_dist are exact ratios (k/(n-1), k/n): floor
        // quantization on the identical IEEE double, not round()
        .withColumn("pr_bp", floorBp(percent_rank().over(w), 4))
        .withColumn("cd_bp", floorBp(cume_dist().over(w), 4))
        .withColumn("quartile", ntile(4).over(w).cast("bigint"))
        .select(col("event_type"), col("event_id"), col("pr_bp"),
          col("cd_bp"), col("quartile"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ---- capstone: one end-to-end training-data run — quality gate →
    // exact dedup → per-source token-budget mixing → shard deal — each
    // stage the oracle-checked operator from its standalone query
    // (q46/q21/q64/q69), composed in a single lineage ----
    "q100_training_run" -> ((s, d) => {
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
    }),

    // ---- error-tolerant casting under ANSI mode: try_cast turns
    // malformed values into NULL instead of failing the job — the
    // production contract for parsing untrusted staging fields (ANSI is
    // Spark 4's default, so a bare CAST here would throw) ----
    "q101_try_cast" -> ((s, d) => {
      tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("try_cast(split(trim(text), '\\\\s+')[0] AS DOUBLE)")
            .as("lead_num"),
          expr("try_cast(lang AS DOUBLE)").as("lang_num"),
          expr("try_divide(n_chars, doc_id % 3)").as("ratio"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lead_num").isNotNull.cast("long")).as("n_numeric_lead"),
          sum(col("lang_num").isNotNull.cast("long")).as("n_numeric_lang"),
          sum(col("ratio").isNull.cast("long")).as("n_div_by_zero"))
        .orderBy(col("source"))
    }),

    // ---- fuzzy entity matching (Levenshtein): the J3 related-artist /
    // A2 artist-name resolution generalized to near-matches. Blocked by
    // nation BEFORE the pairwise pass — an unblocked n² over names is
    // the classic entity-resolution scale mistake ----
    "q102_fuzzy_names" -> ((s, d) => {
      // SymSpell deletion-neighborhood blocking — EXACT for distance ≤1
      // (the oracle declares the blocked n² semantics; the engine runs
      // n·len variant rows + one shuffle instead of the n² scan: 9M
      // candidate pairs → ~30k at sf0.1, 5.5 s → sub-second)
      Dedup.editNeighborPairs(t(s, d, "customer"),
          "c_name", "c_custkey", "c_nationkey")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- unionByName with missing columns: the API-side schema
    // evolution (q95 is the storage side) — position-blind, null-filled ----
    "q103_union_by_name" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      val old_ = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"))
      val neu = docs.filter(col("doc_id") % 2 === 1)
        .select(col("source"), col("doc_id"),   // different column ORDER
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      old_.unionByName(neu, allowMissingColumns = true)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").isNull.cast("long")).as("n_missing"),
          sum(coalesce(col("n_tokens"), lit(0L))).as("sum_tokens"))
        .orderBy(col("source"))
    }),

    // ---- date_trunc weekly rollup (Monday-start ISO weeks in both
    // engines) ----
    "q104_weekly_rollup" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("WEEK", col("ts")).cast("date").cast("string")
          .as("week_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_value_cents"))
        .orderBy(col("week_start"), col("event_type"))
    }),

    // ---- exact decimal money arithmetic: quantize the double price to
    // integer cents with deterministic IEEE754 math (floor(x*100+0.5) is
    // bit-identical across engines, unlike each engine's own
    // double->decimal tie-rounding) and sum exactly as BIGINT. The output
    // is presented AS integer cents (BIGINT): exact decimal semantics with
    // an engine-agnostic representation — a DECIMAL output column hashes
    // differently per driver even when every value is identical. ----
    "q105_decimal_money" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).as("cents"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .filter(col("revenue_cents") > lit(50000000L)) // 500000.00 in cents
        .orderBy(col("o_custkey"))
    }),

    // ---- bit aggregates over per-event capability flags ----
    "q106_bit_aggs" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("ev_q106")
      s.sql(
        """SELECT user_id,
          | bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
          |   WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
          |   AS type_mask,
          | bit_and(CAST(event_id % 4 AS INT) + 4) AS and_mask,
          | bit_xor(CAST(event_id AS INT)) AS xor_ids
          |FROM ev_q106 WHERE user_id < 20
          |GROUP BY user_id ORDER BY user_id""".stripMargin)
    }),

    // ---- array set algebra: per-source language sets intersected /
    // unioned / subtracted against a reference set ----
    "q107_array_setops" -> ((s, d) => {
      val ref = array(lit("en"), lit("es"), lit("fr"))
      tSpread(s, d, "documents")
        .groupBy(col("source"))
        .agg(array_sort(collect_set(col("lang"))).as("langs"))
        .select(col("source"),
          array_sort(array_intersect(col("langs"), ref)).as("common"),
          array_sort(array_except(col("langs"), ref)).as("extra"),
          array_sort(array_union(col("langs"), ref)).as("all_langs"))
        .select(col("source"),
          concat_ws(",", col("common")).as("common"),
          concat_ws(",", col("extra")).as("extra"),
          concat_ws(",", col("all_langs")).as("all_langs"))
        .orderBy(col("source"))
    }),

    // ---- statistical aggregates: correlation / covariance / stddev
    // (sample forms — identical definitions in both engines) ----
    "q108_stats_aggs" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(floorBp(corr(col("value"), col("user_id").cast("double")), 4)
            .as("corr_vu_bp"),
          floorBp(covar_samp(col("value"), col("user_id").cast("double")), 2)
            .as("covar_vu_c"),
          floorBp(stddev_samp(col("value")), 4).as("sd_value_bp"),
          floorBp(var_samp(col("value")), 2).as("var_value_c"))
        .orderBy(col("event_type"))
    }),

    // ---- text normalization (the cleanup stage before any dedup/hash
    // pass): whitespace collapse + casefold, fingerprinted before/after
    // so the oracle checks the exact normal form ----
    "q109_normalize_text" -> ((s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("bigint").as("raw_len"),
          length(norm).cast("bigint").as("norm_len"),
          md5(norm).as("norm_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- typed Dataset surface (SURVEY §1.1: Dataset[T] where type
    // safety helps): case-class encoder, typed filter/map lambdas. The
    // lambdas are OPAQUE to Catalyst (no pushdown through them) — kept
    // to one narrow stage, with the relational tail back in DataFrame
    // space; the library's typed boundary is ingest.readStagedTyped ----
    "q110_typed_dataset" -> ((s, d) => {
      import s.implicits._
      val ds = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .as[DocRow]
      ds.filter((r: DocRow) => r.n_chars >= 200L)
        .map((r: DocRow) => (r.source, r.n_chars))
        .toDF("source", "n_chars")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // ---- explode vs explode_outer: the outer form keeps zero-element
    // parents as null rows (a dropped-silently bug class in fan-outs) ----
    "q111_explode_outer" -> ((s, d) => {
      val toks = when(length(trim(col("text"))) === 0,
        array().cast("array<string>"))
        .otherwise(split(trim(col("text")), "\\s+"))
      tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"), explode_outer(toks).as("w"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs_kept"),
          sum(col("w").isNull.cast("long")).as("n_empty_docs"),
          count(col("w")).as("n_tokens"))
        .orderBy(col("source"))
    }),

    // ---- sketch-derived bucketing: q63's mergeable hist_quantile
    // cut-points (p50/p95 per type) broadcast back over the fact to
    // label rows low/mid/high — the promised 100 TB replacement for
    // q73's global-ntile sort: two scans + a broadcast, NO global
    // ordering anywhere ----
    "q112_sketch_bucketing" -> ((s, d) => {
      import graft.sketch.HistQuantile.hist_quantile
      val cuts = Tables.events(s, d).groupBy(col("event_type"))
        .agg(round(hist_quantile(col("value"), 0.5, 0.0, 500.0, 256), 4)
            .as("p50"),
          round(hist_quantile(col("value"), 0.95, 0.0, 500.0, 256), 4)
            .as("p95"))
      Tables.events(s, d).join(broadcast(cuts), "event_type")
        .withColumn("bucket",
          when(col("value") < col("p50"), "low")
            .when(col("value") < col("p95"), "mid")
            .otherwise("high"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_value_cents"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- as-of join with TOLERANCE (pandas merge_asof semantics): the
    // matched view counts only when it lies within 30 minutes before
    // the purchase — q31's single-shuffle carry with the gap test
    // applied after the match ----
    "q113_asof_tolerance" -> ((s, d) => {
      // tolerance runs INSIDE the physical merge operator (AsOfJoinExec):
      // the plan keeps the 2-exchange shape of q62 — no post-join filter
      // stage, no wide intermediate. Ties on (user_id, v_us) pre-deduped
      // to max v_id, mirroring the oracle's views CTE.
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val views = {
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_id"),
            unix_micros(col("ts")).as("v_us"))
        val w = Window.partitionBy(col("user_id"), col("v_us"))
          .orderBy(col("v_id").desc)
        v.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
      graft.plans.AsOfJoinPhysical.join(purchases, views,
          "user_id", "p_us", "v_us", tolerance = Some(1800000000L))
        .select(col("p_id"), col("p_us"), col("v_id"), col("v_us"))
        .orderBy(col("p_id"))
    }),

    // ---- first_value / last_value / nth_value over explicit frames ----
    "q114_value_windows" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d).filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("first_ev", first(col("event_id")).over(w))
        .withColumn("last_ev", last(col("event_id")).over(w))
        .withColumn("third_ev", nth_value(col("event_id"), 3).over(w))
        .orderBy(col("user_id"), col("us"), col("event_id"))
    }),

    // ---- rolling 3-day distinct actives (the WAU/DAU family): windowed
    // COUNT(DISTINCT) is unsupported in both engines' window frames, so
    // the rolling set is a day×day range join over the PRE-DISTINCTED
    // (day, user) frame — at 100 TB that frame is tiny next to the fact ----
    "q115_rolling_actives" -> ((s, d) => {
      val e = Tables.events(s, d)
      val du = e.select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
        .withColumnRenamed("day", "d")
      days.join(du,
          col("day").between(date_sub(col("d"), 2), col("d")))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("active_3d"))
        .select(col("d").cast("string").as("day"), col("active_3d"))
        .orderBy(col("day"))
    }),

    // ---- retention cohorts: users grouped by first-seen day; D1/D7
    // retention as conditional distinct counts over one (user, day)
    // activity frame ----
    "q116_retention_cohorts" -> ((s, d) => {
      val e = Tables.events(s, d)
      val first = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort"))
      val act = e.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      first.join(act, "user_id")
        .groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("day") === date_add(col("cohort"), 1),
            col("user_id"))).as("d1_retained"),
          countDistinct(when(col("day") === date_add(col("cohort"), 7),
            col("user_id"))).as("d7_retained"))
        .select(col("cohort").cast("string").as("cohort"), col("n_users"),
          col("d1_retained"), col("d7_retained"))
        .orderBy(col("cohort"))
    }),

    // ---- behavior transition matrix: per-user consecutive event-type
    // pairs (first-order Markov counts) from one lag pass ----
    "q117_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // ---- robust statistics: median absolute deviation per type (two
    // exact percentile passes — outlier-resistant spread, the robust
    // complement to q108's stddev) ----
    "q118_mad" -> ((s, d) => {
      val e = Tables.events(s, d)
      val medians = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      e.join(broadcast(medians), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
        .groupBy(col("event_type"))
        .agg(floorBp(first(col("med")), 4).as("median_bp"),
          floorBp(expr("percentile(adev, 0.5)"), 4).as("mad_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- activity-gap profiling: per user, span days vs active days
    // (the freshness/completeness check of an event feed) ----
    "q119_activity_gaps" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg((datediff(max(col("day")), min(col("day"))) + 1)
            .cast("bigint").as("span_days"),
          countDistinct(col("day")).as("active_days"))
        .withColumn("gap_days", col("span_days") - col("active_days"))
        .filter(col("user_id") < 50)
        .orderBy(col("user_id"))
    }),

    // ---- Benford leading-digit profile of the value column (the
    // classic data-forensics scan); digit extracted from the string
    // form so both engines agree on every rendering ----
    "q120_benford" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("value") > 0)
        .withColumn("digit",
          regexp_extract(col("value").cast("string"), "[1-9]", 0))
        .filter(col("digit") =!= "")
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac_bp",
          ratioBp(col("n"), sum(col("n")).over(
            Window.partitionBy(lit(1))), 4))
        .select(col("digit"), col("n"), col("frac_bp"))
        .orderBy(col("digit"))
    }),

    // ---- SCD Type-2 history build (dims.Scd2): per-user event_type
    // version intervals from the change stream — one shuffle on the
    // entity key shared by the change-collapse lag and the interval
    // lead (same partitioning + sort ⇒ one exchange, one sort) ----
    "q121_scd2_history" -> ((s, d) => {
      Scd2.fromChanges(Tables.events(s, d), Seq("user_id"), "ts",
          "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("from_us"))
    }),

    // ---- gap-fill / forward-fill: dense per-user daily spine (span
    // derived from the data, 1-row agg cross join — broadcast nested
    // loop, never a shuffle), left join of the real daily totals, then
    // last(ignoreNulls) carries the latest observation forward. The
    // standard time-series densification before any rolling metric ----
    "q122_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(cents(col("value"))).as("day_value"))
      val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val spine = ev.select(col("user_id")).distinct()
        .crossJoin(broadcast(span))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled_cents",
          last(col("day_value"), ignoreNulls = true).over(w))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("filled_cents"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- point-in-time (PIT) join: each purchase fact joined to the
    // SCD2 version of the user's activity state that was current AT the
    // purchase timestamp — the feature-store correctness pattern (no
    // future leakage). The interval probe is the as-of merge operator
    // (AsOfJoinExec): one shuffle+sort per side, constant-state merge;
    // never an interval cross product ----
    "q123_pit_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // dim: SCD2 history of the last NON-purchase activity state; equal
      // timestamps deduped (max event_id wins) so valid_from is unique
      // per user and the interval form matches the as-of form exactly
      val wTs = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val dimSrc = ev.filter(col("event_type") =!= "purchase")
        .withColumn("_rn", row_number().over(wTs))
        .filter(col("_rn") === 1).drop("_rn")
      val hist = Scd2.fromChanges(dimSrc, Seq("user_id"), "ts",
          "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("valid_from")).as("from_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      // the exec outputs left ++ right columns, so the key appears twice;
      // rename positionally and keep the left copy. AsOfJoinExec is
      // inner (unmatched purchases dropped), matching the oracle's JOIN
      graft.plans.AsOfJoinPhysical.join(purchases, hist,
          "user_id", "p_us", "from_us")
        .toDF("user_id", "p_id", "p_us", "_rk", "state", "from_us")
        .select(col("user_id"), col("p_id"), col("p_us"),
          col("state"), col("from_us"))
        .orderBy(col("p_id"))
    }),

    // ---- distributed connected components (graph.Graph): min-label
    // propagation over the simhash near-dup pair graph — the cluster-
    // scale replacement for driver-side union-find (one join+groupBy
    // shuffle per superstep, localCheckpoint truncates lineage) ----
    "q124_cc_labelprop" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      Graph.connectedComponents(
          docs.select(col("doc_id").as("id")), pairs)
        .orderBy(col("id"))
    }),

    // ---- PageRank in integer fixed-point (graph.Graph): exact bigint
    // arithmetic makes the iterative rank bit-reproducible across
    // engines and partitionings (double addition isn't associative;
    // long addition is). Customer→supplier bipartite graph from
    // orders⋈lineitem; 3 supersteps ----
    "q125_pagerank" -> ((s, d) => {
      val edges = t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.pageRankFixedPoint(edges, iterations = 3)
        .select(col("id"), col("rank").as("pr"))
        .orderBy(col("id"))
    }),

    // ---- skyline / Pareto frontier (operators.Skyline): best-price-
    // per-capacity parts. Two-phase distributive form — per-y min-x
    // aggregate collapses the input, then a tiny running-min sweep;
    // never the O(n²) NOT-EXISTS self-join the oracle runs ----
    "q126_skyline" -> ((s, d) => {
      Skyline.pareto2d(t(s, d, "part"), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_size"),
          cents(col("p_retailprice")).as("price_cents"))
        .orderBy(col("p_partkey"))
    }),

    // ---- inverted index build (search-engine posting lists): token →
    // df/cf + position-resolved postings, zero-padded so the string
    // sort equals the numeric (doc_id, pos) order; lists truncated to
    // 50 entries (skip-list head) to bound row width ----
    "q127_inverted_index" -> ((s, d) => {
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
    }),

    // ---- OHLC bars (time-series candle rollup): open/close via
    // min_by/max_by on a sortable (us, event_id) string key — one hash
    // aggregate, no window sort; the argmax tie rule is engine-identical
    // by construction ----
    "q128_ohlc" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("value"),
          format_string("%020d:%012d", unix_micros(col("ts")),
            col("event_id")).as("k"))
        .filter(col("user_id") < 30)
      ev.groupBy(col("user_id"), col("day"))
        .agg(cents(min_by(col("value"), col("k"))).as("open_cents"),
          cents(max(col("value"))).as("high_cents"),
          cents(min(col("value"))).as("low_cents"),
          cents(max_by(col("value"), col("k"))).as("close_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- incremental aggregate maintenance: a delta batch's partial
    // states (sum/count per month×priority) merge with the STORED
    // partials — the merge step touches only partial-state rows, never
    // the raw history; the final report re-aggregates from partials.
    // The decomposition every 100 TB daily pipeline relies on ----
    "q129_incr_agg" -> ((s, d) => {
      val o = t(s, d, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").as("tp"),
        to_date(col("o_orderdate")).as("day"))
      def partials(df: DataFrame) = df.groupBy(col("month"), col("prio"))
        .agg(sum(cents(col("tp"))).as("s"), count(lit(1)).as("n"))
      val stored = partials(o.filter(col("day") < lit("2001-06-01").cast("date")))
      val delta = partials(o.filter(col("day") >= lit("2001-06-01").cast("date")))
      stored.union(delta)
        .groupBy(col("month"), col("prio"))
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
        .groupBy(col("prio"))
        .agg(sum(col("s")).as("revenue_cents"),
          sum(col("n")).as("n_orders"),
          countDistinct(col("month")).as("n_months"))
        .orderBy(col("prio"))
    }),

    // ---- typed Aggregator (functions.Aggregators.WeightedMean): the
    // Dataset-native custom aggregate through udaf() — Encoder-managed
    // two-double buffer, map-side combine, shuffle carries partials
    // only. Weight derived from the key so the oracle replays it ----
    "q130_typed_aggregator" -> ((s, d) => {
      val wm = udaf(graft.functions.Aggregators.WeightedMean)
      Tables.events(s, d)
        .withColumn("w", (col("user_id") % 5 + 1).cast("double"))
        .groupBy(col("event_type"))
        .agg(floorBp(wm(col("value"), col("w")), 4).as("wmean_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- spatial radius join (plans.SpatialJoin): grid-cell bucketed
    // equi-join + exact distance filter — the 2D RangeJoin; never the
    // BroadcastNestedLoopJoin a naive distance theta-join plans.
    // Coordinates derived deterministically from the keys so the oracle
    // replays them exactly (integer-modulo lattice) ----
    "q131_spatial_join" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"),
        ((col("c_custkey") * 7919 % 1800) / 10.0 - 90.0).as("c_lat"),
        ((col("c_custkey") * 104729 % 3600) / 10.0 - 180.0).as("c_lon"))
      val supp = t(s, d, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") * 7919 % 1800) / 10.0 - 90.0).as("s_lat"),
        ((col("s_suppkey") * 104729 % 3600) / 10.0 - 180.0).as("s_lon"))
      SpatialJoin.radius2d(cust, supp, "c_lat", "c_lon",
          "s_lat", "s_lon", 5.0)
        .select(col("c_custkey"), col("s_suppkey"),
          floorBp((col("c_lat") - col("s_lat")) * (col("c_lat") - col("s_lat")) +
            (col("c_lon") - col("s_lon")) * (col("c_lon") - col("s_lon")),
            4).as("d2_bp"))
        .orderBy(col("c_custkey"), col("s_suppkey"))
    }),

    // ---- lag-1 autocorrelation of per-type daily totals (time-series
    // diagnostic): one shuffle to daily grain, one window lag sharing
    // that partitioning, one corr aggregate ----
    "q132_autocorr" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("pv", lag(col("v"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(floorBp(corr(col("v"), col("pv")), 4).as("lag1_corr_bp"),
          count(lit(1)).as("n_days"))
        .orderBy(col("event_type"))
    }),

    // ---- label-distribution entropy per source (training-data
    // diagnostics): two-level aggregate, all map-side-combinable ----
    "q133_entropy" -> ((s, d) => {
      val counts = t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      val totals = counts.groupBy(col("source"))
        .agg(sum(col("c")).as("tot"))
      counts.join(totals, "source")
        .withColumn("p", col("c") / col("tot"))
        .groupBy(col("source"))
        .agg(floorBp(-sum(col("p") * log(col("p"))), 4).as("entropy_bp"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("source"))
    }),

    // ---- Gini concentration of value per event_type: rank-formula
    // form G = (2·Σ(i·xᵢ) − (n+1)·Σxᵢ) / (n·Σxᵢ) over a deterministic
    // (value, event_id) total order — one window pass, one aggregate,
    // no pairwise |xᵢ−xⱼ| cross product ----
    "q134_gini" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("i", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(floorBp(
          (lit(2) * sum(col("i") * col("value")) -
            (count(lit(1)) + 1) * sum(col("value"))) /
            (count(lit(1)) * sum(col("value"))), 4).as("gini_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- A/B comparison (Welch's t): deterministic assignment from
    // the key (user parity), group moments from one aggregate pass ----
    "q135_ab_test" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("grp", (col("user_id") % 2 === 0).cast("int"))
      val m = ev.groupBy(col("event_type"), col("grp"))
        .agg(avg(col("value")).as("m"), var_samp(col("value")).as("v"),
          count(lit(1)).as("n"))
      val a = m.filter(col("grp") === 1)
        .select(col("event_type"), col("m").as("m1"), col("v").as("v1"),
          col("n").as("n1"))
      val b = m.filter(col("grp") === 0)
        .select(col("event_type"), col("m").as("m2"), col("v").as("v2"),
          col("n").as("n2"))
      a.join(b, "event_type")
        .select(col("event_type"),
          floorBp(col("m1") - col("m2"), 4).as("mean_diff_bp"),
          floorBp((col("m1") - col("m2")) /
            sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 4)
            .as("t_stat_bp"),
          col("n1"), col("n2"))
        .orderBy(col("event_type"))
    }),

    // ---- gaps-and-islands: contiguous active-day runs per user via
    // the day − row_number() grouping constant — one shuffle on user,
    // window + re-aggregate share it ----
    "q136_gaps_islands" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp", datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(date_format(min(col("day")), "yyyy-MM-dd").as("run_start"),
          date_format(max(col("day")), "yyyy-MM-dd").as("run_end"),
          count(lit(1)).as("run_days"))
        .filter(col("user_id") < 40)
        .select(col("user_id"), col("run_start"), col("run_end"),
          col("run_days"))
        .orderBy(col("user_id"), col("run_start"))
    }),

    // ---- period-over-period growth: monthly revenue + MoM delta and
    // ratio from one lag over the month rollup ----
    "q137_mom_growth" -> ((s, d) => {
      val monthly = t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.orderBy(col("month"))
      monthly.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("month"), cents(col("rev")).as("revenue_cents"),
          cents(col("rev") - col("prev")).as("mom_delta_cents"),
          floorBp(col("rev") / col("prev"), 4).as("mom_ratio_bp"))
        .orderBy(col("month"))
    }),

    // ---- cumulative distinct users (growth curve): first-seen day per
    // user, then a running count over the day spine — the sort-free
    // cumulative-distinct decomposition ----
    "q138_cumulative_users" -> ((s, d) => {
      val firstSeen = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstSeen.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy(col("day"))
    }),

    // ---- market-basket association (support/confidence/lift): brand
    // pairs co-occurring in an order. Pair generation is MAP-SIDE from
    // each order's sorted brand list (one shuffle on the order key,
    // higher-order transform — no self-join of the exploded frame);
    // frequency tables broadcast back ----
    "q139_basket_lift" -> ((s, d) => {
      val ob = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
      val nOrders = ob.agg(countDistinct(col("ok")).as("n_orders"))
      val bf = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
      val pairs = ob.groupBy("ok")
        .agg(sort_array(collect_list(col("b"))).as("bs"))
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> transform(" +
            "slice(bs, i + 2, size(bs)), y -> struct(x AS b1, y AS b2))))"))
          .as("p"))
        .groupBy(col("p.b1").as("b1"), col("p.b2").as("b2"))
        .agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 20)
      pairs
        .join(broadcast(bf.select(col("b").as("b1"), col("nb").as("nb1"))), "b1")
        .join(broadcast(bf.select(col("b").as("b2"), col("nb").as("nb2"))), "b2")
        .crossJoin(broadcast(nOrders))
        .select(col("b1"), col("b2"), col("nab"),
          // all three are exact integer ratios — quantized division
          // (scaled numerators stay well inside bigint: ≤ ~1e14)
          ratioBp(col("nab"), col("n_orders"), 4).as("support_bp"),
          ratioBp(col("nab"), col("nb1"), 4).as("confidence_bp"),
          ratioBp(col("nab") * col("n_orders"), col("nb1") * col("nb2"), 4)
            .as("lift_bp"))
        .orderBy(col("b1"), col("b2"))
    }),

    // ---- RFM segmentation: one customer-grain aggregate, then ntile
    // quartiles over the COLLAPSED frame (1 row per customer — the
    // single-partition window sits above the aggregate, never the raw
    // orders); deterministic tie order by customer key ----
    "q140_rfm" -> ((s, d) => {
      val agg = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(datediff(lit("2001-08-02").cast("date"),
          max(to_date(col("o_orderdate")))).as("rec_days"),
          count(lit(1)).as("freq"),
          sum(cents(col("o_totalprice"))).as("monetary_cents"))
      // three exact global quartiles, each a scalable range sort
      // (GlobalOrder) instead of a single-partition ntile window
      val withR = GlobalOrder.withNtile(agg,
        Seq(col("rec_days"), col("o_custkey")), 4, "r")
      val withF = GlobalOrder.withNtile(withR,
        Seq(col("freq").desc, col("o_custkey")), 4, "f")
      GlobalOrder.withNtile(withF,
          Seq(col("monetary_cents").desc, col("o_custkey")), 4, "m")
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("rec_days").cast("bigint").as("rec_days"),
          col("freq"), col("monetary_cents"),
          col("r").cast("bigint").as("r"), col("f").cast("bigint").as("f"),
          col("m").cast("bigint").as("m"),
          concat_ws("-", col("r"), col("f"), col("m")).as("segment"))
        .orderBy(col("o_custkey"))
    }),

    // ---- CUSUM change-point detection: per-type cumulative deviation
    // from the type mean, peak |cusum| day = the change point. One
    // shuffle on type shared by the mean window, the running sum, and
    // the argmax row_number ----
    "q141_cusum" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val mu = avg(col("v")).over(Window.partitionBy(col("event_type")))
      val run = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = daily.withColumn("mu", mu)
        .withColumn("cusum", sum(col("v") - col("mu")).over(run))
      val rk = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("cusum")).desc, col("day"))
      cs.withColumn("rn", row_number().over(rk))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("change_day"),
          floorBp(col("cusum"), 4).as("peak_cusum_bp"))
        .orderBy(col("event_type"))
    }),

    // ---- daily percentile bands (P10/P50/P90 time series): exact
    // per-group percentiles in one aggregate pass ----
    "q142_percentile_bands" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(floorBp(percentile(col("value"), lit(0.1)), 4).as("p10_bp"),
          floorBp(percentile(col("value"), lit(0.5)), 4).as("p50_bp"),
          floorBp(percentile(col("value"), lit(0.9)), 4).as("p90_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("day"))
    }),

    // ---- mutual information between event type and a user cohort
    // (feature-signal screening): joint/marginal counts from one
    // aggregate, MI from the broadcast-joined contingency table ----
    "q143_mutual_info" -> ((s, d) => {
      val joint = Tables.events(s, d)
        .groupBy(col("event_type").as("x"),
          (col("user_id") % 2 === 0).cast("int").as("y"))
        .agg(count(lit(1)).as("c"))
      val tot = joint.agg(sum(col("c")).as("n"))
      val mx = joint.groupBy("x").agg(sum(col("c")).as("cx"))
      val my = joint.groupBy("y").agg(sum(col("c")).as("cy"))
      joint.join(broadcast(mx), "x").join(broadcast(my), "y")
        .crossJoin(broadcast(tot))
        .agg(floorBp(sum((col("c") / col("n")) *
            log((col("c") * col("n")) / (col("cx") * col("cy")))), 6)
          .as("mi_unats"),
          max(col("n")).as("n"))
    }),

    // ---- Pareto 80/20 concentration: customers covering 80% of
    // revenue. Running share over the COLLAPSED customer grain (the
    // single-partition window sits above the aggregate); the float
    // cumulative sum is order-identical in both engines, so the >=
    // threshold cliff is consistent ----
    "q144_pareto_8020" -> ((s, d) => {
      // revenue quantized to cents-bigint so the running total is pure
      // long arithmetic: associative, so GlobalOrder's partition-split
      // accumulation (one range shuffle, no single-partition window) is
      // bit-identical to the sequential form on BOTH engines; the 80%
      // threshold is the integer comparison 5*cum >= 4*total
      val cr = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("rev"))
        .withColumn("rev_c", cents(col("rev")))
      val tot = cr.agg(sum(col("rev_c")).as("t_c"),
        count(lit(1)).as("nc"))
      GlobalOrder.withRunningSumLong(cr,
          Seq(col("rev").desc, col("o_custkey")), col("rev_c"), "cum_c",
          rnOut = Some("rn"))
        .crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum_c") * 5 >= col("t_c") * 4, col("rn")))
            .cast("bigint").as("customers_for_80pct"),
          max(col("nc")).as("n_customers"),
          ratioBp(min(when(col("cum_c") * 5 >= col("t_c") * 4, col("rn"))),
            max(col("nc")), 4).as("frac_bp"))
    }),

    // ---- rolling z-score anomaly flags: trailing-week mean/stddev per
    // type (frame excludes the current day), flag |z| > 1.5 — the ops
    // monitoring sweep; one shuffle on type for both window stats ----
    "q145_rolling_zscore" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, -1)
      daily
        .withColumn("mu", avg(col("v")).over(w))
        .withColumn("sd", stddev_samp(col("v")).over(w))
        .filter(col("sd").isNotNull &&
          abs((col("v") - col("mu")) / col("sd")) > 1.5)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          floorBp((col("v") - col("mu")) / col("sd"), 4).as("z_bp"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- order→ship latency histogram (supply-chain distribution):
    // explicit floor() bucketing (floor semantics match the oracle's
    // // on negatives; integer div truncation would not) ----
    "q146_latency_histogram" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .withColumn("bucket", floor(datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))) / 10.0).cast("bigint"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy(col("bucket"))
    }),

    // ---- top brands per nation with TIES (dense_rank ≤ 3 — the
    // ties-kept complement of q38's row_number top-k) ----
    "q147_dense_rank_ties" -> ((s, d) => {
      val bc = t(s, d, "part")
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_parts"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("n_parts").desc)
      bc.withColumn("dr", dense_rank().over(w).cast("bigint"))
        .filter(col("dr") <= 3)
        .orderBy(col("n_name"), col("dr"), col("p_brand"))
    }),

    // ---- LTV-by-order-number curve: avg order value at the customer's
    // nth order — one shuffle on customer for the sequence window, then
    // a tiny re-aggregate on order_no ----
    "q148_clv_curve" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(to_date(col("o_orderdate")), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("order_no", row_number().over(w).cast("bigint"))
        .filter(col("order_no") <= 10)
        .groupBy(col("order_no"))
        .agg(count(lit(1)).as("n_customers"),
          // money avg over tiny groups: exact cents, quantized division
          ratioBp(sum(cents(col("o_totalprice"))), count(lit(1)), 0)
            .as("avg_order_value_cents"))
        .orderBy(col("order_no"))
    }),

    // ---- share-of-wallet: top-3 customers per nation with their
    // revenue share — ratio-to-report window over the collapsed
    // customer grain ----
    "q149_share_of_wallet" -> ((s, d) => {
      val cr = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val p = Window.partitionBy(col("n_name"))
      val rk = Window.partitionBy(col("n_name"))
        .orderBy(col("rev").desc, col("c_custkey"))
      cr.withColumn("share", col("rev") / sum(col("rev")).over(p))
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select(col("n_name"), col("c_custkey"),
          cents(col("rev")).as("revenue_cents"),
          floorBp(col("share"), 4).as("share_bp"))
        .orderBy(col("n_name"), col("rk"))
    }),

    // ---- weekday×hour activity heatmap (long form): ISO weekday so
    // both engines agree on day numbering ----
    "q150_activity_heatmap" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .select((weekday(col("ts")) + 1).as("isodow"),
          hour(col("ts")).as("hr"))
        .groupBy(col("isodow"), col("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = cell.agg(sum(col("n")).as("tot"))
      // share is an EXACT integer ratio: round() ties on exact 4dp
      // decimals (e.g. 565/100000) differ between engines (Spark rounds
      // the decimal shortest-repr, DuckDB the binary double) — quantize
      // with the floor idiom on identical doubles instead (both engines
      // floor the same IEEE value; caught by the sf0.1 gate)
      cell.crossJoin(broadcast(tot))
        .select(col("isodow"), col("hr"), col("n"),
          floor(col("n") * lit(10000L) / col("tot") + lit(0.5d))
            .cast("bigint").as("share_bp"))
        .orderBy(col("isodow"), col("hr"))
    }),

    // ---- linear trend per type (regr_* aggregate family): slope /
    // intercept / R² of daily totals against the day index — one
    // aggregate pass, moments combined map-side ----
    "q151_regr_slope" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
        .withColumn("xi", datediff(col("day"),
          lit("2024-01-01").cast("date")).cast("double"))
      daily.groupBy(col("event_type"))
        .agg(floorBp(regr_slope(col("v"), col("xi")), 4).as("slope_bp"),
          floorBp(regr_intercept(col("v"), col("xi")), 4).as("intercept_bp"),
          floorBp(regr_r2(col("v"), col("xi")), 4).as("r2_bp"),
          regr_count(col("v"), col("xi")).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- winsorized mean (robust stats family, with q118's MAD): P5/P95
    // clamps broadcast back over the fact — two aggregate passes, no
    // sort of the raw data ----
    "q152_winsorized_mean" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val q = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("lo"),
          percentile(col("value"), lit(0.95)).as("hi"))
      ev.join(broadcast(q), "event_type")
        .groupBy(col("event_type"))
        .agg(floorBp(avg(least(greatest(col("value"), col("lo")), col("hi"))),
            4).as("winsorized_mean_bp"),
          floorBp(avg(col("value")), 4).as("raw_mean_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- nearest-in-time join: each purchase matched to its CLOSEST
    // view in either direction — composed from the backward and forward
    // as-of merges (two shuffle+sort passes), then a per-purchase pick;
    // never the per-user cross product the oracle brute-forces. View
    // ties at equal timestamp and equal-distance direction ties both
    // resolve to the smaller view id, matching the oracle's rule ----
    "q153_nearest_event" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val v = {
        val raw = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("v_id"),
            unix_micros(col("ts")).as("v_us"))
        val w = Window.partitionBy(col("user_id"), col("v_us"))
          .orderBy(col("v_id"))
        raw.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
      def side(dir: String) =
        graft.plans.AsOfJoinPhysical.join(p, v, "user_id", "p_us", "v_us", dir)
          .toDF("user_id", "p_id", "p_us", "_u2", "v_id", "v_us")
          .select(col("user_id"), col("p_id"), col("p_us"),
            col("v_id"), col("v_us"))
      val cand = side("backward").union(side("forward"))
      val pick = Window.partitionBy(col("p_id"))
        .orderBy(abs(col("p_us") - col("v_us")), col("v_id"))
      cand.withColumn("_rn", row_number().over(pick))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("p_id"), col("v_id"),
          abs(col("p_us") - col("v_us")).as("dist_us"))
        .orderBy(col("p_id"))
    }),

    // ---- marketing attribution, first-touch vs last-touch: last-touch
    // is the as-of merge (AsOfJoinExec); first-touch is a per-user
    // min-struct aggregate broadcast back — neither side builds the
    // per-user (views × purchases) cross product the oracle brute-
    // forces. Channel derived from the props JSON ----
    "q154_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          unix_micros(col("ts")).as("v_us"),
          (get_json_object(col("props"), "$.k").cast("int") % 5).as("ch"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      // last-touch: as-of backward; equal-timestamp views dedup to the
      // LARGEST id (the oracle's DESC, DESC tie rule)
      val vDedup = {
        val w = Window.partitionBy(col("user_id"), col("v_us"))
          .orderBy(col("v_id").desc)
        v.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
      val last = graft.plans.AsOfJoinPhysical.join(p, vDedup,
          "user_id", "p_us", "v_us")
        .toDF("user_id", "p_id", "p_us", "_u2", "v_id", "v_us", "ch")
        .select(col("ch"))
        .groupBy(col("ch")).agg(count(lit(1)).as("n_last"))
      // first-touch: the user's earliest view (min struct = (v_us, v_id)
      // lexicographic → the oracle's ASC, ASC rule), attributed to every
      // purchase at-or-after it
      val firstView = v.groupBy(col("user_id"))
        .agg(min(struct(col("v_us"), col("v_id"), col("ch"))).as("fv"))
        .select(col("user_id"), col("fv.v_us").as("f_us"),
          col("fv.ch").as("ch"))
      val first = p.join(firstView, "user_id")
        .filter(col("f_us") <= col("p_us"))
        .groupBy(col("ch")).agg(count(lit(1)).as("n_first"))
      first.join(last, Seq("ch"), "full_outer")
        .select(col("ch").as("channel"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("n_last"), lit(0L)).as("n_last"))
        .orderBy(col("channel"))
    }),

    // ---- repeat-purchase latency distribution: per-user lag over
    // purchases, day-bucketed gaps — the retention-curve input ----
    "q155_repeat_latency" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_days",
          floor((col("us") - col("prev")) / 86400000000.0).cast("bigint"))
        .groupBy(col("gap_days")).agg(count(lit(1)).as("n"))
        .orderBy(col("gap_days"))
    }),

    // ---- TF-IDF retrieval (the search-engine QUERY path over the
    // q127-style index): query terms broadcast as a semi-filter, doc
    // scores from one aggregate over the matched postings, global
    // top-10 via sort+limit (TakeOrdered, no full sort) ----
    "q156_tfidf_search" -> ((s, d) => {
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
    }),

    // ---- clamped running balance (floor-at-zero cumulative sum): NOT
    // window-expressible — the clamp makes each row depend on the full
    // clamped prefix, so it runs as a per-key ORDERED stateful scan via
    // flatMapSortedGroups (one shuffle on user, sorted iterator, O(1)
    // state — the typed-Dataset analog of the as-of merge exec). The
    // oracle replays it as a recursive CTE walk ----
    "q157_clamped_balance" -> ((s, d) => {
      import s.implicits._
      val src = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"),
          when(col("event_type") === "purchase", col("value"))
            .otherwise(-col("value")).as("delta"))
        .as[(Long, Long, Long, Double)]
      src.groupByKey(_._1)
        .flatMapSortedGroups(col("us"), col("event_id")) { (uid, it) =>
          var bal = 0.0
          it.map { case (_, _, eid, delta) =>
            bal = math.max(0.0, bal + delta)
            (uid, eid, bal)
          }
        }
        .toDF("user_id", "event_id", "balance")
        .withColumn("balance_bp", floorBp(col("balance"), 4))
        .drop("balance")
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- sequential pattern mining: frequent 3-step behavior
    // sequences with a support floor (q117's transition matrix extended
    // to trigrams) — one user-shuffle for both leads, then a tiny
    // support aggregate ----
    "q158_trigram_mining" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("b", lead(col("a"), 1).over(w))
        .withColumn("c", lead(col("a"), 2).over(w))
        .filter(col("c").isNotNull)
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 5) // floor holds rows>0 down to sf0.001
        .orderBy(col("support").desc, col("a"), col("b"), col("c"))
    }),

    // ---- order backlog via sweep-line: +1 at open, −1 at close (last
    // ship date), running sum over the ±1 event stream — the interval-
    // stabbing count without any interval join; sampled at month
    // starts ----
    "q159_backlog_sweep" -> ((s, d) => {
      val closes = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(max(to_date(col("l_shipdate"))).as("close_d"))
      val opens = t(s, d, "orders")
        .join(closes, col("o_orderkey") === col("ok"))
        .select(to_date(col("o_orderdate")).as("d"), lit(1).as("delta"))
      val deltas = opens.union(
        closes.select(col("close_d").as("d"), lit(-1).as("delta")))
      val daily = deltas.groupBy(col("d")).agg(sum(col("delta")).as("net"))
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("backlog", sum(col("net")).over(w).cast("bigint"))
        .filter(dayofmonth(col("d")) === 1)
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("backlog"))
        .orderBy(col("day"))
    }),

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
    "q160_leakage_safe_split" -> ((s, d) => {
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
    }),

    // ---- language-mix rebalancing: per-language keep fractions toward
    // a uniform target (total/n_langs), capped at 1 — the "don't let
    // English swamp the mix" pass. All ratios in exact basis points
    // (bigint scaling) so the plan is engine-agnostic; the heavy input
    // collapses to |langs| rows before the broadcast total joins in ----
    "q161_lang_rebalance" -> ((s, d) => {
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
    }),

    // ---- dedup survivorship report: per dup group the canonical doc
    // (min id), the dup count and the bytes dedup removes — the "what
    // did dedup buy us" accounting every corpus pipeline ships. The
    // group key is the opening-prefix fingerprint (first 5 tokens),
    // the boilerplate-header dedup shape — full-content hashing only
    // finds groups at the largest sf (this corpus has no exact dups
    // below sf0.1, caught by EntrySmokeSpec). One hash-groupBy on the
    // fingerprint; no pairwise work ----
    "q162_dedup_survivorship" -> ((s, d) => {
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
    }),

    // ---- SemDeDup-shape semantic dedup (cluster-blocked embedding
    // near-dup pruning): assign every vector to its nearest seed
    // centroid, pairwise-compare ONLY within a cell, keep the lowest id
    // of each neighborhood. The cluster blocking is the 100 TB story:
    // pairwise work is O(Σ|cell|²) instead of O(n²), cells shuffle to
    // independent reducers (join key = centroid_id), and the index
    // table written partitionBy(centroid_id) makes each cell a pruned
    // partition read. Threshold compares the 4dp-rounded cosine (q42's
    // engine-robust idiom). ----
    "q163_semdedup" -> ((s, d) => {
      // seed centroids = vec_id < 10 (k×dim driver state only)
      val cs = t(s, d, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      Dedup.semanticDedup(tSpread(s, d, "embeddings"), "embedding",
          "vec_id", cs, threshold = 0.45)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))
    }),

    // ---- intra-document repeated-span detection (the within-doc half
    // of exact-substring dedup, Lee et al. 2022 shape): a token window
    // whose hash already occurred EARLIER in the same document marks a
    // repeated span; adjacent repeated starts (gap ≤ W) merge into one
    // span (gaps-and-islands, q136's idiom). Entirely per-doc window
    // functions over one exploded lineage — partition key doc_id, no
    // cross-doc shuffle, embarrassingly parallel at 100 TB. W = 3 fits
    // this corpus's short word-soup docs (the paper uses ~50-token
    // windows on real text). ----
    "q164_repeated_spans" -> ((s, d) => {
      TextFunctions.repeatedSpans(tSpread(s, d, "documents"),
          "text", "doc_id", window = 3, gap = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- asymmetric containment detection: a doc whose shingle set is
    // ≥80% covered by another doc's (quotes, boilerplate inclusion,
    // near-subset crawls — pairs symmetric Jaccard UNDER-scores when
    // sizes differ). Candidates ride the same freq-capped shared-key
    // harness as q22/q91 (one shuffle on the shingle, map-side pair
    // expansion, never n²); containment ratios in ratioQ quantized
    // division so both engines agree at 4dp. ----
    "q165_containment" -> ((s, d) => {
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
    }),

    // ---- HNSW ANN: the reference's literal index structure
    // (vector_cosine_ops HNSW, database.py:201-210) as per-partition
    // sub-index graphs (Lucene-segment style) built in one narrow
    // pass, probed in parallel, k-bounded merge. efSearch here covers
    // every partition, which makes each local top-k provably EXACT
    // (HnswIndexSpec asserts score-level equality with brute force),
    // so the exact SQL top-k is a valid oracle; production tunes ef
    // down as the recall/latency knob against the spec's 0.9 floor ----
    "q166_hnsw_ann" -> ((s, d) => {
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      graft.vector.HnswIndex.searchTopK(emb, "embedding", "vec_id", q, 20,
        graft.vector.HnswIndex.Params(m = 8, efConstruction = 128,
          efSearch = 1 << 20))
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- HNSW THROUGH THE AT-REST INDEX (q74's round-trip pattern):
    // build + persist the per-partition sub-graphs (writeGraphIndex),
    // then answer the query FROM the stored graphs (searchGraphIndex)
    // — the oracle sees only the read-back, so a sub-graph lost or
    // corrupted in (de)serialization would mismatch. efSearch covers
    // the partitions, so the exact SQL top-k is again a valid oracle ----
    "q167_hnsw_at_rest" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-hnsw-q167").toString + "/graphs"
      writeEmbGraphIndex(s, d, dir)
      graft.vector.HnswIndex.searchGraphIndex(s, dir, "vec_id",
          Seq(0L -> queryVec(s, d)), 20,
          graft.vector.HnswIndex.Params(efSearch = 1 << 20))
        .drop("query_id")
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- TRANSPARENT ANN PLANNING (the reference planner's contract:
    // `ORDER BY embedding <=> q LIMIT k` uses the HNSW index with NO
    // query change, database.py:201-210). The query below is the plain
    // brute-force topK shape; AnnIndexRule plans it into the stored IVF
    // index probe because the table path is registered in AnnCatalog.
    // The oracle is q39's IVF SQL (nProbe=4 of 16 cells) — it matches
    // ONLY IF the rewrite fired: un-rewritten brute force returns the
    // exact global top-20, which differs from the 4-cell probe. The
    // CORRECTNESS row therefore gates the rewrite itself, not just the
    // result. The table is COPIED to a private temp path first: the
    // catalog key is the table path, and registering the shared
    // testdata path would silently rewrite every other exact-top-k
    // query in the session ----
    "q169_ann_auto" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      import graft.vector.IvfIndex
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-auto").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding", "vec_id", 16)
      IvfIndex.writeIndex(
        IvfIndex.build(tSpread(s, d, "embeddings"), "embedding", "vec_id", cs),
        s"$tmp/ivf")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.IvfEntry(s"$tmp/ivf", "embedding", "vec_id", cs, nProbe = 4))
      VectorFunctions.topK(s.read.parquet(s"$tmp/base"),
          "embedding", "vec_id", queryVec(s, d), 20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- transparent ANN planning, HNSW flavor: same rule, registered
    // graph index; efSearch covers each stored sub-graph so the probe
    // is provably exact (q166/q167's device) and the exact top-k SQL
    // is the oracle. Unlike q169 the un-rewritten plan would produce
    // the same rows — the rewrite itself is gated by q169's oracle and
    // AnnIndexRuleSpec's plan assertions; this row gates that the
    // rule + stored-graph probe composition round-trips at every sf ----
    "q171_ann_auto_hnsw" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-hnsw").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      VectorFunctions.topK(s.read.parquet(s"$tmp/base"),
          "embedding", "vec_id", queryVec(s, d), 20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- FILTERED transparent ANN planning — pgvector's dominant
    // production shape `WHERE pred ORDER BY embedding <=> q LIMIT k`
    // (the reference's serving queries always carry a date/entity
    // predicate, cache_manager/service.py:43-58). AnnIndexRule plans it
    // as: over-fetched index probe (k' = k×overfetch) → broadcast
    // join-back on id (reads only id + predicate columns from base,
    // never the wide embedding column) → re-filter → top-k, wrapped in
    // AnnFallbackExec which runs the brute plan at execution time if
    // fewer than k candidates survive. The stored graph index uses a
    // covering efSearch, so probe-or-fallback BOTH equal the
    // brute-force answer — the oracle is plain brute-force SQL and the
    // row stays green at every sf regardless of which branch serves ----
    "q174_ann_filtered" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-filt").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      s.read.parquet(s"$tmp/base")
        .filter(pmod(col("vec_id"), lit(3)) === 0)
        .select(col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"),
            lit(queryVec(s, d))).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- PAYLOAD columns through the transparent planner: `SELECT *`-
    // shaped top-k (the reference serves full EventDTO rows,
    // cache_manager/service.py:48-60). The rule plans the probe plus ONE
    // broadcast join-back on id to recover the label column — the base
    // scan reads (vec_id, label) only, not the embedding array, which is
    // the dominant IO saving at 100 TB ----
    "q175_ann_payload" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-payload").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      s.read.parquet(s"$tmp/base")
        .select(col("vec_id"), col("label"),
          VectorFunctions.cosine_sim(col("embedding"),
            lit(queryVec(s, d))).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- RUNTIME FALLBACK under the oracle: the predicate keeps fewer
    // than k rows in the whole table (vec_id % 97 = 0), so no over-fetch
    // can cover it — AnnFallbackExec's probe branch comes up short at
    // execution time and the brute branch serves the query. Distance
    // form (`1 - cosine` ASC NULLS LAST, the literal pgvector operator
    // shape) with a payload column, so this row gates the fallback ×
    // join-back × distance composition at every sf ----
    "q176_ann_fallback" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-fb").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      s.read.parquet(s"$tmp/base")
        .filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id"), col("label"),
          VectorFunctions.cosine_dist(col("embedding"),
            lit(queryVec(s, d))).as("dist"))
        .orderBy(col("dist").asc_nulls_last, col("vec_id")).limit(20)
        .withColumn("dist_bp", floorBp(col("dist"), 4)).drop("dist")
    }),

    // ---- MULTI-VECTOR (lateral) transparent ANN planning: top-k per
    // QUERY ROW, written as the brute row_number-over-crossjoin window
    // (the q78 hard-negatives shape). AnnIndexRule collects the bounded
    // query side at plan time and rewrites the whole join+window into
    // ONE batched probe of the stored graph index — every sub-graph
    // deserialized once, answering all 100 queries, instead of
    // 100 × |base| cosine evaluations. Covering efSearch keeps the
    // probe exact, so the window SQL is the oracle ----
    "q177_ann_multi" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-multi").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      val queries = t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      queries.crossJoin(s.read.parquet(s"$tmp/base"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"), col("qemb")).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"),
          floorBp(col("score"), 4).as("score_bp"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- ROUTED HNSW (SPANN-style): IVF's cell routing × HNSW's
    // in-cell graph walk. The index is laid out partitionBy(centroid_id)
    // so a probe reads ~nProbe/nCells of the stored bytes (the plain
    // graph index must open EVERY sub-graph per probe — at 1000
    // executors that's a full-index read per query); within each probed
    // cell the search is an ef-bounded walk, not IVF's exhaustive scan.
    // Exhaustive efSearch makes the in-cell walk exact, so the result is
    // bit-identical to the IVF probe at the same centroids — q39's SQL
    // replay is the oracle, and it gates routing AND graph correctness:
    // a mis-routed cell or a lossy (de)serialized graph both mismatch ----
    "q178_ann_routed" -> ((s, d) => {
      import graft.vector.{IvfIndex, RoutedHnsw}
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding", "vec_id", 16)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-rhnsw-q178").toString + "/idx"
      RoutedHnsw.writeRoutedIndex(tSpread(s, d, "embeddings"),
        "embedding", "vec_id", dir, cs,
        graft.vector.HnswIndex.Params(m = 8, efConstruction = 128))
      RoutedHnsw.search(s, dir, "vec_id", cs, queryVec(s, d), k = 20,
          nProbe = 4, graft.vector.HnswIndex.Params(efSearch = 1 << 20))
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

    // ---- transparent planning onto a registered ROUTED index (q169's
    // device, third index family): the plain brute-force topK shape
    // plans into the routed probe because the base path is registered.
    // The oracle is the 4-of-16-cell probe replay — it matches ONLY IF
    // the rewrite fired (brute force returns the global top-20) ----
    "q179_ann_routed_auto" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      import graft.vector.{IvfIndex, RoutedHnsw}
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rhnsw-auto").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding", "vec_id", 16)
      RoutedHnsw.writeRoutedIndex(tSpread(s, d, "embeddings"),
        "embedding", "vec_id", s"$tmp/routed", cs,
        graft.vector.HnswIndex.Params(m = 8, efConstruction = 128))
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.RoutedHnswEntry(s"$tmp/routed", "embedding", "vec_id",
          cs, nProbe = 4,
          graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      VectorFunctions.topK(s.read.parquet(s"$tmp/base"),
          "embedding", "vec_id", queryVec(s, d), 20)
        .withColumn("score_bp", floorBp(col("score"), 4)).drop("score")
    }),

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
    "q180_crossdoc_spans" -> ((s, d) => {
      graft.dedup.Dedup.crossDocSpans(tSpread(s, d, "documents"),
          "text", "doc_id", window = 40)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ---- ExactSubstr EXCISION accounting (keep-first contract): the
    // lowest doc_id sharing a window owns the text; every other doc
    // cuts its merged spans. Output per doc: spans cut, chars cut,
    // chars kept — the corpus-shrink report a dedup stage emits before
    // the cleaned rewrite. Docs owning all their text keep 100% ----
    "q181_exact_substr_dedup" -> ((s, d) => {
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
    }),

    // ---- INCREMENTAL ExactSubstr: a new crawl batch (doc_id%10==7)
    // span-checked against the rest of the corpus through a persisted
    // window-fingerprint index (16 B/distinct window — the hashed-key
    // layout), never re-reading the corpus text. Keep-first by arrival:
    // the indexed corpus owns every window it contains; within the
    // batch the lowest doc id owns windows the corpus lacks ----
    "q183_exact_substr_incr" -> ((s, d) => {
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
    }),

    // ---- int8-quantized IVF probe under the recall-gate contract
    // (q170's pattern): same cell routing as the float probe, scores on
    // 1-byte-per-dim codes (~1/3 the at-rest embedding bytes, spec-
    // measured), recall vs the float probe at IDENTICAL nProbe — pure
    // quantization effect — plus the at-rest size ratio, emitted as
    // deterministic booleans the oracle replays. A quantization
    // regression (recall < 0.8 or store >= half the float store)
    // flips a cell red ----
    "q185_ann_sq8" -> ((s, d) => {
      import graft.vector.IvfIndex
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val k = 20
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding",
        "vec_id", 16)
      // r13 note: persisting `index` across the two writes was
      // A/B-measured a WASH here (2 consumers only; the persist write
      // costs what the saved assignment pass buys) — left on lineage.
      val index = IvfIndex.build(emb, "embedding", "vec_id", cs)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-sq8").toString
      IvfIndex.writeIndex(index, s"$tmp/f")
      IvfIndex.writeIndex(
        IvfIndex.quantizeIndex(index, "embedding", "vec_id"), s"$tmp/q")
      val floatIds = IvfIndex.search(IvfIndex.readIndex(s, s"$tmp/f"),
          "embedding", "vec_id", cs, q, k, nProbe = 4)
        .collect().map(_.getLong(0)).toSet
      val q8Ids = IvfIndex.searchQuantized(IvfIndex.readIndex(s, s"$tmp/q"),
          "vec_id", cs, q, k, nProbe = 4)
        .collect().map(_.getLong(0)).toSet
      val recall = (q8Ids intersect floatIds).size.toDouble / k
      import s.implicits._
      Seq(("sq8_np4", k.toLong, recall >= 0.8,
          parquetDirBytes(s"$tmp/q") * 2 < parquetDirBytes(s"$tmp/f")))
        .toDF("method", "k", "recall_ge_floor", "store_lt_half")
    }),

    // ---- int8-at-rest ROUTED graphs under the same recall-gate
    // contract: same centroids, same routing, graph blobs store int8
    // codes + scale (dequantized on load — the walk code is identical),
    // ~half the store (spec-measured 0.47). Gates quantized-vs-float
    // recall at matched routing/ef plus the size ratio ----
    "q186_ann_graph_sq8" -> ((s, d) => {
      import graft.vector.{HnswIndex, IvfIndex, RoutedHnsw}
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val k = 20
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding",
        "vec_id", 16)
      val p = HnswIndex.Params(m = 8, efConstruction = 64, efSearch = 96)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-gsq8").toString
      // r13: both variants from ONE routing pass (the cell assignment
      // and salt counts are identical; only the blob encoding differs),
      // written concurrently — bit-identical graphs to two separate
      // writeRoutedIndex calls.
      RoutedHnsw.writeRoutedIndexPair(emb, "embedding", "vec_id",
        s"$tmp/f", s"$tmp/q", cs, p)
      def ids(dir: String) = RoutedHnsw
        .search(s, dir, "vec_id", cs, q, k, nProbe = 4, p)
        .collect().map(_.getLong(0)).toSet
      val recall = (ids(s"$tmp/q") intersect ids(s"$tmp/f")).size.toDouble / k
      import s.implicits._
      Seq(("routed_sq8_np4", k.toLong, recall >= 0.8,
          parquetDirBytes(s"$tmp/q") * 2 < parquetDirBytes(s"$tmp/f")))
        .toDF("method", "k", "recall_ge_floor", "store_lt_half")
    }),

    // ---- product quantization (Jégou et al.) under the q185/q186
    // recall-gate contract: 8-byte codes (32× under float at rest, the
    // spec measures ≥8× after parquet framing), ADC shortlist + exact
    // re-rank through a bounded broadcast join-back, IVF cell layout
    // preserved. Gates refined recall@20 and the at-rest ratio ----
    "q190_ann_pq" -> ((s, d) => {
      import graft.vector.{IvfIndex, PqIndex}
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val k = 20
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding",
        "vec_id", 16)
      // r13 note: persisting `index` across the two writes was
      // A/B-measured a WASH here (see q185) — left on lineage.
      val index = IvfIndex.build(emb, "embedding", "vec_id", cs)
      val cb = PqIndex.train(emb, "embedding", "vec_id", 64, m = 8,
        ksub = 64, iters = 3)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-pq").toString
      IvfIndex.writeIndex(index, s"$tmp/f")
      IvfIndex.writeIndex(
        PqIndex.encode(index, "embedding", "vec_id", cb,
          keep = Seq("centroid_id")), s"$tmp/q")
      val codes = IvfIndex.readIndex(s, s"$tmp/q")
      val refined = PqIndex.searchAdcRefined(codes, emb, "embedding",
          "vec_id", cb, q, k, shortlist = 200)
        .collect().map(_.getLong(0)).toSet
      val exact = VectorFunctions.topK(emb, "embedding", "vec_id", q, k)
        .collect().map(_.getLong(0)).toSet
      val recall = (refined intersect exact).size.toDouble / k
      import s.implicits._
      Seq(("pq_m8_k64_refine200", k.toLong, recall >= 0.8,
          // lt_half like q185/q186: at 500-row cells parquet footers
          // dominate; the spec's 4000-row index measures the real >=8x
          parquetDirBytes(s"$tmp/q") * 2 < parquetDirBytes(s"$tmp/f")))
        .toDF("method", "k", "recall_ge_floor", "store_lt_half")
    }),

    // ---- residual IVF-PQ (faiss's IVFPQ default) under the recall-
    // gate contract: codes quantize v − cellMean (k-means cells — the
    // operating point the spec pins), ADC reconstructs centroid+code
    // from precomputed tables. Gates refined recall AND that residual
    // reconstruction beats raw-PQ reconstruction at identical bytes ----
    "q196_ann_pq_residual" -> ((s, d) => {
      import graft.vector.{IvfIndex, PqIndex}
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val k = 20
      val cs = IvfIndex.kmeansCentroids(t(s, d, "embeddings"), "embedding",
        "vec_id", 16, iters = 2)
      // r13: residual training, both encodes, and both MSE aggregates
      // consume the same assignment frame (~6 re-executions of the
      // nearest-centroid pass with pure lineage) — persist it once
      val index = IvfIndex.build(emb, "embedding", "vec_id", cs).persist()
      // 2 Lloyd rounds each: the gate margins (recall 0.9+ vs 0.8
      // floor, MSE ratio ~3x) are far wider than the 3rd round buys
      val rawCb = PqIndex.train(emb, "embedding", "vec_id", 64, m = 8,
        ksub = 64, iters = 2)
      val rcb = PqIndex.trainResidual(index, "embedding", "vec_id", cs,
        64, m = 8, ksub = 64, iters = 2)
      val rawCodes = PqIndex.encode(index, "embedding", "vec_id", rawCb,
        keep = Seq("centroid_id"))
      val resCodes = PqIndex.encodeResidual(index, "embedding", "vec_id",
        rcb, cs)
      val short = PqIndex.searchIvfAdcResidual(resCodes, "vec_id", cs,
          rcb, q, k = 200, nProbe = 16)
        .select(col("vec_id"))
      val refined = VectorFunctions.topK(emb.join(broadcast(short),
          "vec_id"), "embedding", "vec_id", q, k)
        .collect().map(_.getLong(0)).toSet
      val exact = VectorFunctions.topK(emb, "embedding", "vec_id", q, k)
        .collect().map(_.getLong(0)).toSet
      val recall = (refined intersect exact).size.toDouble / k
      // reconstruction MSE as a distributed aggregate: codes join back
      // to the index frame, the decode runs in a projection with the
      // KB-scale codebook broadcast in the closure, and only two
      // doubles reach the driver — corpus-proportional at no point
      val rawErr = PqIndex.reconstructionMse(index, "embedding",
        "vec_id", rawCodes, rawCb)
      val resErr = PqIndex.reconstructionMse(index, "embedding",
        "vec_id", resCodes, rcb, cs)
      index.unpersist()
      import s.implicits._
      Seq(("pq_residual_m8_k64", k.toLong, recall >= 0.8, resErr < rawErr))
        .toDF("method", "k", "recall_ge_floor", "mse_lt_raw")
    }),

    // ---- graph-index maintenance (the graph leg of the four-family
    // contract, IvfIndex.maintainIndex / PqIndex.maintainIndex's
    // sibling): a deliberately fill-degraded plain HNSW index — one
    // weak sub-graph grown by incremental adds to 20x its build size —
    // is DETECTED by the measured recall health probe and REPAIRED by
    // the re-split policy until the measured floor clears. Driver-gated
    // like q185/q186 (the index artifacts live outside the plan); the
    // oracle pins the contract booleans ----
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
    "q200_line_dedup" -> ((s, d) => {
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
    }),

    // ---- domain-cap curation (FineWeb's per-domain contribution cap,
    // C4's origin blocklist grain): keep the top-20 documents per
    // source by (n_chars desc, doc_id), publish the domain-grain stats
    // sheet. One window shuffle on the domain key —
    // InferWindowGroupLimit turns rn <= 20 into a per-partition top-k,
    // so one hot domain never sorts its full document set; the domain
    // grain itself is bounded by the web's registrable-domain count,
    // not corpus size ----
    "q201_domain_cap" -> ((s, d) => {
      import graft.operators.Curation
      Curation.domainStats(tSpread(s, d, "documents"), "source",
          "doc_id", "n_chars", "lang", col("n_chars").desc,
          maxPerDomain = 20)
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("kept_chars"), col("n_langs"))
        .orderBy(col("source"))
    }),

    // ---- INDEX-SERVED hard-negative mining (q78's contract at serving
    // scale): per anchor, the top-5 most-similar vectors with a
    // DIFFERENT label, via the standard post-filter ANN pattern —
    // over-fetch top-20 from the stored graph index (the inner window
    // is exactly the lateral shape AnnIndexRule rewrites into ONE
    // batched probe), label join-back on the id (embedding never
    // re-read — q175's payload contract), filter, re-rank. The
    // over-fetch factor is the declared contract (any post-filter ANN
    // serving stack's): the oracle replays the same top-20-then-filter
    // pipeline, so the gate is deterministic — not a recall gamble on
    // the filter's selectivity ----
    "q202_ann_hard_negatives" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      import graft.vector.HnswIndex
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-hn").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          HnswIndex.Params(efSearch = 1 << 20)))
      val anchors = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(37)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
          col("label").as("qlabel"))
      val probed = anchors.select(col("qid"), col("qemb"))
        .crossJoin(s.read.parquet(s"$tmp/base"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"), col("qemb"))
            .as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 20)
      probed
        .join(t(s, d, "embeddings").select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .join(anchors.select(col("qid"), col("qlabel")), Seq("qid"))
        .filter(col("label") =!= col("qlabel"))
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("neg_rank") <= 5)
        .select(col("qid"), col("vec_id"), col("label"),
          floorBp(col("score"), 4).as("score_bp"), col("neg_rank"))
        .orderBy(col("qid"), col("neg_rank"))
    }),

    // ---- kNN label-agreement audit (confident-learning shape: a
    // vector whose nearest neighbors mostly disagree with its own
    // label is a mislabel suspect). Sampled anchors probe the stored
    // index for their 12 exact nearest non-self neighbors (over-fetch
    // 13 covers self), labels join back on the id, one per-anchor
    // aggregate scores the agreement. The probe is the same ONE
    // batched index pass as q202; nothing label-grain ever shuffles
    // corpus text or embeddings ----
    "q203_knn_label_noise" -> ((s, d) => {
      import graft.plans.{AnnCatalog, AnnIndexRule}
      import graft.vector.HnswIndex
      AnnIndexRule.install(s)
      s.conf.set("spark.graft.ann.minTableBytes", "0")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ann-noise").toString
      t(s, d, "embeddings").write.mode("overwrite").parquet(s"$tmp/base")
      writeEmbGraphIndex(s, d, s"$tmp/graphs")
      AnnCatalog.register(s"$tmp/base",
        AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
          HnswIndex.Params(efSearch = 1 << 20)))
      val anchors = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
          col("label").as("qlabel"))
      val probed = anchors.select(col("qid"), col("qemb"))
        .crossJoin(s.read.parquet(s"$tmp/base"))
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"), col("qemb"))
            .as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 13)
      probed
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("nn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("nn") <= 12)
        .join(t(s, d, "embeddings").select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .join(anchors.select(col("qid"), col("qlabel")), Seq("qid"))
        .groupBy(col("qid"), col("qlabel"))
        .agg(sum((col("label") === col("qlabel")).cast("long"))
          .as("n_agree"))
        .select(col("qid"), col("qlabel"), col("n_agree"),
          (col("n_agree") <= 3).as("suspect"))
        .orderBy(col("qid"))
    }),

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
    "q204_bm25_search" -> ((s, d) => {
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
    }),

    // ---- hybrid retrieval fusion (Reciprocal Rank Fusion, k=60 — the
    // standard serving combiner for a lexical + vector stack): the q204
    // BM25 leg and a cosine leg each contribute their top-20 per
    // anchor; a candidate's fused score adds at most two 1/(60+rank)
    // terms — identical IEEE operands in either engine, so the fusion
    // is bit-exact cross-engine (no rounding gamble on the rank
    // boundary). Full-outer merge on (anchor, doc): RRF by design
    // scores docs found by EITHER leg ----
    "q205_hybrid_rrf" -> ((s, d) => {
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
      val lex = tf.join(qterms, "w")
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
          .as("score0"))
        .withColumn("lrank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score0").desc, col("doc_id"))))
        .filter(col("lrank") <= 20)
        .select(col("qid"), col("doc_id"), col("lrank"))
      // the vector leg rides the STORED graph index (round-8 fix: the
      // brute crossJoin here was the last corpus-proportional cartesian
      // in the query corpus — a full n×(n/113) shuffle at scale). Same
      // registration as q202: the lateral window below is exactly the
      // shape AnnIndexRule rewrites into ONE batched probe, and the
      // covering efSearch makes the probe exact, so the RRF fusion (and
      // the oracle hash) is unchanged.
      locally {
        import graft.plans.AnnIndexRule
        AnnIndexRule.install(s)
        s.conf.set("spark.graft.ann.minTableBytes", "0")
      }
      val tmpRrf = java.nio.file.Files
        .createTempDirectory("graft-rrf").toString
      // r12 note: measured A/B — writing the base spread (32 files)
      // reads as three parallel probe scans but loses more to the
      // 32-file write/commit than it saves (6.4 s → 7.6 s); kept single
      t(s, d, "embeddings").write.mode("overwrite")
        .parquet(s"$tmpRrf/base")
      writeEmbGraphIndex(s, d, s"$tmpRrf/graphs")
      graft.plans.AnnCatalog.register(s"$tmpRrf/base",
        graft.plans.AnnCatalog.HnswEntry(s"$tmpRrf/graphs", "embedding",
          "vec_id", graft.vector.HnswIndex.Params(efSearch = 1 << 20)))
      val emb = s.read.parquet(s"$tmpRrf/base")
      // vec_id keeps its name through the window (the doc_id rename
      // happens above the rank filter): the lateral matcher binds the
      // registered index's id column by attribute, and the ranks are
      // identical either way (same values, same order)
      val vec = t(s, d, "embeddings").filter(col("vec_id") % 113 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        .crossJoin(emb)
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"), col("qemb"))
            .as("cs"))
        .withColumn("vrank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("vrank") <= 20)
        .select(col("qid"), col("vec_id").as("doc_id"), col("vrank"))
      lex.join(vec, Seq("qid", "doc_id"), "full")
        .withColumn("rrf",
          coalesce(lit(1.0d) / (lit(60.0d) + col("lrank")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(60.0d) + col("vrank")), lit(0.0d)))
        .withColumn("frank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("frank") <= 10)
        .select(col("qid"), col("doc_id"), col("lrank"), col("vrank"),
          floor(col("rrf") * lit(1000000.0d) + lit(0.5d)).cast("bigint")
            .as("rrf_upoints"),
          col("frank"))
        .orderBy(col("qid"), col("frank"))
    }),

    "q199_graph_maintenance" -> ((s, d) => {
      import graft.vector.HnswIndex
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 500)
      // scale-stable corpus: 20 deterministic perturbed copies = 10k
      // vectors at EVERY sf (the embeddings table itself varies by sf);
      // the heavy perturbation de-structures the data — the regime
      // where an ef-bounded walk's recall decays fastest with fill
      val OFF = 1000000L
      val perturb = udf { (v: Seq[Float], id: Long, c: Long) =>
        val out = new Array[Float](v.length)
        var i = 0
        while (i < v.length) {
          val h = graft.text.RollingHash.hashToken(
            org.apache.spark.unsafe.types.UTF8String.fromString(s"$c:$id:$i"))
          out(i) = v(i) + (((h % 1000L + 1000L) % 1000L) / 1000.0f - 0.5f) * 0.6f
          i += 1
        }
        out
      }
      val corpus = emb.crossJoin(s.range(20).select(col("id").as("_c")))
        .select((col("vec_id") + col("_c") * OFF).as("vec_id"),
          perturb(col("embedding"), col("vec_id"), col("_c")).as("embedding"))
        .cache()
      try {
        corpus.count()
        val base = corpus.filter(col("vec_id") < OFF)
        val adds = corpus.filter(col("vec_id") >= OFF)
        val p = HnswIndex.Params(m = 4, efConstruction = 16, efSearch = 32)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-gmaint").toString
        HnswIndex.writeGraphIndex(base.repartition(1), "embedding",
          "vec_id", s"$tmp/idx", p, maxPartitionRows = 100000)
        HnswIndex.addToGraphIndex(s, s"$tmp/idx", adds, "embedding",
          "vec_id", p)
        val degraded = HnswIndex.graphIndexRecall(s, s"$tmp/idx", corpus,
          "embedding", "vec_id", nQueries = 4, k = 20, p)
        val (repaired, rebuilt) = HnswIndex.maintainGraphIndex(s,
          s"$tmp/idx", corpus, "embedding", "vec_id", recallFloor = 0.95,
          nQueries = 4, k = 20, params = p, maxRounds = 6)
        import s.implicits._
        Seq(("hnsw_resplit", degraded < 0.95, rebuilt, repaired >= 0.95))
          .toDF("method", "degraded_lt_floor", "rebuilt",
            "repaired_ge_floor")
      } finally { corpus.unpersist(); () }
    }),

    // ---- pure-SQL reach of the curation surface (q48's contract
    // extended to the round-6 operators): gopher_repetition /
    // gopher_quality register as scalar struct functions,
    // DSIR as a SQL TABLE function — a SQL-only user composes the
    // curation funnel without touching the Column API. quality_prob's
    // SQL==Column parity is gated in ExtensionsSpec (its weights come
    // from a trained model, which no relational oracle can replay) ----
    "q198_sql_curation" -> ((s, d) => {
      GraftFunctions.register(s)
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
    }),

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
    "q197_bpe_tokenize" -> ((s, d) => {
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
    }),

    // ---- multi-step BPE tokenizer training (the iterative extension
    // of q89's single merge step): 20 merges learned on the frequency-
    // weighted VOCABULARY (per-iteration cost independent of corpus
    // size), then the corpus re-tokenized under them. The oracle
    // replays the FIRST merge relationally (q89's argmax) — a real
    // check that the trainer's counting+tie-break agree with SQL —
    // plus the constants the spec pins (merge count, compression) ----
    "q195_bpe_train" -> ((s, d) => {
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
    }),

    // ---- Zipf slope per source (corpus-profiling statistic: natural
    // text fits log f ≈ a + s·log r with s near −1; synthetic or
    // degenerate corpora deviate — a drift detector for ingest). The
    // rank window is per-source over the VOCABULARY grain (≪ corpus);
    // the regression is one moment aggregate, map-side combinable ----
    "q194_zipf_slope" -> ((s, d) => {
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
    }),

    // ---- the curation FUNNEL: the four q187-q191 stages composed the
    // way a real corpus-curation run chains them, reporting per-stage
    // survivor counts (raw → repetition rules → quality rules →
    // decontamination → DSIR selection). Each stage frame is the same
    // plan as its standalone query; the funnel is four left joins on
    // doc_id + one aggregate — at 100 TB the flags frame is one row
    // per doc and the count aggregate is map-side combinable ----
    "q193_filter_funnel" -> ((s, d) => {
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
    }),

    // ---- trained quality classifier (fastText/CCNet shape): hashed
    // bag-of-words logistic regression, full-batch gradient descent
    // where each iteration is one map pass + one feature-grain
    // aggregate and the driver holds only the 1024-double weight
    // vector. Label = the langId rule (distillation of q20's regex
    // into a classifier); holdout = doc_id % 5. Driver-gated like
    // q170/q185: booleans for loss reduction and holdout accuracy ----
    "q192_quality_classifier" -> ((s, d) => {
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
    }),

    // ---- DSIR importance selection (Xie et al. 2023): every doc
    // scored by the avg log unigram importance ratio between the
    // target sample (lang='en' here) and the raw corpus; the ratio
    // table joins back on the word key by SHUFFLE (vocabulary is
    // Heaps-unbounded — never broadcast, the q88 lesson) ----
    "q191_dsir_select" -> ((s, d) => {
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
    }),

    // ---- Gopher repetition rules (Rae et al. 2021 App. A): mode-word,
    // top-2-gram and duplicate-3-gram fractions + keep flag. The whole
    // rule set is ONE shuffle-free higher-order-function projection
    // (array_sort + fold + array_distinct) — a 100 TB corpus scan stays
    // a single codegen pass reading only (doc_id, text) ----
    "q187_gopher_repetition" -> ((s, d) => {
      TextFunctions.gopherRepetition(tSpread(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("n_words"),
          floorBp(col("top_word_frac"), 4).as("top_word_frac_bp"),
          floorBp(col("top_2gram_frac"), 4).as("top_2gram_frac_bp"),
          floorBp(col("dup_3gram_frac"), 4).as("dup_3gram_frac_bp"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher quality rules: word-count bounds, mean word length,
    // alphabetic-word fraction, required-stopword hits. Same
    // zero-shuffle projection shape as q187 ----
    "q188_gopher_quality" -> ((s, d) => {
      TextFunctions.gopherQuality(tSpread(s, d, "documents"),
          "text", "doc_id")
        .select(col("doc_id"), col("n_words"),
          floorBp(col("mean_word_len"), 4).as("mean_word_len_bp"),
          floorBp(col("alpha_word_frac"), 4).as("alpha_word_frac_bp"),
          col("stop_hits"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- benchmark decontamination (GPT-3-style eval-leakage check):
    // flag training docs sharing any distinct word-3-gram with the
    // held-out set (doc_id % 97 == 0 models the benchmark corpus).
    // Grams are distinct-per-doc BEFORE the explode; the tiny eval
    // side is AQE-broadcast with no forced hint ----
    "q189_decontaminate" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.decontaminate(docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_hits"),
          floorBp(col("contam_frac"), 4).as("contam_frac_bp"))
        .orderBy(col("doc_id"))
    }),

    // ---- temperature-flattened corpus mixture (Conneau-Lample
    // p_g ∝ q_g^0.5): per-language rates on an integer basis-point
    // grid (α fixed at 0.5 — sqrt is IEEE-correctly-rounded in every
    // engine, pow is not), per-doc Bernoulli + upsampling from the
    // q173 closed-form hash. One tiny-group aggregate broadcast back
    // over the corpus grain; rare langs emit > 1 copy (capped 3×) ----
    "q184_temperature_mix" -> ((s, d) => {
      import graft.operators.MixtureSample
      val docs = tSpread(s, d, "documents")
        .withColumn("lang_pred", TextFunctions.langId(col("text")))
      MixtureSample.temperatureSample(docs, col("lang_pred"), "doc_id",
          gainBp = 6000, capBp = 30000, seed = 17L)
        .select(col("doc_id"), col("group").as("grp"), col("rate_bp"),
          col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // ---- the CLEANED CORPUS itself: q181's spans excised from the
    // text (the emit of an ExactSubstr stage — stats alone don't train
    // a model). Spans collapse to one bounded array row per doc, one
    // join back, then a map-side fold stitches the kept segments — the
    // text never shuffles beyond that single join. md5 of the rewrite
    // makes any stitching error a hash mismatch ----
    "q182_excised_corpus" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      val spans = graft.dedup.Dedup.crossDocSpans(docs,
        "text", "doc_id", window = 40, keepFirst = true)
      graft.dedup.Dedup.exciseSpans(docs, "text", "doc_id", spans)
        .select(col("doc_id"),
          length(col("cleaned")).cast("bigint").as("kept_len"),
          md5(col("cleaned")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- GPT-style sequence packing: tokenize, concatenate the token
    // stream in doc_id order, chunk into fixed context windows (L=512)
    // — the standard pretraining sample-packing layout. The exact
    // global token offset comes from GlobalOrder.withRunningSumLong
    // (ONE range shuffle + broadcast prefix carry; long addition is
    // associative so the partition-split accumulation is bit-identical
    // to the sequential window) — never the single-partition
    // `sum() OVER (ORDER BY ...)` scale-killer. Output: which context
    // windows each document spans ----
    "q172_sequence_pack" -> ((s, d) => {
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
    }),

    // ---- deterministic EPOCH SHUFFLE + sharding: the training-order
    // stage of a data pipeline. Permutation key is the closed-form
    // multiplicative hash (engine-agnostic, same family the IVF
    // centroid pick replays in SQL) seeded by the epoch; the global
    // position comes from GlobalOrder.withRowNumber (one range
    // shuffle), then docs are cut into fixed-size output shards. A
    // different epoch seed yields a different permutation with zero
    // data movement beyond the one range shuffle ----
    "q173_epoch_shuffle" -> ((s, d) => {
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
    }),

    // ---- APPROXIMATE-mode ANN under the driver oracle (q166/q167 gate
    // exact mode; this gates the production knobs): probe HNSW at serve
    // efSearch=48 and IVF at nProbe=4<16, compute recall@20 against the
    // in-engine exact top-k, and emit the floor comparison as a
    // deterministic row the DuckDB oracle replays as constants. A recall
    // regression below the floor flips the boolean → hash mismatch →
    // red CORRECTNESS cell. Driver state is 3×k ids (bounded).
    // Measured recalls (this machine, all three sfs): hnsw 1.00,
    // ivf@4 0.90-1.00 — floors 0.9/0.8 leave regression margin ----
    "q170_ann_recall" -> ((s, d) => {
      import graft.vector.{HnswIndex, IvfIndex}
      val emb = tSpread(s, d, "embeddings")
      val q = queryVec(s, d)
      val k = 20
      val exact = VectorFunctions.topK(emb, "embedding", "vec_id", q, k)
        .collect().map(_.getLong(0)).toSet
      val hnsw = HnswIndex.searchTopK(emb, "embedding", "vec_id", q, k,
          HnswIndex.Params(m = 8, efConstruction = 128, efSearch = 48))
        .collect().map(_.getLong(0)).toSet
      val cs = IvfIndex.centroids(t(s, d, "embeddings"), "embedding", "vec_id", 16)
      val ivf = IvfIndex.search(IvfIndex.build(emb, "embedding", "vec_id", cs),
          "embedding", "vec_id", cs, q, k, nProbe = 4)
        .collect().map(_.getLong(0)).toSet
      val rH = (hnsw & exact).size.toDouble / k
      val rI = (ivf & exact).size.toDouble / k
      import s.implicits._
      Seq(("hnsw_ef48", k.toLong, rH >= 0.9), ("ivf_np4", k.toLong, rI >= 0.8))
        .toDF("method", "k", "recall_ge_floor")
        .orderBy(col("method"))
    }),

    // ---- multimodal fan-out ops under the oracle: frame-sample the
    // "videos" (every stride-th byte window as a frame row) and chunk
    // the "audio" into fixed-duration windows (byte span derived from
    // THIS clip's bytes-per-ms — variable bitrate across rows), then
    // per-doc part stats. The decode is the declared stub; the
    // explode/substring/metadata plumbing is the real thing and the
    // oracle replays its arithmetic exactly ----
    "q168_media_parts" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(tSpread(s, d, "documents"))
      val frames = Multimodal.sampleFrames(media, stride = 4, frameBytes = 32)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("frame_len")).cast("bigint").as("sum_part_bytes"))
        .withColumn("media_type", lit("video"))
      val chunks = Multimodal.chunkAudio(media, windowMs = 5000)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("chunk_len")).cast("bigint").as("sum_part_bytes"))
        .withColumn("media_type", lit("audio"))
      frames.unionByName(chunks)
        .select(col("doc_id"), col("media_type"), col("n_parts"),
          col("sum_part_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ---- chunk-level dedup join: docs sharing ≥2 CDC chunks are
    // near-dup/containment candidates. One shuffle on the chunk hash,
    // map-side pair expansion, doc-frequency cap as the boilerplate
    // guard (Dedup.sharedKeyPairs — the same harness the shingle and
    // LSH paths use) ----
    "q91_chunk_dedup_pairs" -> ((s, d) => {
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
    }),

    // ---- LM-perplexity quality filter (KenLM-family): a bigram model
    // trained ON the corpus scores each doc; P(w2|w1) = (c(w1,w2)+1) /
    // (c(w1)+V) with add-one smoothing. ONE token lineage feeds both the
    // model counts and the per-doc scoring. The count-frame joins are
    // deliberately UN-hinted: the bigram vocabulary grows with corpus
    // content (Heaps-law sub-linear but unbounded — billions of distinct
    // bigrams at 100 TB), so a forced broadcast would OOM the executors
    // at scale; AQE broadcasts at bench scale and shuffle-hash-joins
    // beyond the threshold. Only the 1-row vocab-size frame keeps an
    // explicit broadcast ----
    "q88_lm_perplexity" -> ((s, d) => {
      // r12: bigrams via the map-side adjacentPairs array (w2 NULL on a
      // doc's last token) — no posexplode + window-lead shuffle; ONE
      // checkpointed pair-grain aggregate (vocabulary-grain) derives
      // cb, cu AND V, so the corpus is scanned twice (model + probe),
      // not four times. Counts are bit-identical by construction.
      val pairs = tSpread(s, d, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pairs.filter(col("w2").isNotNull)
      val biCounts = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val vocab = uniCounts.agg(count(lit(1)).as("v"))
      big.join(biCounts, Seq("w", "w2"))
        .join(uniCounts, Seq("w"))
        .crossJoin(broadcast(vocab))
        .withColumn("lp_bp", floorBp(
          log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))), 4))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (-ratioBp(sum(col("lp_bp")), count(lit(1)), 0))
            .as("ppl_bits_bp"))
        .withColumn("keep", col("ppl_bits_bp") < 70000L)
        .orderBy(col("doc_id"))
    }),

    // ---- one BPE-training iteration: adjacent-symbol pair frequencies
    // over the word vocabulary (weighted by word frequency), the argmax
    // pair being the merge a tokenizer trainer would apply. Counting
    // runs on the VOCABULARY (words × chars), not the corpus — the
    // standard trick that makes BPE training corpus-size-independent ----
    "q89_bpe_merge_step" -> ((s, d) => {
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
    }),

    // ---- ordered funnel (view → click → purchase): each stage's first
    // qualifying time is a windowed conditional min over the PREVIOUS
    // stage's — three Window nodes over ONE user-partitioned exchange
    // (Spark reuses the shuffle across same-partitioning windows) ----
    "q87_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("fv",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("fc",
          min(when(col("event_type") === "click" && col("us") > col("fv"),
            col("us"))).over(w))
        .withColumn("fp",
          min(when(col("event_type") === "purchase" && col("us") > col("fc"),
            col("us"))).over(w))
      e.groupBy(lit(1).as("funnel"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("fv").isNotNull, col("user_id")))
            .as("n_viewed"),
          countDistinct(when(col("fc").isNotNull, col("user_id")))
            .as("n_clicked_after_view"),
          countDistinct(when(col("fp").isNotNull, col("user_id")))
            .as("n_purchased_after_click"))
        .drop("funnel")
    }),

    // ---- recursive CTE (Spark 4.1): ancestor walk over the implicit
    // binary-tree hierarchy parent(k) = k DIV 2 — the same iterative
    // fixpoint Dedup.propagateClusters runs as DataFrame loops, here as
    // the declarative SQL form ----
    "q85_recursive_cte" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_q85")
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT c_custkey AS start, c_custkey AS node,
          |         CAST(0 AS BIGINT) AS depth
          |  FROM customer_q85 WHERE c_custkey < 32
          |  UNION ALL
          |  SELECT start, node DIV 2 AS node, depth + 1 AS depth
          |  FROM anc WHERE node > 0)
          |SELECT start, node, depth FROM anc
          |ORDER BY start, depth""".stripMargin)
    }),

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
    "q206_bloom_incr_dedup" -> ((s, d) => {
      import graft.sketch.BloomPrune
      val docs = tSpread(s, d, "documents")
        .withColumn("k", xxhash64(concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 1, 12))))
      val corpus = docs.filter(col("doc_id") % 10 < 8)
      val batch = docs.filter(col("doc_id") % 10 >= 8)
      BloomPrune.antiJoin(batch, corpus, "k")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- MMR-diversified retrieval (maximal marginal relevance — the
    // standard serving-side diversifier over an ANN candidate pool):
    // the top-20 relevance pool is computed distributed (one codegen
    // cosine scan + TakeOrdered, no full sort), then the greedy
    // λ·rel − (1−λ)·max-sim re-rank runs over the k-row pool on the
    // driver (k-bounded, the q170 contract — never
    // corpus-proportional). Cross-engine parity: both engines argmax
    // on UNROUNDED doubles and only display at 4dp; with random float
    // embeddings the chance of an mmr near-tie within one ulp is ~0
    // (the q18 ordering precedent) ----
    "q207_mmr_diversify" -> ((s, d) => {
      import s.implicits._
      val em = t(s, d, "embeddings")
      val qv = em.filter(col("vec_id") === 0)
        .select(col("embedding").as("qemb"))
      val pool = em.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          graft.vector.VectorFunctions.cosine_sim(
            col("embedding"), col("qemb")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
      val cand = pool.collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
          r.getDouble(2))
      }
      // same arithmetic as CosineSimilarity.nullSafeEval: double
      // accumulation in index order, dot / sqrt(na * nb)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      }
      // literal 0.3, NOT 1.0-0.7 (= 0.30000000000000004): the oracle's
      // 0.3::DOUBLE must be the identical IEEE operand
      val lambda = 0.7d; val oneMinusLambda = 0.3d
      val remaining = scala.collection.mutable.ArrayBuffer(cand.toSeq: _*)
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val sel = Seq.newBuilder[(Int, Long, Long, Long)]
      var rank = 1
      while (rank <= 5 && remaining.nonEmpty) {
        var bi = -1; var bmmr = Double.NegativeInfinity
        var bid = Long.MaxValue
        var i = 0
        while (i < remaining.length) {
          val (id, emb, rel) = remaining(i)
          // true max over the selected set (may be negative) — the
          // oracle's correlated max(); 0.0 only for the empty set
          var ms = 0.0
          if (chosen.nonEmpty) {
            ms = Double.NegativeInfinity
            var j = 0
            while (j < chosen.length) {
              val c = cos(emb, chosen(j)); if (c > ms) ms = c; j += 1
            }
          }
          val m = lambda * rel - oneMinusLambda * ms
          if (m > bmmr || (m == bmmr && id < bid)) {
            bi = i; bmmr = m; bid = id
          }
          i += 1
        }
        val (id, emb, rel) = remaining.remove(bi)
        chosen += emb
        sel += ((rank, id, math.floor(rel * 1e4 + 0.5).toLong,
          math.floor(bmmr * 1e4 + 0.5).toLong))
        rank += 1
      }
      sel.result().toDF("rank", "vec_id", "rel_bp", "mmr_bp")
        .orderBy(col("rank"))
    }),

    // ---- token-budget corpus selection (fill a fixed training-token
    // budget from the best documents — the stage quality scores feed):
    // exact greedy prefix over (quality DESC, doc_id), but computed in
    // the BANDED two-phase shape — per-band token totals find the
    // boundary band, better bands keep wholesale map-side, and only
    // ~1/1000 of the corpus pays an ordered cumsum window. The oracle
    // replays the global single-window form; banding is provably the
    // same prefix (floor(q·1000) is monotone in q) ----
    "q208_token_budget" -> ((s, d) => {
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
    }),

    // ---- per-label embedding dispersion sheet (corpus diversity
    // audit: how spread out is each label's slice of embedding space?):
    // trace-of-covariance via E‖x‖² − ‖E[x]‖², computed ENTIRELY from
    // exact integer sums of 4dp-quantized elements (the q52 idiom —
    // float avg accumulation order is engine-specific; bigint sums are
    // not). Two map-side-combined aggregates: (label, dim) grain, then
    // label grain; the final double math runs on identical exact-int
    // operands in both engines ----
    "q209_embedding_diversity" -> ((s, d) => {
      val qv = floor(col("col").cast("double") * lit(10000d) + lit(0.5d))
        .cast("bigint")
      val per = t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), col("pos"), qv.as("qv"))
      val dims = per.groupBy(col("label"), col("pos"))
        .agg(sum(col("qv")).as("sd"),
          sum(col("qv") * col("qv")).as("sq"),
          count(lit(1)).as("n"))
      dims.groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          sum(col("sq")).as("ssq"),
          sum(col("sd") * col("sd")).as("cnorm"))
        .select(col("label"), col("n_vecs"),
          floor((col("ssq").cast("double") / col("n_vecs") -
            col("cnorm").cast("double") /
              (col("n_vecs") * col("n_vecs"))) /
            lit(1.0e8) * lit(1000000d) + lit(0.5d)).cast("bigint")
            .as("dispersion_up"))
        .orderBy(col("label"))
    }),

    // ---- canonical-document selection per near-dup cluster (the
    // "keep which one" half of near-dedup — FineWeb/C4 keep-longest
    // policy): clusters from the q124 simhash Hamming graph +
    // label-propagation CC, then ONE window shuffle on cluster_id —
    // rn = 1 is a per-partition top-1 (InferWindowGroupLimit), the
    // cluster-size count rides the same exchange. Output grain is
    // clusters; text never moves — only (doc_id, length) pairs reach
    // the window ----
    "q210_dup_canonical" -> ((s, d) => {
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
    }),

    // ---- corpus data card (multi-dimensional rollup for the dataset
    // datasheet: totals by language × length band, each margin, and
    // the grand total): GROUP BY CUBE compiles to ONE Expand +
    // aggregate — a single shuffle at 4× row multiplicity, not four
    // scans of a 100 TB corpus. grouping() drives the sentinel columns
    // so real values can never collide with the ALL rows ----
    "q211_corpus_cube" -> ((s, d) => {
      import graft.text.TextFunctions
      val base = tSpread(s, d, "documents")
        .select(col("lang"),
          least(floor(col("n_chars") / lit(400)), lit(4L))
            .cast("bigint").as("band"),
          TextFunctions.tokenCount(col("text")).cast("bigint")
            .as("n_toks"),
          col("n_chars"))
      base.cube(col("lang"), col("band"))
        .agg(grouping(col("lang")).as("gl"),
          grouping(col("band")).as("gb"),
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("tot_tokens"),
          sum(col("n_chars")).as("tot_chars"))
        .select(
          when(col("gl") === 1, lit("ALL"))
            .otherwise(col("lang")).as("lang"),
          when(col("gb") === 1, lit(-1L))
            .otherwise(col("band")).as("band"),
          col("n_docs"), col("tot_tokens"), col("tot_chars"))
        .orderBy(col("lang"), col("band"))
    }),

    // ---- percentile-threshold selection WITHOUT a global sort (pick
    // the p90 length cutoff, then keep everything above it — the
    // quality-threshold pattern at corpus scale): pass 1 builds a
    // fixed-width histogram (one shuffle onto a BOUNDED bin key — the
    // bin count is data-range/50, not corpus size), the cumulative
    // window runs on that tiny frame, the chosen cutoff rides back as
    // a 1-row broadcast cross join, pass 2 filters + aggregates. The
    // naive form sorts 100 TB to find one number; this never sorts
    // anything bigger than the histogram ----
    "q212_percentile_threshold" -> ((s, d) => {
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
    }),

    // ---- proportional stratified sampling (per-language corpus
    // sample for eval sets / data audits, deterministic replay): the
    // rank key is md5(doc_id:lang) — a seeded uniform order any engine
    // reproduces bit-for-bit, unlike rand(). ONE window exchange on
    // the stratum key carries both the row_number and the stratum
    // count; allocation is max(2, |stratum|/100) so strata keep
    // proportional representation with a floor. Docs never move twice
    // and nothing reaches the driver ----
    "q213_stratified_sample" -> ((s, d) => {
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
    }),

    // ---- corpus snapshot diff (dataset versioning: what changed
    // between corpus v1 and v2 — the release-notes sheet every
    // training-data drop ships with): v2 is derived deterministically
    // from v1 in-query (md5-parity removes ~1/16, revises ~1/16, adds
    // ~1/16 under shifted ids) so both engines build the identical
    // pair. The diff itself is the scale pattern: ONE full-outer
    // shuffle join on the id comparing md5 CONTENT HASHES — text never
    // crosses the wire twice, and the status sheet is bounded by
    // sources × 4 ----
    "q214_snapshot_diff" -> ((s, d) => {
      val v1 = tSpread(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val base = v1.withColumn("h",
        substring(md5(col("doc_id").cast("string")), 1, 1))
      val kept = base.filter(col("h") =!= "0")
        .select(col("doc_id"), col("source"),
          when(col("h") === "1", concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
      val added = base.filter(col("h") === "2")
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("source"), concat(lit("new "), col("text")).as("text"))
      val v2 = kept.unionAll(added)
      val a = v1.select(col("doc_id"), col("source").as("src1"),
        md5(col("text")).as("h1"))
      val b = v2.select(col("doc_id"), col("source").as("src2"),
        md5(col("text")).as("h2"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src1"), col("src2")).as("source"),
          when(col("h1").isNull, lit("added"))
            .when(col("h2").isNull, lit("removed"))
            .when(col("h1") =!= col("h2"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("status"))
    }),

    // ---- join-key skew advisor (the salting decision input q53's
    // SaltedJoin consumes, computed instead of guessed): per-key
    // counts (one shuffle — the frame is bounded by DISTINCT keys),
    // then a scalar stats row + the deterministic hottest key
    // (smallest id among the max-count ties). skew_ppm and the
    // suggested salt factor are exact integer arithmetic so both
    // engines emit identical rows. Run over both demo join keys;
    // output grain = analyzed columns ----
    "q215_skew_advisor" -> ((s, d) => {
      def advise(df: DataFrame, tag: String): DataFrame = {
        val counts = df.groupBy(col("k")).agg(count(lit(1)).as("c"))
        val stats = counts.agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"), max(col("c")).as("max_c"))
        val hot = counts.join(broadcast(stats),
            col("c") === col("max_c"))
          .agg(min(col("k")).as("hot_key"))
        stats.crossJoin(broadcast(hot))
          .select(lit(tag).as("key_col"), col("n_keys"), col("n_rows"),
            col("max_c"), col("hot_key"),
            // integral div end to end: double division + truncate can
            // land one below the exact floor near integer boundaries
            expr("max_c * 1000000L div n_rows").as("skew_ppm"),
            expr("greatest(1L, max_c div " +
              "(greatest(1L, n_rows div n_keys) * 4L))")
              .as("salt_factor"))
      }
      val ev = t(s, d, "events").select(col("user_id").as("k"))
      val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"))
      advise(ev, "events.user_id")
        .unionAll(advise(li, "lineitem.l_orderkey"))
        .orderBy(col("key_col"))
    }),

    // ---- blocklist filtering (C4's badwords pass): drop any document
    // containing a blocklisted term, publish the per-source impact
    // sheet. The hot path is ONE zero-exchange codegen projection —
    // word-boundary regex count over the text column — followed by a
    // bounded per-source aggregate; at 100 TB this is scan-rate work
    // with nothing shuffled but the sheet ----
    "q216_blocklist_filter" -> ((s, d) => {
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
    }),

    // ---- soft deduplication (weight duplicates down instead of
    // dropping them — each exact-dup cluster contributes ONE document's
    // worth of tokens, spread across its members): cluster sizes come
    // from one groupBy on the md5 CONTENT HASH (32-byte keys, text
    // never shuffles), weights are exact integer ppm so the effective-
    // token arithmetic replays bit-for-bit. Output: per-source raw vs
    // effective token totals — the "how much data do I really have"
    // sheet ----
    "q217_soft_dedup_weights" -> ((s, d) => {
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
    }),

    // ---- token-balanced training shards (webdataset-style packing:
    // consecutive docs in deterministic hash order fill ~25k-token
    // shards): shard id = exact global EXCLUSIVE prefix sum div budget,
    // computed with the banded two-phase pattern — 256 hex-prefix
    // bands, per-band totals to the driver (bounded), offsets
    // broadcast back, per-band window cumsum. No global sort, no
    // single-partition window; the oracle replays the one-window
    // global form, which banding provably equals ----
    "q218_token_shards" -> ((s, d) => {
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
    }),

    // ---- tokenizer fertility sheet (the standard per-language
    // tokenizer eval: BPE-ish tokens per word and chars per token —
    // high fertility means a language is paying more sequence length
    // per word): one zero-exchange projection computing both token
    // counts, one bounded per-language aggregate; ratios in exact
    // basis-point integer arithmetic after the sums ----
    "q219_tokenizer_fertility" -> ((s, d) => {
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
    }),

    // ---- bucketed co-located join (the fact-table layout decision at
    // 100 TB: bucket both sides on the join key at write time and the
    // daily join never shuffles again): both tables saved via
    // BucketedStore.saveBucketed(8 buckets on the order key), and the
    // query REQUIRES at plan time that the join has no
    // hashpartitioning exchange — the gate fails if the bucketed
    // layout stops being exchange-free, so the property is verified on
    // every run, not assumed from the spec. Money in exact cents ----
    "q220_bucketed_join" -> ((s, d) => {
      import graft.store.BucketedStore
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          cents(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .as("rev_cents"))
      // a fresh metastore with a stale warehouse dir refuses the name:
      // drop both table AND leftover location before writing
      Seq("g_q220_orders", "g_q220_lineitem").foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
            .getPath, tbl)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        if (loc.exists()) rm(loc)
      }
      BucketedStore.saveBucketed(o, "g_q220_orders", Seq("o_orderkey"),
        buckets = 8)
      BucketedStore.saveBucketed(l, "g_q220_lineitem", Seq("o_orderkey"),
        buckets = 8)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = s.table("g_q220_orders")
          .join(s.table("g_q220_lineitem"), "o_orderkey")
        val plan = j.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must be exchange-free, got:\n$plan")
        j.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("rev_cents")).as("rev_cents"))
          .orderBy(col("o_orderpriority"))
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    // ---- event burst collapse (streaming windowed dedup in its batch
    // replay form — dropDuplicatesWithinWatermark's semantics: within
    // a (user, event_type) stream, events ≤600 s after their
    // predecessor are the same burst; keep the first of each burst):
    // ONE window exchange on the composite key, gap test in exact
    // microsecond integers, then a bounded per-type sheet. The
    // streaming twin runs the same lag logic inside
    // flatMapGroupsWithState; batch and stream agree because the gap
    // rule only looks backward ----
    "q221_event_burst_dedup" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      e.withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("first",
          col("prev").isNull || (col("us") - col("prev")) > 600000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("first"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("first"), 1L).otherwise(0L)).as("n_collapsed"))
        .orderBy(col("event_type"))
    }),

    // ---- REAL audio decode (closes the declared audio stub the way
    // round 7 closed images): deterministic PCM16 WAV payloads are
    // encoded per audio doc (samples from pure integer arithmetic),
    // then the stats — duration, RMS, peak, clipping — are computed by
    // DECODING the actual RIFF bytes through WavCodec. Zero exchanges:
    // one codegen'd projection per row, the orderBy is presentation.
    // The oracle replays every stat from the same sample formula; the
    // only floating steps (one divide + sqrt) are IEEE-correctly-
    // rounded, hence engine-portable ----
    "q222_audio_stats" -> ((s, d) => {
      import graft.multimodal.{SyntheticMedia, WavCodec}
      val gen = udf { (d0: Long) => SyntheticMedia.wavPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        WavCodec.decode(bytes).map { c =>
          val t = WavCodec.stats(c)
          (t.sampleRate.toLong, t.frames.toLong, t.durationMs, t.rms,
            t.peak.toLong, t.clipped)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("sample_rate"),
          col("t._2").as("n_frames"),
          col("t._3").as("duration_ms"),
          floor(col("t._4") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("rms_bp"),
          col("t._5").as("peak"),
          col("t._6").as("n_clipped"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL video decode (the last modality; q222's shape for
    // YUV4MPEG2): deterministic C420 clips are encoded per video doc —
    // luma AND chroma planes from pure integer arithmetic — then frame
    // count, duration, mean luma, and frame-to-frame motion are
    // computed by DECODING the actual Y4M bytes through Y4mCodec. One
    // codegen projection, zero exchanges before the presentation sort;
    // the oracle replays the luma/motion sums from the same formula
    // and pins the encoder's byte layout via n_bytes ----
    "q223_video_stats" -> ((s, d) => {
      import graft.multimodal.{SyntheticMedia, Y4mCodec}
      val gen = udf { (d0: Long) => SyntheticMedia.y4mPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        Y4mCodec.decode(bytes).map { v =>
          val t = Y4mCodec.stats(v)
          (t.nFrames.toLong, t.durationMs, t.lumaMean, t.motionMean,
            bytes.length.toLong)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("n_frames"),
          col("t._2").as("duration_ms"),
          floor(col("t._3") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("luma_mean_bp"),
          floor(col("t._4") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("motion_mean_bp"),
          col("t._5").as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ---- matryoshka truncation recall (the embedding-serving cost
    // eval: how much top-k recall survives storing/serving only the
    // first 32/16/8 of 64 dims — the MRL deployment question): a FIXED
    // 4-anchor panel (constant, never corpus-proportional — this is
    // deliberately NOT the q205 anchor-per-113-rows shape) scans the
    // corpus ONCE computing all four cosines in one projection; the
    // four rank windows share ONE exchange on the anchor key
    // (InferWindowGroupLimit inapplicable — ranks feed an aggregate —
    // but each partition is one anchor's scan, streamed once); overlap
    // counts are one aggregate + a 12-row stack unpivot. Rank ties
    // break on vec_id; scores compare unrounded in both engines (the
    // q18 ordering contract) ----
    "q224_matryoshka_recall" -> ((s, d) => {
      val emb = tSpread(s, d, "embeddings")
      val anchors = t(s, d, "embeddings").filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def cos(dim: Int) =
        if (dim == 64) VectorFunctions.cosine_sim(col("embedding"), col("qe"))
        else VectorFunctions.cosine_sim(
          slice(col("embedding"), 1, dim), slice(col("qe"), 1, dim))
      def rk(c: String) = row_number().over(
        Window.partitionBy(col("qid")).orderBy(col(c).desc, col("vec_id")))
      anchors.crossJoin(emb)
        .select(col("qid"), col("vec_id"), cos(64).as("sf"),
          cos(32).as("s32"), cos(16).as("s16"), cos(8).as("s8"))
        .withColumn("rf", rk("sf"))
        .withColumn("r32", rk("s32"))
        .withColumn("r16", rk("s16"))
        .withColumn("r8", rk("s8"))
        .groupBy(col("qid"))
        .agg(
          sum(when(col("rf") <= 20 && col("r32") <= 20, 1L)
            .otherwise(0L)).as("o32"),
          sum(when(col("rf") <= 20 && col("r16") <= 20, 1L)
            .otherwise(0L)).as("o16"),
          sum(when(col("rf") <= 20 && col("r8") <= 20, 1L)
            .otherwise(0L)).as("o8"))
        .selectExpr("qid",
          "stack(3, 8L, o8, 16L, o16, 32L, o32) as (tdim, n_overlap)")
        .orderBy(col("qid"), col("tdim"))
    }),

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
    "q225_domain_reweight" -> ((s, d) => {
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
    }),

    // ---- packed-sequence attention-span manifest (q172's packing
    // inverted to the artifact the TRAINER consumes: per context
    // window, which document spans it contains and where — the
    // cross-document attention mask / loss-boundary manifest). Same
    // GlobalOrder exact token offsets (one range shuffle, no
    // single-partition window); the explode is bounded by
    // total_tokens/L + n_docs rows — linear, and each chunk's spans
    // provably sum to exactly L except the final one ----
    "q226_pack_manifest" -> ((s, d) => {
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
    }),

    // ---- dynamic-batching padding-waste audit (the fine-tuning /
    // inference batching decision: variable-length sequences padded to
    // the batch max burn compute — how much does length-sorted
    // batching save?): both global orders come from GlobalOrder (one
    // range shuffle each, never a single-partition window), batch id =
    // (rank-1) div B, then two bounded aggregates. Waste in exact
    // integer ppm. On this corpus the sheet shows ~42% of padded
    // tokens wasted in arrival order vs ~5% length-sorted — the number
    // that justifies the sort ----
    "q227_batch_padding" -> ((s, d) => {
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
    }),

    // ---- deterministic span-corruption masks (T5/UL2 denoising
    // objective prep): ~15% of tokens in 2-4-token spans, one span per
    // 20-token stratum, start jittered by the closed-form
    // multiplicative hash (q173's engine-agnostic permutation family —
    // NOT rand(): at 100 TB the mask is recomputable from the doc id
    // alone, no mask table to persist, and strata guarantee
    // non-overlap by construction). One bounded explode (n_tok/20 rows
    // per doc), one per-doc re-aggregate; the md5 over the ordered
    // span list pins every start:len pair ----
    "q228_span_corruption" -> ((s, d) => {
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
    }),

    // ---- multimodal curation gate (the quality filter a mixed-media
    // corpus runs before training — q46's reject-reasons shape over
    // DECODED media): every doc gets a real payload in its modality
    // (P6 raster / PCM WAV / C420 Y4M, the q36/q222/q223 deterministic
    // generators), the gate DECODES the actual bytes and applies
    // per-type rules — image min-side, audio min-duration + clipping
    // ceiling, video min-frames + static-clip floor — all in exact
    // integer arithmetic. One codegen projection per row, zero
    // exchanges before the presentation sort ----
    "q229_media_gate" -> ((s, d) => {
      import graft.multimodal.{PpmCodec, SyntheticMedia, WavCodec, Y4mCodec}
      val gen = udf { (d0: Long) =>
        (d0 % 3) match {
          case 0 => SyntheticMedia.ppmPayload(d0)
          case 1 => SyntheticMedia.wavPayload(d0)
          case _ => SyntheticMedia.y4mPayload(d0)
        }
      }
      val gate = udf { (bytes: Array[Byte]) =>
        PpmCodec.decode(bytes).map { img =>
          ("image",
            if (math.min(img.width, img.height) < 8) "too_small" else "")
        }.orElse(WavCodec.decode(bytes).map { c =>
          val st = WavCodec.stats(c)
          ("audio", Seq(
            if (st.durationMs < 10) "too_short" else "",
            // ceiling 0.005% — tight enough that one clipped sample in
            // a short clip trips it (both rails count)
            if (st.clipped * 20000 > st.frames) "clipped" else "")
            .filter(_.nonEmpty).mkString(","))
        }).orElse(Y4mCodec.decode(bytes).map { v =>
          val st = Y4mCodec.stats(v)
          ("video", Seq(
            if (st.nFrames < 5) "too_few_frames" else "",
            if (st.motionSum <
              (st.nFrames - 1).toLong * st.width * st.height) "static"
            else "").filter(_.nonEmpty).mkString(","))
        }).orNull
      }
      tSpread(s, d, "documents")
        .select(col("doc_id"), gate(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"), col("t._1").as("media_type"),
          col("t._2").as("reason"),
          (col("t._2") === "").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- data-quality constraint suite (Deequ's analyzer-batching
    // shape: EVERY rule's violation count from ONE corpus scan — eight
    // assertions fused into a single map-side-combined aggregate, so a
    // 100 TB contract check costs one pass; uniqueness is the only
    // rule needing a shuffle and rides the same aggregate as a
    // countDistinct). Two thresholds fail by design on this corpus so
    // the violation path is live, not vacuous ----
    "q230_data_contract" -> ((s, d) => {
      tSpread(s, d, "documents").agg(
          count(lit(1)).as("n"),
          sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_null"),
          countDistinct(col("doc_id")).as("n_dist"),
          sum(when(!col("lang").isin("en", "es", "fr", "de", "zh"), 1L)
            .otherwise(0L)).as("v_lang"),
          sum(when(col("n_chars") =!= length(col("text")), 1L)
            .otherwise(0L)).as("v_len"),
          sum(when(trim(col("text")) === "", 1L).otherwise(0L))
            .as("v_blank"),
          sum(when(!col("source").startsWith("src"), 1L).otherwise(0L))
            .as("v_src"),
          sum(when(col("n_chars") > 500, 1L).otherwise(0L)).as("v_max"),
          sum(when(col("n_chars") < 50, 1L).otherwise(0L)).as("v_min"))
        .selectExpr("n",
          "stack(8, " +
            "'doc_id_not_null', v_null, " +
            "'doc_id_unique', n - n_dist, " +
            "'lang_in_domain', v_lang, " +
            "'n_chars_consistent', v_len, " +
            "'text_nonblank', v_blank, " +
            "'source_format', v_src, " +
            "'n_chars_max_500', v_max, " +
            "'n_chars_min_50', v_min) as (rule, n_violations)")
        .select(col("rule"), col("n").as("n_checked"),
          col("n_violations"), (col("n_violations") === 0L).as("pass"))
        .orderBy(col("rule"))
    }),

    // ---- dataset release fingerprint (the checksum a training-data
    // drop ships so a consumer can verify the bytes they trained on):
    // per-source XOR-fold of a 60-bit content hash over (doc_id,
    // md5(text)) — XOR is commutative/associative, so the fingerprint
    // is PARTITION-ORDER-INDEPENDENT: any execution order, any
    // parallelism, same value. NULL text hashes as an explicit 'nil'
    // sentinel (null-propagating concat, not concat_ws, so both
    // engines agree on any NULL-bearing release drop). ONE map-side-
    // combined aggregate; at 100 TB this is scan-rate work emitting a
    // sources-bounded sheet ----
    "q231_dataset_fingerprint" -> ((s, d) => {
      tSpread(s, d, "documents")
        .select(col("source"),
          conv(substring(md5(concat(
            col("doc_id").cast("string"), lit(":"),
            coalesce(md5(col("text")), lit("nil")))), 1, 15),
            16, 10).cast("bigint").as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("fingerprint"))
        .orderBy(col("source"))
    }),

    // ---- datasheet example sampler (the "representative examples"
    // section of a dataset card): deterministic md5-rank top-3 per
    // source — reproducible across runs/engines unlike rand(), and at
    // 100 TB the examples are recomputable from the ids alone. One
    // window exchange on the source key; InferWindowGroupLimit keeps
    // it per-partition top-k; text leaves only as its md5 ----
    "q232_datasheet_examples" -> ((s, d) => {
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
    }),

    // ---- vocabulary drift between two corpus slices (the snapshot-
    // over-snapshot distribution check an ingest pipeline runs before
    // accepting a new crawl): unigram ppm distributions of the two
    // halves, L1 distance plus the top-10 movers. Vocabulary-grain
    // FULL-OUTER shuffle join on the word key (Heaps-unbounded — never
    // broadcast, the q88 lesson); totals ride 1-row broadcasts; all
    // ppm arithmetic exact integer; the drift frame is materialized
    // once (localCheckpoint) because both the L1 total and the movers
    // consume it ----
    "q233_vocab_drift" -> ((s, d) => {
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
    }),

    // ---- perceptual image dedup (the visual near-dup operator text
    // dedup has had since q21: image doc payloads DECODE through
    // PpmCodec and fingerprint as a 64-bit dHash over real pixels).
    // Scale shape: everything past the one decode projection runs at
    // SIGNATURE grain — exact-dup groups are one groupBy on the hash;
    // near-dup candidates come from an 8×8-bit band self-join of
    // DISTINCT hashes (pigeonhole: hamming ≤ 7 ⇒ some band matches, so
    // banding loses nothing at threshold 6), never doc×doc. The oracle
    // cross-joins the distinct hashes — tractable there, and it proves
    // the banded path's recall guarantee against ground truth ----
    "q234_image_phash_dedup" -> ((s, d) => {
      import graft.multimodal.{PerceptualHash, PpmCodec, SyntheticMedia}
      val ph = udf { (d0: Long) =>
        val img = PpmCodec.decode(SyntheticMedia.ppmPayload(d0)).get
        val bands = PerceptualHash.dHash(img)
        (PerceptualHash.hex(bands), bands)
      }
      val hashes = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), ph(col("doc_id")).as("t"))
        .select(col("doc_id"), col("t._1").as("phash"), col("t._2").as("bands"))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"),
          first(col("bands")).as("bands")) // bands ↔ phash is a bijection
        .localCheckpoint()
      val bandRows = hashes.select(col("phash"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
      val pairs = bandRows.as("a")
        .join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.phash") < col("b.phash"))
        .select(col("a.phash").as("h1"), col("b.phash").as("h2"))
        .distinct()
        .join(hashes.select(col("phash").as("h1"), col("bands").as("b1")), "h1")
        .join(hashes.select(col("phash").as("h2"), col("bands").as("b2")), "h2")
        .withColumn("dist", aggregate(
          zip_with(col("b1"), col("b2"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (acc, v) => acc + v))
        .filter(col("dist") > 0 && col("dist") <= 6)
      val near = pairs.select(col("h1").as("phash"))
        .unionAll(pairs.select(col("h2").as("phash")))
        .groupBy(col("phash")).agg(count(lit(1)).as("n_near"))
      hashes.join(near, Seq("phash"), "left")
        .select(col("phash"), col("n_docs"), col("rep_doc"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("phash"))
    }),

    // ---- cross-split leakage audit (what a random train/eval split
    // leaks through duplicated content — the check q189's benchmark
    // decontamination does for EXTERNAL eval sets, here for the
    // split's own test side): LSH candidates restricted to cross-split
    // bucket co-occupancy, exact-jaccard verified at pair grain, then
    // one source-grain sheet. Integer-exact ppm; the per-source output
    // is sources-bounded at any corpus size ----
    "q235_split_leakage" -> ((s, d) => {
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
    }),

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
    "q236_semantic_pack_order" -> ((s, d) => {
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
    }),

    // ---- Heaps-law vocabulary growth curve (the data-card sheet that
    // answers "is more data still buying new vocabulary?"): vocab size
    // at every DOUBLING prefix of the corpus (docs with id < 2^k).
    // The scale trick: never rescan per prefix — ONE word-key shuffle
    // computes each word's first-occurrence doc, bit_length maps that
    // to the first prefix LEVEL containing it (integer-exact — no
    // float log2 on either engine), and the cumulative curve assembles
    // on a ≤ log2(N)-row frame (the only unpartitioned window). Word
    // key is Heaps-unbounded → shuffle join, never broadcast ----
    "q237_vocab_growth" -> ((s, d) => {
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
    }),

    // ---- audio fingerprint dedup (q234's shape for the third
    // modality, completing per-modality dedup signatures: text
    // minhash/simhash, image dHash, audio energy-delta): audio docs
    // DECODE through WavCodec and fingerprint as 15 gain-invariant
    // energy-comparison bits; signature-grain exact groups + banded
    // near pairs (3×5-bit bands — pigeonhole-complete at hamming ≤ 2).
    // Distinct fingerprints are capped at 2^15 regardless of corpus
    // size, so everything past the decode projection is bounded ----
    "q238_audio_fp_dedup" -> ((s, d) => {
      import graft.multimodal.{PerceptualHash, SyntheticMedia, WavCodec}
      val fp = udf { (d0: Long) =>
        PerceptualHash.energyFingerprint(
          WavCodec.decode(SyntheticMedia.wavPayload(d0)).get)
      }
      val sigs = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), fp(col("doc_id")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
        .localCheckpoint()
      val bands = sigs.select(col("fp"),
          explode(sequence(lit(0), lit(2))).as("band_idx"))
        .withColumn("band_val", expr("shiftright(fp, band_idx * 5) & 31"))
      val pairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.fp") < col("b.fp"))
        .select(col("a.fp").as("f1"), col("b.fp").as("f2"))
        .distinct()
        .withColumn("dist", bit_count(col("f1").bitwiseXOR(col("f2"))))
        .filter(col("dist") > 0 && col("dist") <= 2)
      val near = pairs.select(col("f1").as("fp"))
        .unionAll(pairs.select(col("f2").as("fp")))
        .groupBy(col("fp")).agg(count(lit(1)).as("n_near"))
      sigs.join(near, Seq("fp"), "left")
        .select(col("fp").cast("bigint").as("fp"), col("n_docs"),
          col("rep_doc"), coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("fp"))
    }),

    // ---- per-source distribution divergence (the domain-shift data
    // card: which sources' unigram distributions diverge from the
    // corpus mean — q233's drift metric turned source-wise): exact
    // integer-ppm L1 per source. The absent-word mass is handled by
    // ALGEBRA, not a source×vocab cross join: Σ_{w∉s} ppm_g =
    // G − Σ_{w∈s} ppm_g, with G the corpus ppm total — so the only
    // corpus-content-sized exchanges are the (source, word) groupBy
    // and ONE word-key shuffle join (Heaps-unbounded, never
    // broadcast); everything else is sources- or 1-row-bounded ----
    "q239_source_divergence" -> ((s, d) => {
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
    }),

    // ---- video perceptual dedup (q234 image / q238 audio shape for
    // the LAST modality — per-modality dedup signatures now complete:
    // text minhash/simhash, image dHash, audio energy-delta, video
    // spatio-temporal): video docs DECODE through Y4mCodec and
    // fingerprint as 24 brightness-invariant luma-comparison bits over
    // the first two frames; signature-grain exact groups + banded near
    // pairs (3×8-bit bands — pigeonhole-complete at hamming ≤ 2).
    // Distinct fingerprints are capped at 2^24 (and in practice far
    // below), so everything past the decode projection is bounded ----
    "q240_video_fp_dedup" -> ((s, d) => {
      import graft.multimodal.{PerceptualHash, SyntheticMedia, Y4mCodec}
      val fp = udf { (d0: Long) =>
        PerceptualHash.videoFingerprint(
          Y4mCodec.decode(SyntheticMedia.y4mPayload(d0)).get)
      }
      val sigs = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), fp(col("doc_id")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
        .localCheckpoint()
      val bands = sigs.select(col("fp"),
          explode(sequence(lit(0), lit(2))).as("band_idx"))
        .withColumn("band_val", expr("shiftright(fp, band_idx * 8) & 255"))
      val pairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.fp") < col("b.fp"))
        .select(col("a.fp").as("f1"), col("b.fp").as("f2"))
        .distinct()
        .withColumn("dist", bit_count(col("f1").bitwiseXOR(col("f2"))))
        .filter(col("dist") > 0 && col("dist") <= 2)
      val near = pairs.select(col("f1").as("fp"))
        .unionAll(pairs.select(col("f2").as("fp")))
        .groupBy(col("fp")).agg(count(lit(1)).as("n_near"))
      sigs.join(near, Seq("fp"), "left")
        .select(col("fp").cast("bigint").as("fp"), col("n_docs"),
          col("rep_doc"), coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("fp"))
    }),

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
    "q241_fim_transform" -> ((s, d) => {
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
    }),

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
    "q242_alpha_mixture" -> ((s, d) => {
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
    }),

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
    "q243_ccnet_buckets" -> ((s, d) => {
      // r12: q88's map-side bigram rework (see q88) — same counts, no
      // window-lead shuffle, one checkpointed pair-grain model aggregate
      val pairs = tSpread(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("lang"),
          col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pairs.filter(col("w2").isNotNull)
      val biCounts = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val vocab = uniCounts.agg(count(lit(1)).as("v"))
      val scored = big.join(biCounts, Seq("w", "w2"))
        .join(uniCounts, Seq("w"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))))
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
    }),

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
    "q244_preference_pairs" -> ((s, d) => {
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
    }),

    // ---- cross-source duplication matrix (the provenance data card:
    // which source pairs share near-duplicated content — mirror-site /
    // scraped-from-each-other detection, and the input to choosing
    // which source wins q210's canonical selection): q23's MinHash-LSH
    // transitive clusters reduced to (cluster, source, count) — at
    // most |sources| rows per cluster — then a cluster-key self-join
    // whose per-key fan-out is ≤ |sources|², NEVER doc×doc; the
    // within-source diagonal is pure arithmetic on the same frame.
    // Output is ≤ |sources|² rows at any corpus size ----
    "q245_cross_source_dups" -> ((s, d) => {
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
    }),

    // ---- quality-proxy calibration card (can the cheap bigram-LM
    // perplexity stand in for the rule-based quality gate? — the check
    // a curation pipeline runs before swapping proxies): docs binned
    // by tenth-of-a-bit perplexity (FIXED value bins via the q243
    // integer-ized score — never a quantile sort), per-bin gopher-rule
    // pass rate + lift over the corpus base rate. Two doc-grain frames
    // join once on doc_id; every later frame is bins-bounded (≤ 13
    // rows); the base rate is a 1-row broadcast ----
    "q246_proxy_calibration" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      // r12: q88's map-side bigram rework (see q88) — same counts, no
      // window-lead shuffle, one checkpointed pair-grain model aggregate
      val pairs = docs.select(col("doc_id"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pairs.filter(col("w2").isNotNull)
      val biCounts = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val vocab = uniCounts.agg(count(lit(1)).as("v"))
      val scored = big.join(biCounts, Seq("w", "w2"))
        .join(uniCounts, Seq("w"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))))
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
    }),

    // ---- dedup-threshold yield curve (the tuning card for q22/q23's
    // Jaccard cutoff: how many pairs — and how many DOCS — would be
    // flagged at each threshold, so the dedup rate is chosen from
    // evidence, not folklore): exact 3-gram Jaccard over the capped
    // LSH-style candidate pairs, histogrammed into 10 threshold bands;
    // the ≥-threshold cumulatives run on the ≤ 11-row band spine, so
    // nothing after the candidate machinery is corpus-sized ----
    "q247_dedup_yield_curve" -> ((s, d) => {
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
    }),

    // ---- held-out per-source LM perplexity (CCNet's ACTUAL source-
    // ranking mechanism — q88 scores in-sample, this trains on a
    // held-out split and scores foreign text): bigram model with add-1
    // smoothing fit on the doc_id%5!=0 split, eval docs scored with
    // unseen words/pairs coalesced to zero counts; per-source mean ppl
    // is an EXACT integer mean of the per-doc integer scores, plus the
    // OOV token rate. The split is the q213 md5 bucket (doc_id % k
    // would correlate with the source assignment); model joins key on
    // the word (Heaps-bounded, shuffle-joined, never broadcast) ----
    "q248_heldout_source_ppl" -> ((s, d) => {
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
    }),

    // ---- data-constrained scaling card (Muennighoff et al. 2022:
    // repeating data decays in value — how many effective tokens does
    // each source contribute at 1/2/4/8 epochs?): epoch i is worth
    // (3/4)^(i-1) of a fresh pass, computed OVERFLOW-FREE and exactly
    // in integers as (u div 4^(i-1)) * 3^(i-1) — divide first, so no
    // intermediate ever exceeds u. One source-grain aggregate; the
    // epoch grid is an ≤ 8-row broadcast; output ≤ 4·|sources| rows ----
    "q249_epoch_value_card" -> ((s, d) => {
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
    }),

    // ---- D4-style cluster-balanced selection (SemDeDup's follow-up:
    // after dedup, rebalance the embedding space by downsampling
    // overdense clusters to a uniform per-cluster budget): assignment
    // is the q86 map-side nearest-of-K centroids (K=16, centroids in
    // the closure — no shuffle), sizes one cluster-key aggregate, and
    // the keep decision a 16-row broadcast + md5 hash gate. Acceptance
    // = min(1, cap/|cluster|) exactly, on a 10k integer grid ----
    "q250_cluster_balanced_select" -> ((s, d) => {
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
    }),

    // ---- verbatim eval-set contamination spans (the exact-substring
    // strengthening of q189's n-gram flag: WHICH bytes of which train
    // docs appear verbatim in the benchmark — q189 says "overlaps",
    // this says "these 40+ chars leaked"): the benchmark (doc_id%7==0 —
    // big enough to intersect at every sf) collapses to window hashes
    // that AQE broadcasts; train text shuffles only its FLAGGED
    // windows for the island merge ----
    "q251_contamination_spans" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      Dedup.contaminationSpans(docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
          window = 40)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // ---- adjacent-duplicate-word collapse ("the the" cleaning — the
    // token-grain stutter fix every HTML-extraction pipeline runs):
    // pure map-side indexed-lambda filter over the split array, ZERO
    // exchanges; md5 pins every rewritten byte, and the collapse count
    // feeds the doc-quality audit ----
    "q252_stutter_collapse" -> ((s, d) => {
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
    }),

    // ---- p99 length clipping (context-window hygiene: truncate the
    // pathological long tail so one 2 GB doc can't dominate a packed
    // batch): the cutoff comes from q212's BINNED VALUE HISTOGRAM
    // cumulative (bin domain ≈ max_len/50 rows — never a corpus sort),
    // broadcast back as one row; the clip itself is a map-side
    // substring with the rewritten bytes pinned by md5 ----
    "q253_p99_length_clip" -> ((s, d) => {
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
    }),

    // ---- eval-set n-gram novelty sweep (the memorization-risk card:
    // what fraction of the benchmark's n-grams does the training set
    // already contain, for n = 1, 2, 3 — high containment means eval
    // scores measure recall of training text, not generalization):
    // distinct-per-side gram sets (array_distinct BEFORE the explode,
    // q189's bound), one existence join per n on the gram string;
    // output is 3 rows ----
    "q254_novelty_sweep" -> ((s, d) => {
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
    }),

    // ---- Good-Turing unseen-mass + lexical-diversity source card
    // (how much vocabulary is each source still hiding? P0 = n1/N is
    // the Good-Turing estimate of unseen-word probability; Guiraud
    // R = V/√N is the length-robust type-token ratio, carried as
    // R² = V²/N in integer bp so the output replays exactly): ONE
    // (source, word) aggregate then a sources-grain rollup — the
    // heavy exchange is word-keyed and linear in corpus tokens ----
    "q255_unseen_mass_card" -> ((s, d) => {
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
    }),

    // ---- composed cleaning emit (the whole character-grain
    // preprocessing pass a user actually ships, as ONE query: stutter
    // collapse (q252) → p99 length clip on the COLLAPSED text (q253's
    // histogram cutoff) → gopher keep flag (q188) — with the final
    // bytes pinned by md5): the corpus is scanned once into a
    // localCheckpoint that feeds both the length histogram and the
    // emit; everything else is one broadcast cutoff + codegen
    // projections. Stage-by-stage oracles exist separately; this one
    // proves the COMPOSITION byte-exact ----
    "q256_clean_emit" -> ((s, d) => {
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
    }),

    // ---- SentencePiece-style character-coverage card (the
    // character_coverage parameter every tokenizer build sets blind:
    // how many distinct characters cover 90/99/99.5/99.95/100% of
    // corpus bytes): the char explode feeds a groupBy whose key domain
    // is the ALPHABET — partial aggregation collapses it map-side, so
    // the shuffle carries |alphabet| rows per partition, not corpus
    // chars. Everything after is alphabet-grain (the global window is
    // bounded by the character domain) ----
    "q257_char_coverage" -> ((s, d) => {
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
    }),

    // ---- dup-cluster × quality interaction card ("are near-dups
    // lower quality?" — the classic curation finding that justifies
    // dedup-before-filter ordering): q244's simhash CC clusters bucket
    // docs by cluster size; per bucket the EXACT integer mean of the
    // q46 quality score and the low-quality rate. One window-free
    // plan: cluster sizes from a cluster-key aggregate, quality a
    // codegen projection, the rollup ≤ 5 rows ----
    "q258_dup_quality_card" -> ((s, d) => {
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
    }),

    // ---- the DECONTAMINATED corpus itself (q251 tells you which
    // bytes leaked; this ships the training set with them excised —
    // surgical removal instead of q189's whole-doc deletion, the
    // Lee et al. ExactSubstr treatment applied to eval leakage):
    // q251's spans collapse to one bounded array row per doc, one
    // join back, a map-side fold stitches the kept segments; md5
    // makes any stitching error a hash mismatch ----
    "q259_decontaminated_corpus" -> ((s, d) => {
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
    }),

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
    "q260_minhash_accuracy" -> ((s, d) => {
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
    }),

    // ---- padding-waste frontier (q227 measured ONE batch size; this
    // sweeps B = 8..128 under length-sorted batching — the card that
    // picks the dynamic-batching bucket size): the ranked frame is
    // computed ONCE (GlobalOrder, localCheckpoint) and each B is a
    // ≤2-exchange aggregate over it; output 5 rows ----
    "q261_padding_frontier" -> ((s, d) => {
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
    }),

    // ---- embedding isotropy card (anisotropic embedding spaces make
    // cosine retrieval degenerate — the audit before trusting q18's
    // ANN stack): mean vector norm and the EXACT mean pairwise dot
    // via the algebraic identity Σᵢⱼ aᵢ·aⱼ = ‖Σa‖² − Σ‖a‖², so NO
    // pair is ever materialized — two aggregates over the corpus,
    // elements quantized to a 1e4 integer grid first (q86's idiom) so
    // every sum is exact integer arithmetic in any engine ----
    "q262_isotropy_card" -> ((s, d) => {
      val q = tSpread(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim", "v")))
        .withColumn("vq", expr(
          "cast(floor(cast(v as double) * 10000 + 0.5) as bigint)"))
      val perVec = q.groupBy(col("vec_id"))
        .agg(sum(col("vq") * col("vq")).as("nrm2"))
      val perDim = q.groupBy(col("dim"))
        .agg(sum(col("vq")).as("sv"))
      // DECIMAL accumulators (the q217 lesson): at 100 TB these sums
      // overflow BIGINT and ANSI mode would throw
      val a = perVec.agg(count(lit(1)).as("n"),
        sum(col("nrm2").cast("decimal(38,0)")).as("sum_nrm2"))
      val bS = perDim.agg(sum((col("sv").cast("decimal(19,0)") *
        col("sv").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .as("nrm2_of_sum"))
      // pure decimal integer arithmetic end to end (round-8 lesson —
      // the old double floors replayed only because the operands were
      // exact decimals; PLANS.md output typing). The pair-dot numerator
      // Σᵢ≠ⱼvᵢ·vⱼ = |Σv|² − Σ|v|² can be NEGATIVE, and div truncates
      // toward zero in both engines, so floor rides the offset trick
      // floor(a/b) = (a + K·b) div b − K with K = 10¹² ≫ |a/b| (pair
      // dots of 10⁴-quantized unit vectors are ≤ ~10⁸ by Cauchy-
      // Schwarz); anisotropy_bp likewise with K = 10⁶ ≫ |bp| and the
      // half-up numerator (2·num·10⁴ + den) over 2·den
      a.crossJoin(bS)
        .withColumn("num", expr("nrm2_of_sum - sum_nrm2"))
        .withColumn("pden", expr("cast(n as decimal(38,0)) * (n - 1)"))
        .withColumn("aden", expr("(n - 1) * sum_nrm2"))
        .select(col("n"),
          expr("cast(sum_nrm2 div n as bigint)").as("mean_nrm2_q"),
          expr("case when n > 1 then cast((num + 1000000000000 * pden)" +
            " div pden - 1000000000000 as bigint) end")
            .as("mean_pair_dot_q"),
          expr("case when n > 1 and sum_nrm2 > 0 then " +
            "cast((2 * num * 10000 + aden + 2000000 * aden) div " +
            "(2 * aden) - 1000000 as bigint) end").as("anisotropy_bp"))
    }),

    // ---- LSH S-curve, measured (the companion to q260: the textbook
    // candidate probability 1−(1−s^r)^b, VERIFIED against this corpus
    // — per exact-Jaccard band, what fraction of co-shingle pairs did
    // the 16×4 banding actually surface?): the universe is q22's
    // capped co-shingle pairs, candidates are q23's bucket pairs, ONE
    // two-key join between the two audited frames; output ≤ 11 rows ----
    "q263_lsh_s_curve" -> ((s, d) => {
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
    }),

    // ---- dedup attribution funnel (which stage actually removes the
    // tokens? — the card that settles stage ORDERING debates: exact
    // hash → MinHash near-dup → ExactSubstr excision, with first-flag
    // precedence): all three flags come from audited machineries
    // (q21's hash window, q23's transitive clusters, q181's keep-first
    // spans) computed on the full corpus and joined doc-grain; the
    // rollup is 4 rows. Tokens counted once, charged to the FIRST
    // stage that would have removed the doc ----
    "q264_dedup_attribution" -> ((s, d) => {
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
    }),

    // ---- SimHash bit-balance audit (the sketch-health companion to
    // q260/q263: a biased signature bit carries < 1 bit of Hamming
    // discrimination and wastes banding power — this measures all 64):
    // one signature pass, a 64-way bounded explode, a bit-grain
    // aggregate (map-side combining to 64 rows per partition) ----
    "q265_simhash_bit_balance" -> ((s, d) => {
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
    }),

    // ---- held-out split balance audit (validates the md5-bucket
    // split q248 trains on: is the 20% eval share actually 20% per
    // source, in docs AND tokens? — the check that catches a split
    // key correlated with a stratum, exactly the doc_id%k trap this
    // corpus sets): ONE source-grain aggregate, zero joins ----
    "q266_split_balance_audit" -> ((s, d) => {
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
    }),

    // ---- PMI collocations (phrase mining for tokenizer/vocab design
    // — q158 ranks by frequency, PMI ranks by ASSOCIATION: log2 of
    // observed-over-expected bigram probability): bigram and unigram
    // counts are q88's audited aggregates; PMI needs only counts and
    // the 1-row token total, so everything after the token-grain
    // aggregates is vocabulary-grain (Heaps-sublinear). Top-20 by PMI
    // among bigrams seen ≥ 5 times, fully tie-broken ----
    "q267_pmi_collocations" -> ((s, d) => {
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
    }),

    // ---- word2vec negative-sampling table (the unigram^0.75
    // distribution every embedding trainer draws negatives from):
    // c^0.75 computed as sqrt(sqrt(c³)) — two CORRECTLY-ROUNDED IEEE
    // sqrts on an exact integer cube, so the weight is bit-identical
    // in any engine (pow(c, 0.75) is not correctly rounded and may
    // differ in the last ulp); weights quantized to an integer grid
    // BEFORE the normalizing sum so the total is exact. Output: the
    // top-50 vocabulary rows by count with their sampling ppm ----
    "q268_negative_sampling" -> ((s, d) => {
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
    }),

    // ---- proxy ROC sweep (q246 showed calibration; this shows
    // DISCRIMINATION: tpr/fpr/precision of "keep iff perplexity ≤ t"
    // against the gopher labels, for t = 4.0..7.0 bits step 0.1):
    // doc-grain work is the same two audited frames joined once; the
    // sweep runs on a (hundredth-bit bin × label) HISTOGRAM, so the
    // 31-point threshold spine never touches doc-grain rows ----
    "q269_proxy_roc" -> ((s, d) => {
      val docs = tSpread(s, d, "documents")
      // r12: q88's map-side bigram rework (see q88) — same counts, no
      // window-lead shuffle, one checkpointed pair-grain model aggregate
      val pairs = docs.select(col("doc_id"),
          explode(TextFunctions.adjacentPairs(lower(col("text")))).as("bg"))
        .select(col("doc_id"), col("bg.w").as("w"), col("bg.w2").as("w2"))
      val pc = pairs.groupBy(col("w"), col("w2"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val big = pairs.filter(col("w2").isNotNull)
      val biCounts = pc.filter(col("w2").isNotNull)
        .select(col("w"), col("w2"), col("c").as("cb"))
      val uniCounts = pc.groupBy(col("w")).agg(sum(col("c")).as("cu"))
      val vocab = uniCounts.agg(count(lit(1)).as("v"))
      val scored = big.join(biCounts, Seq("w", "w2"))
        .join(uniCounts, Seq("w"))
        .crossJoin(broadcast(vocab))
        .withColumn("logp",
          log2((col("cb") + 1).cast("double") / (col("cu") + col("v"))))
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
    }),

    // ---- packed-attention contamination card (GPT-style packing
    // (q172/q226) lets attention cross document boundaries — this
    // measures the leak: for context lengths 256..2048, the share of
    // causal token PAIRS inside a chunk that span two documents,
    // computed in closed form from span lengths — Σᵢⱼ = m(m−1)/2 −
    // Σ span(span−1)/2, no pair ever materialized): the GlobalOrder
    // running sum computes ONCE (localCheckpoint); each L is a
    // bounded chunk explode + two aggregates ----
    "q270_attention_contamination" -> ((s, d) => {
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
    }),

    // ---- shard balance audit (the ops sheet over q218's packing: is
    // any shard pathologically under-filled? by the exclusive-prefix
    // construction only the LAST shard can be — this card proves it):
    // q218's machinery plus a 1-row rollup ----
    "q271_shard_balance" -> ((s, d) => {
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
    }),

    // ---- contamination burden by source (which sources leak eval
    // content — the provenance rollup of q251 that decides whether a
    // source gets dropped or excised): q251's audited span machinery
    // collapses to per-doc leaked chars, then ONE source-grain
    // aggregate over the train split; leak rate in exact integer ppm ----
    "q272_contamination_by_source" -> ((s, d) => {
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
    }),

    // ---- benchmark memorization exposure (q251/q272 ask what the
    // TRAIN side leaked; this asks the reverse — what fraction of the
    // BENCHMARK's distinct 40-char windows already exist in training
    // text, i.e. how much of the eval set a perfect memorizer gets
    // for free): two distinct window-hash sets, one existence join,
    // 1-row output in exact basis points ----
    "q273_bench_exposure" -> ((s, d) => {
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
    }),

    // ---- SimHash Hamming yield curve (q247 tuned the Jaccard
    // cutoff; this tunes the OTHER near-dup family's threshold: pairs
    // and docs flagged at each Hamming distance 0..3 — the banded
    // candidate generator is pigeonhole-complete exactly to distance
    // nBands−1, so the curve is exact over its provable range): the
    // audited banded pairs, one histogram, ≤ 4-row spine cumulatives ----
    "q274_simhash_yield_curve" -> ((s, d) => {
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
    }),

    // ---- dedup-family agreement card (do MinHash-LSH and SimHash
    // surface the SAME candidate pairs? — the cross-check that catches
    // a mis-parameterized family before it silently under-dedups):
    // both audited candidate generators, ONE full-outer join on the
    // pair key, 1-row counts + agreement in exact basis points ----
    "q275_dedup_family_agreement" -> ((s, d) => {
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
    }),

    // ---- token-budget ablation curve (how does selection quality
    // move as the budget grows? — the card behind "train on the best
    // X%"): the audited skew-proof selectByBudget at four budgets
    // over ONE checkpointed scored frame; each point rolls up to one
    // row with the exact integer mean quality of its selection ----
    "q276_budget_ablation" -> ((s, d) => {
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
    }),

    // ---- data-constrained mixture plan (the capstone planning card:
    // given a token budget of 2× the corpus, α=0.5 temperature shares
    // (q242) say what each source SHOULD contribute; repeating data
    // decays (q249) — so how many epochs does each source run, and
    // what does it actually deliver?): per-source ⌊√u⌋ → exact ppm
    // shares → integer need → ceil-div epochs (capped 8) → divide-
    // first decay value; deficit = need − delivered. Every step is
    // overflow-free integer arithmetic; all frames after the ONE
    // source-grain aggregate are |sources|-bounded ----
    "q277_mixture_plan" -> ((s, d) => {
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
    }),

    // ---- near-dup cluster-size spectrum (the distribution behind
    // every dedup decision in this corpus: how many clusters of each
    // size, and what share of documents they hold): q23's transitive
    // clusters → one cluster-key aggregate → a size-grain histogram
    // (bounded by the max cluster size); doc share in exact ppm ----
    "q278_cluster_size_spectrum" -> ((s, d) => {
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
    }),

    // ---- REAL compressed-image decode (PNG through the JDK's actual
    // zlib — q222/q223's shape for the first COMPRESSED codec,
    // shrinking the media stub to lossy formats): deterministic RGBA
    // PNGs are encoded per image doc (pixels from pure integer
    // arithmetic, scanline y filtered with type y%5 so one decode
    // exercises None/Sub/Up/Average/Paeth), then channel sums and a
    // byte-order-pinning weighted checksum are computed by DECODING
    // the actual IDAT stream through Inflater + defilter + alpha drop.
    // Zero exchanges before the presentation sort; every output is an
    // exact BIGINT (the round-9 typing contract), and the oracle
    // replays each from the generator formula — any wrong byte anywhere
    // in deflate→inflate→defilter→RGB moves wsum ----
    "q279_png_image_stats" -> ((s, d) => {
      import graft.multimodal.{PngCodec, SyntheticMedia}
      val gen = udf { (d0: Long) => SyntheticMedia.pngPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        PngCodec.decode(bytes).map { img =>
          var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
          var i = 0
          while (i < img.rgb.length) {
            val v = img.rgb(i) & 0xff
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            wsum += v.toLong * (i + 1)
            i += 1
          }
          (img.width.toLong, img.height.toLong,
            bytes.length.toLong, sr, sg, sb, wsum)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("width"),
          col("t._2").as("height"),
          col("t._4").as("sum_r"),
          col("t._5").as("sum_g"),
          col("t._6").as("sum_b"),
          col("t._7").as("wsum"))
        .orderBy(col("doc_id"))
    }),

    // ---- cross-container perceptual identity (the dedup property
    // PNG support must buy: the SAME pixels stored as P6 and as PNG
    // collapse into ONE phash group): each image doc materializes
    // twice — a P6 built directly from the pixel formula, and the q279
    // RGBA PNG whose pixels only EXIST after a real inflate + defilter
    // + alpha drop — then the container-agnostic phash groups them.
    // n_p6 == n_png per group is earned, not asserted: any wrong byte
    // in the PNG chain splits the group and the oracle's 2× counts
    // stop matching. Zero exchanges before the phash groupBy ----
    "q280_cross_container_phash" -> ((s, d) => {
      import graft.multimodal.{Multimodal, PpmCodec, SyntheticMedia}
      val mk = udf { (d0: Long, container: String) =>
        if (container == "png") SyntheticMedia.pngPayload(d0)
        else {
          // independent construction from the SAME RGBA formula, alpha
          // skipped — NOT derived from the PNG decode
          val w = (d0 % 12 + 4).toInt
          val h = (d0 * 5 % 12 + 4).toInt
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            var ch = 0
            while (ch < 3) {
              rgb(p * 3 + ch) =
                ((d0 * 37 + (p.toLong * 4 + ch) * 11) % 256).toByte
              ch += 1
            }
            p += 1
          }
          PpmCodec.encode(PpmCodec.Image(w, h, rgb))
        }
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          explode(array(lit("p6"), lit("png"))).as("container"))
        .select(col("doc_id"), col("container"),
          Multimodal.phash(mk(col("doc_id"), col("container")))
            .as("phash"))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("container") === "p6", 1L).otherwise(0L))
            .as("n_p6"),
          sum(when(col("container") === "png", 1L).otherwise(0L))
            .as("n_png"),
          min(col("doc_id")).as("rep_doc"))
        .orderBy(col("phash"))
    }),

    // ---- pure-SQL image analysis (q48's shape for the raster codecs:
    // the `img_stats` SQL struct over a mixed P6/PNG corpus — the
    // container tag and every sum come from the DECODE, so the SQL
    // surface is verified against the same generator-formula oracle as
    // the Column API): one scan, a 2-row container rollup ----
    "q281_img_stats_sql" -> ((s, d) => {
      import graft.multimodal.SyntheticMedia
      GraftFunctions.register(s)
      val gen = udf { (d0: Long, c: String) =>
        if (c == "png") SyntheticMedia.pngPayload(d0)
        else SyntheticMedia.ppmPayload(d0)
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          explode(array(lit("p6"), lit("png"))).as("container"))
        .select(gen(col("doc_id"), col("container")).as("content"))
        .createOrReplaceTempView("q281_media")
      s.sql(
        """SELECT st.container AS container,
          | count(*) AS n_imgs,
          | sum(st.n_pixels) AS n_pixels,
          | sum(st.sum_r) AS sum_r,
          | sum(st.sum_g) AS sum_g,
          | sum(st.sum_b) AS sum_b
          |FROM (SELECT img_stats(content) AS st FROM q281_media)
          |GROUP BY 1 ORDER BY container""".stripMargin)
    }),

    // ---- compressed text columns (the container 100 TB web corpora
    // arrive in — WARC/WET members, .jsonl.gz shards): every document
    // round-trips through REAL gzip (JDK zlib both directions), and
    // the md5 of the INFLATED text is pinned against the oracle's md5
    // of the original — any wrong byte in deflate→inflate moves it.
    // Compressed sizes are zlib-version-dependent and deliberately not
    // emitted (the PLANS.md replay rules). Zero exchanges before the
    // presentation sort ----
    "q282_gzip_text_roundtrip" -> ((s, d) => {
      import graft.text.GzipText
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          GzipText.gunzip(GzipText.gzip(col("text"))).as("t"))
        .select(col("doc_id"),
          length(col("t")).cast("bigint").as("n_chars"),
          md5(col("t")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- lossless BPE detokenization (the serving-side property every
    // tokenizer deployment depends on and few pipelines actually test:
    // segment → merge-replay → REASSEMBLE reproduces the normalized
    // text byte-for-byte): q197's 20-merge tokenizer with the standard
    // end-of-word marker on each word's final piece, inverted by
    // detokenize; n_pieces pins the SEGMENTATION against the oracle's
    // full 20-iteration SQL replay (so a tokenizer that degenerates to
    // whole words cannot pass), detok_md5 pins the INVERSION against
    // the normalized original ----
    "q283_bpe_detok_roundtrip" -> ((s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.train(docs, "text", 20)
      BpeTrainer.tokenizeEow(docs.filter(length(trim(col("text"))) > 0),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_pieces"),
          md5(BpeTrainer.detokenize(col("tokens"))).as("detok_md5"))
        .orderBy(col("doc_id"))
    }),

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
    "q284_streaming_funnel" -> ((s, d) => {
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
    }),

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
    "q285_byte_bpe_roundtrip" -> ((s, d) => {
      import graft.text.BpeTrainer
      val docs = tSpread(s, d, "documents")
      val merges = BpeTrainer.trainBytes(docs, "text", 20)
      BpeTrainer.tokenizeBytesEow(docs.filter(length(trim(col("text"))) > 0),
          "text", merges)
        .select(col("doc_id"),
          size(col("tokens")).cast("long").as("n_pieces"),
          md5(BpeTrainer.detokenizeBytes(col("tokens"))).as("detok_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- the round-10 PNG decode arms (q279's harness over the three
    // real-web shapes the codec previously stubbed): every image doc
    // materializes THREE more PNG containers — 8-bit PALETTE (PLTE
    // indirection), 16-bit RGB (big-endian samples, decoder keeps the
    // high byte), and Adam7 INTERLACE (7 independently-filtered passes
    // whose de-interlace must reproduce the natural-order pixels) —
    // and each decodes through the full inflate → per-pass defilter →
    // sample-extract → scatter chain. Channel sums + the byte-order-
    // pinning weighted checksum per (doc, arm); all BIGINT; the oracle
    // replays every value from the generator formulas, so a wrong
    // byte anywhere in any arm moves wsum ----
    "q286_png_decode_arms" -> ((s, d) => {
      import graft.multimodal.{PngCodec, SyntheticMedia}
      val gen = udf { (d0: Long, arm: String) =>
        arm match {
          case "palette" => SyntheticMedia.pngPalettePayload(d0)
          case "rgb16" => SyntheticMedia.png16Payload(d0)
          case _ => SyntheticMedia.pngAdam7Payload(d0)
        }
      }
      val st = udf { (bytes: Array[Byte]) =>
        PngCodec.decode(bytes).map { img =>
          var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
          var i = 0
          while (i < img.rgb.length) {
            val v = img.rgb(i) & 0xff
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            wsum += v.toLong * (i + 1)
            i += 1
          }
          (img.width.toLong, img.height.toLong, sr, sg, sb, wsum)
        }.orNull
      }
      val arms = s.createDataFrame(Seq(
        Tuple1("adam7"), Tuple1("palette"), Tuple1("rgb16")))
        .toDF("arm")
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .crossJoin(broadcast(arms))
        .select(col("doc_id"), col("arm"),
          st(gen(col("doc_id"), col("arm"))).as("t"))
        .select(col("doc_id"), col("arm"),
          col("t._1").as("width"),
          col("t._2").as("height"),
          col("t._3").as("sum_r"),
          col("t._4").as("sum_g"),
          col("t._5").as("sum_b"),
          col("t._6").as("wsum"))
        .orderBy(col("doc_id"), col("arm"))
    }),

    // ---- REAL compressed-audio decode (FLAC — the lossless arm where
    // the exact-round-trip oracle harness works, closing compressed
    // audio the way q279 closed images): deterministic noise PCM is
    // FLAC-encoded per audio doc (fixed/LPC/verbatim subframe schedule,
    // stereo frames cycling all four channel assignments, Rice
    // partition order alternating 0/2), then sample sums and the
    // order-pinning weighted checksum are computed by DECODING the
    // actual bitstream — Rice quotients, predictor replay, channel
    // de-correlation, CRC-8/16 gates. The oracle replays every value
    // from the generator formula: one wrong residual bit anywhere
    // moves wsum ----
    "q287_flac_roundtrip" -> ((s, d) => {
      import graft.multimodal.{FlacCodec, SyntheticMedia}
      val gen = udf { (d0: Long) => SyntheticMedia.flacPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        FlacCodec.decode(bytes).map { c =>
          var ss = 0L; var ws = 0L
          var j = 0
          while (j < c.samples.length) {
            val v = c.samples(j).toLong
            ss += v; ws += v * (j + 1)
            j += 1
          }
          (c.channels.toLong, c.sampleRate.toLong,
            c.samples.length.toLong, ss, ws)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("channels"),
          col("t._2").as("rate"),
          col("t._3").as("n_samples"),
          col("t._4").as("sum_s"),
          col("t._5").as("wsum"))
        .orderBy(col("doc_id"))
    }),

    // ---- URL canonicalization dedup (the dedup grain ABOVE content:
    // the same logical page surfaces under scheme/host case, default
    // ports, fragments, tracking params, param order and trailing
    // slashes — here four messy variants per logical URL collapse to
    // ONE canonical key; the oracle computes that key straight from
    // the generator formula while the Spark side EARNS it by parsing
    // and normalizing the messy string. At 100 TB this is the cheapest
    // dedup in the pipeline: a projection over 100-byte keys before
    // any 100 KB document is fetched or hashed) ----
    "q288_url_canonical_dedup" -> ((s, d) => {
      import graft.text.UrlCanon
      val g = expr("doc_id div 4")
      val k = g % 97
      val m = g % 7
      val v = col("doc_id") % 4
      // v0's path letter is %-encoded (%70 = 'p'): safe percent
      // decoding is part of what the oracle's clean formula earns
      val messy = when(v === 0, format_string(
          "http://www.Site%d.EXAMPLE.com/%%70/%d?b=%d&a=1#frag", k, g, m))
        .when(v === 1, format_string(
          "HTTP://www.site%d.example.com:80/p/%d?a=1&b=%d", k, g, m))
        .when(v === 2, format_string(
          "http://www.site%d.example.com/p/%d" +
            "?utm_source=feed&a=1&utm_campaign=x&b=%d", k, g, m))
        .otherwise(format_string(
          "http://www.site%d.example.com/p/%d/?a=1&b=%d", k, g, m))
      tSpread(s, d, "documents")
        .select(col("doc_id"), UrlCanon.canon(messy).as("u"))
        .groupBy(col("u"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("min_doc_id"))
        .select(col("u").as("canonical_url"), col("n_dups"),
          col("min_doc_id"))
        .orderBy(col("canonical_url"))
    }),

    // ---- WARC record framing round-trip (the container web corpora
    // arrive in: CRLF headers + Content-Length-delimited BYTE payload.
    // Documents are serialized into per-file blobs — 16 "files", the
    // binaryFile grain a real deployment parallelizes on — then the
    // splitter walks each blob once, resyncing past garbage, and every
    // doc must come back byte-identical: the oracle reads the fields
    // straight off the table, so any framing/slicing bug (chars vs
    // bytes, off-by-one at the blank line, missing trailing CRLF)
    // shows as a hash mismatch) ----
    "q289_warc_roundtrip" -> ((s, d) => {
      import graft.ingest.Warc
      val rec = Warc.record(col("doc_id"),
        format_string("http://docs.example.com/d/%d", col("doc_id")),
        encode(col("text"), "UTF-8"))
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          col("rec._2").as("uri"),
          length(col("rec._3")).cast("bigint").as("n_bytes"),
          md5(col("rec._3")).as("payload_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- Unicode normalization (the projection every text-dedup
    // stage must run FIRST: composed vs decomposed forms of the same
    // visible string hash differently at every dedup grain unless the
    // corpus is normalized to one form). Each doc gets a DECOMPOSED
    // prefix (base letter + combining mark); NFC must compose it
    // (n_nfc = n_raw - 1 per doc) and the md5s pin the exact composed
    // bytes against DuckDB's nfc_normalize; the fold key adds
    // strip-accents + casefold, the accent-insensitive join key ----
    "q290_unicode_normalize" -> ((s, d) => {
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
    }),

    // ---- registered-domain (eTLD+1) extraction: domain caps and
    // per-site crawl budgets group on "one more label than the longest
    // matching public suffix" (the publicsuffix.org algorithm), NOT on
    // the raw host — www./cdn.a. subdomains of one site must pool, and
    // multi-label suffixes must beat their single-label tails (the set
    // here contains both `uk` and `co.uk`, `io` and `github.io`, so a
    // shortest-match bug changes the key and fails the hash) ----
    "q291_registered_domain" -> ((s, d) => {
      import graft.text.UrlCanon
      val suffixes = Set("com", "org", "net", "uk", "co.uk",
        "io", "github.io")
      val k = expr("doc_id div 3")
      val sub = element_at(array(lit(""), lit("www."), lit("cdn.a.")),
        (col("doc_id") % 3 + 1).cast("int"))
      val sfx = element_at(array(lit("com"), lit("co.uk"), lit("org"),
        lit("github.io")), (k % 4 + 1).cast("int"))
      val host = concat(sub, lit("site"), (k % 53).cast("string"),
        lit("."), sfx)
      tSpread(s, d, "documents")
        .select(col("doc_id"), host.as("host"))
        .select(col("doc_id"), col("host"),
          UrlCanon.registeredDomainUdf(suffixes)(col("host")).as("rd"))
        .groupBy(col("rd"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          min(col("doc_id")).as("min_doc_id"))
        .select(col("rd").as("registered_domain"), col("n_docs"),
          col("n_hosts"), col("min_doc_id"))
        .orderBy(col("registered_domain"))
    }),

    // ---- blocklist scan via Aho-Corasick (term blocklists carry
    // hundreds of patterns; the automaton matches ALL of them in ONE
    // linear walk instead of one corpus pass per pattern). The pattern
    // set nests on purpose — tab⊂table, an⊂scan, al⊂value, rde⊂order,
    // plus a phrase and an absent term — so an automaton that drops
    // the failure-output merge undercounts and fails the hash; the
    // oracle counts each pattern independently by position scan ----
    "q292_blocklist_scan" -> ((s, d) => {
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
    }),

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
    "q293_cdc_chunk_dedup" -> ((s, d) => {
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
    }),

    // ---- robots.txt evaluation (the crawl-permission gate): per doc,
    // a synthetic robots body (host-stamped) is evaluated for agent
    // `graftbot` against one of five path shapes. The five verdicts
    // exercise the RFC 9309 rules naive evaluators get wrong — group
    // selection must NOT fall through to the deny-all `*` group when a
    // specific group exists (v0), longest-match must let a longer
    // Allow beat a shorter Disallow (v2), and `*`/`$` metacharacters
    // must match bytes, not be treated literally (v3 vs v4). The
    // oracle states each verdict from the generator formula; the
    // Spark side earns it through the full parse + evaluate path ----
    "q294_robots_gate" -> ((s, d) => {
      import graft.ingest.Robots
      val h = expr("doc_id div 5")
      val robots = concat(lit("# host "), h, lit("\n"),
        lit("User-agent: graftbot\n" +
          "Disallow: /private/\n" +
          "Allow: /private/public*\n" +
          "Disallow: /data/*.json$\n" +
          "\n" +
          "User-agent: *\n" +
          "Disallow: /\n"))
      val v = col("doc_id") % 5
      val path = when(v === 0, format_string("/public/%d", h))
        .when(v === 1, format_string("/private/%d", h))
        .when(v === 2, format_string("/private/public%d", h))
        .when(v === 3, format_string("/data/%d.json", h))
        .otherwise(format_string("/data/%d.json2", h))
      tSpread(s, d, "documents")
        .select(col("doc_id"), path.as("path"),
          Robots.allowedUdf(robots, lit("graftbot"), path).as("allowed"))
        .orderBy(col("doc_id"))
    }),

    // ---- CDC containment join: which documents are mostly MADE OF
    // another document's bytes? Candidate pairs come from sharing a
    // chunk (the chunk-hash join IS the blocking — never all-pairs),
    // with a document-frequency cap df<=20 dropping boilerplate chunks
    // every doc shares (the frequent-shingle guard, same role as LSH
    // band caps; at 100x corpus the cap is what keeps the top chunk
    // from contributing C(df,2) pairs). Per doc: the best-covering
    // partner by shared chunk bytes over own bytes, integer basis
    // points, ties broken by partner id ----
    "q295_cdc_containment" -> ((s, d) => {
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
    }),

    // ---- block-level boilerplate removal (justext-shape): each doc
    // is wrapped in a synthetic page — nav link bar, the text's two
    // halves as paragraphs, an ad strip, a footer — and the extractor
    // must segment the blocks and keep exactly the content ones by
    // the density rule (>= 10 words AND link chars < half the text).
    // Docs span 10..100 words, so a HALF can drop under the word bar:
    // the oracle replays the keep decision per half from the word
    // count, making both branches of the rule load-bearing. The
    // cross-document complement is CCNet line-frequency dedup
    // (q200/q201); this one is corpus-state-free — pure projection ----
    "q296_boilerplate_extract" -> ((s, d) => {
      import graft.extract.Boilerplate
      val ws = split(trim(col("text")), "\\s+")
      val html = concat(
        lit("<html><head><title>doc"), col("doc_id"),
        lit("</title></head><body><div class=\"nav\">" +
          "<a href=\"/\">home</a> <a href=\"/about\">about</a> " +
          "<a href=\"/contact\">contact</a></div><p>"),
        col("h1"),
        lit("</p><div class=\"ads\">buy now best cheap deals</div><p>"),
        col("h2"),
        lit("</p><footer>copyright example site all rights reserved" +
          "</footer></body></html>"))
      tSpread(s, d, "documents")
        .withColumn("ws", ws)
        .withColumn("h1", array_join(expr("slice(ws, 1, (size(ws) + 1) div 2)"), " "))
        .withColumn("h2", array_join(
          expr("slice(ws, (size(ws) + 1) div 2 + 1, size(ws) - (size(ws) + 1) div 2)"), " "))
        .select(col("doc_id"),
          Boilerplate.extractUdf()(html).as("e"))
        .select(col("doc_id"),
          col("e._1").as("n_blocks"),
          col("e._2").as("n_kept"),
          md5(col("e._3")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- ustar member round-trip (the third container next to WARC
    // and gzip: file-per-document corpora ship as tar shards). Docs
    // serialize into per-archive blobs at the binaryFile grain, the
    // splitter walks the 512-byte block grid validating the
    // spaces-as-checksum-field header checksum and OCTAL size fields,
    // and every doc must come back byte-identical — the oracle reads
    // the fields off the table, so octal-termination or padding
    // off-by-ones mismatch. System-tar authenticity is spec-pinned ----
    "q297_tar_roundtrip" -> ((s, d) => {
      import graft.ingest.Tar
      val e = Tar.entry(format_string("docs/doc%d.txt", col("doc_id")),
        encode(col("text"), "UTF-8"))
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), e.as("ent")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Tar.concatEntries(expr("transform(rs, x -> x.ent)"))
          .as("blob"))
        .select(explode(Tar.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("name"),
          expr("cast(regexp_extract(rec._1, 'doc(\\\\d+)\\\\.txt', 1) " +
            "as bigint)").as("doc_id"),
          length(col("rec._2")).cast("bigint").as("n_bytes"),
          md5(col("rec._2")).as("payload_md5"))
        .select(col("doc_id"), col("name"), col("n_bytes"),
          col("payload_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- the crawl-funnel yield card: the q288/q294/q296 operators
    // COMPOSED end-to-end — canonical-URL dedup (keep each logical
    // page's first fetch), then the robots permission gate, then
    // block-level content extraction — with per-stage survivor counts
    // and bytes, the report every ingestion pipeline publishes. Each
    // stage is EARNED through the real operator (parse+groupBy+join,
    // rule evaluation, tag-scan density classify); the oracle states
    // each stage's survivors from the generator formulas the three
    // parent queries already pin ----
    "q298_crawl_funnel" -> ((s, d) => {
      import graft.text.UrlCanon
      import graft.ingest.Robots
      import graft.extract.Boilerplate
      val docs0 = tSpread(s, d, "documents")
      // stage 1: canonical-URL dedup (q288's variants incl. %70)
      val g = expr("doc_id div 4")
      val k = g % 97
      val m = g % 7
      val v = col("doc_id") % 4
      val messy = when(v === 0, format_string(
          "http://www.Site%d.EXAMPLE.com/%%70/%d?b=%d&a=1#frag", k, g, m))
        .when(v === 1, format_string(
          "HTTP://www.site%d.example.com:80/p/%d?a=1&b=%d", k, g, m))
        .when(v === 2, format_string(
          "http://www.site%d.example.com/p/%d" +
            "?utm_source=feed&a=1&utm_campaign=x&b=%d", k, g, m))
        .otherwise(format_string(
          "http://www.site%d.example.com/p/%d/?a=1&b=%d", k, g, m))
      val keep1 = docs0.select(col("doc_id"), UrlCanon.canon(messy).as("u"))
        .groupBy(col("u")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val s1 = docs0.join(keep1, "doc_id")
      // stage 2: robots permission (q294's body and path shapes)
      val h5 = expr("doc_id div 5")
      val robots = concat(lit("# host "), h5, lit("\n"),
        lit("User-agent: graftbot\n" +
          "Disallow: /private/\n" +
          "Allow: /private/public*\n" +
          "Disallow: /data/*.json$\n" +
          "\n" +
          "User-agent: *\n" +
          "Disallow: /\n"))
      val v5 = col("doc_id") % 5
      val path = when(v5 === 0, format_string("/public/%d", h5))
        .when(v5 === 1, format_string("/private/%d", h5))
        .when(v5 === 2, format_string("/private/public%d", h5))
        .when(v5 === 3, format_string("/data/%d.json", h5))
        .otherwise(format_string("/data/%d.json2", h5))
      // stage 3: block-level content extraction (q296's 5-block page)
      val html = concat(
        lit("<html><head><title>doc"), col("doc_id"),
        lit("</title></head><body><div class=\"nav\">" +
          "<a href=\"/\">home</a> <a href=\"/about\">about</a> " +
          "<a href=\"/contact\">contact</a></div><p>"),
        col("h1"),
        lit("</p><div class=\"ads\">buy now best cheap deals</div><p>"),
        col("h2"),
        lit("</p><footer>copyright example site all rights reserved" +
          "</footer></body></html>"))
      // ONE corpus pass: per-doc stage flags, a single aggregate, a
      // stack unpivot — the 4-branch union form re-scanned the
      // lineage once per stage (measured 4.8x at 10x; this shape is
      // scan-once + the url groupBy/join shuffle + one 1-row agg)
      val flags = docs0
        .join(keep1.withColumn("u1", lit(true)), Seq("doc_id"), "left")
        .withColumn("u1", coalesce(col("u1"), lit(false)))
        .withColumn("ok2", col("u1") &&
          Robots.allowedUdf(robots, lit("graftbot"), path))
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("h1",
          array_join(expr("slice(ws, 1, (size(ws) + 1) div 2)"), " "))
        .withColumn("h2", array_join(expr(
          "slice(ws, (size(ws) + 1) div 2 + 1, " +
            "size(ws) - (size(ws) + 1) div 2)"), " "))
        .withColumn("e",
          when(col("ok2"), Boilerplate.extractUdf()(html)))
        .select(octet_length(col("text")).cast("long").as("tb"),
          col("u1"), col("ok2"),
          (col("ok2") && col("e._2") >= 1).as("ok3"),
          when(col("ok2"), octet_length(col("e._3")).cast("long"))
            .otherwise(0L).as("kb"))
      flags.agg(
          count(lit(1)).as("n1"), sum(col("tb")).as("b1"),
          sum(when(col("u1"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("u1"), col("tb")).otherwise(0L)).as("b2"),
          sum(when(col("ok2"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("ok2"), col("tb")).otherwise(0L)).as("b3"),
          sum(when(col("ok3"), 1L).otherwise(0L)).as("n4"),
          sum(when(col("ok3"), col("kb")).otherwise(0L)).as("b4"))
        .selectExpr("stack(4, " +
          "1L, 'fetched', n1, b1, " +
          "2L, 'url_unique', n2, b2, " +
          "3L, 'robots_allowed', n3, b3, " +
          "4L, 'content_extracted', n4, b4) " +
          "AS (stage, name, n_docs, n_bytes)")
        .orderBy(col("stage"))
    }),

    // ---- charset sniff + transcode (the decode stage between WARC
    // framing and UnicodeNorm: archived bodies arrive as raw bytes in
    // the origin's charset, and a large share of archived web bytes is
    // not UTF-8). Six generator arms, one per resolution rung: plain
    // UTF-8 (heuristic), BOM'd UTF-8 under a LYING latin-1 header
    // (BOM must win), cp1252 by header, cp1252 via
    // <meta charset="latin1"> (WHATWG label folding: latin-1 labels
    // MEAN windows-1252), UTF-16LE by BOM, and undeclared cp1252
    // punctuation caught by the strict UTF-8-validity heuristic.
    // The oracle states each arm's decoded text from the generator
    // formula; md5 pins every decoded byte ----
    "q299_charset_decode" -> ((s, d) => {
      import graft.ingest.CharsetSniff
      val arm = col("doc_id") % 6
      val utf8 = encode(col("text"), "UTF-8")
      val bomU8 = lit(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      val bomLe = lit(Array[Byte](0xFF.toByte, 0xFE.toByte))
      // cp1252 bytes of " €’—é" (20 80 92 97 E9)
      val specials = lit(Array[Byte](0x20, 0x80.toByte, 0x92.toByte,
        0x97.toByte, 0xE9.toByte))
      // cp1252 curly-quoted "q" (93 71 94) — invalid as UTF-8
      val curly = lit(Array[Byte](0x93.toByte, 0x71, 0x94.toByte))
      val meta = lit("<meta charset=\"latin1\">")
      val body = when(arm === 0, utf8)
        .when(arm === 1, concat(bomU8, utf8))
        .when(arm === 2, concat(utf8, specials))
        .when(arm === 3,
          concat(encode(concat(meta, col("text")), "UTF-8"), specials))
        .when(arm === 4, concat(bomLe, encode(col("text"), "UTF-16LE")))
        .otherwise(concat(utf8, curly))
      val ct = when(arm === 1, lit("text/html; charset=iso-8859-1"))
        .when(arm === 2, lit("text/html; charset=windows-1252"))
        .otherwise(lit("text/html"))
      tSpread(s, d, "documents")
        .select(col("doc_id"), ct.as("ct"), body.as("body"))
        .select(col("doc_id"),
          CharsetSniff.sniffUdf(col("ct"), col("body")).as("charset"),
          CharsetSniff.decodeUdf(col("ct"), col("body")).as("dec"))
        .select(col("doc_id"), col("charset"),
          length(col("dec")).cast("bigint").as("n_chars"),
          md5(encode(col("dec"), "UTF-8")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- HTML entity decoding before hashing/dedup: the same visible
    // string arrives plain, named (&eacute;), decimal (&#233;), and
    // hex + legacy-bare (&#xE9; / &amp) — four RAW forms per div-4
    // group that must collapse to ONE content hash after decode while
    // the raw hashes stay distinct. BeautifulSoup does this implicitly
    // on parse; a byte-level engine does it here, explicitly ----
    "q300_entity_dedup" -> ((s, d) => {
      import graft.text.HtmlEntities
      val g = expr("doc_id div 4")
      val v = col("doc_id") % 4
      val gtext = format_string("doc group %d", g)
      val raw = when(v === 0, concat(gtext, lit(" café & bar")))
        .when(v === 1, concat(gtext, lit(" caf&eacute; &amp; bar")))
        .when(v === 2, concat(gtext, lit(" caf&#233; &#38; bar")))
        .otherwise(concat(gtext, lit(" caf&#xE9; &amp bar")))
      tSpread(s, d, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          HtmlEntities.decodeUdf(col("raw")).as("dec"))
        .groupBy(md5(encode(col("dec"), "UTF-8")).as("content_md5"))
        .agg(count(lit(1)).as("n_dups"),
          countDistinct(md5(encode(col("raw"), "UTF-8"))).as("n_raw_forms"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("min_doc_id"))
    }),

    // ---- sitemap frontier coverage: per host (div-10 of doc_id), a
    // root <sitemapindex> fans out to two child urlsets advertising
    // pages 0-4 and 5-8 of the host's ten; the crawl fetched pages
    // {0..5, 9}. Exercises index expansion, loc unescape (&amp; in
    // the advertised query string must become '&' BEFORE the param
    // split strips utm_*/fbclid), and the canonical-URL join against
    // the crawl — q288's dedup grain as the audit key. Coverage
    // counts per host are the frontier report every crawl publishes ----
    "q301_sitemap_coverage" -> ((s, d) => {
      import graft.ingest.Sitemap
      import graft.text.UrlCanon
      val docs = tSpread(s, d, "documents")
      val hosts = docs.select(expr("doc_id div 10").as("h")).distinct()
      // third child is a CROSS-HOST decoy: the same-host guard must
      // drop it (followed, it would double the page-0..4 adverts and
      // break every n_advertised below — the card fails loudly if the
      // guard disappears)
      val root = format_string(
        "<sitemapindex><sitemap><loc>https://site%d.example.com/sm-0.xml" +
          "</loc></sitemap><sitemap><loc>https://site%d.example.com/sm-1.xml" +
          "</loc></sitemap><sitemap><loc>https://evil.example.com/sm-0.xml" +
          "</loc></sitemap></sitemapindex>", col("h"), col("h"))
      val parent = format_string(
        "https://site%d.example.com/sitemap.xml", col("h"))
      val withChild = hosts
        .select(col("h"),
          explode(Sitemap.childrenCheckedUdf(parent, root)).as("curl"))
        .withColumn("c", regexp_extract(col("curl"), "sm-(\\d)\\.xml", 1)
          .cast("int"))
      val childXml = concat(lit("<urlset>"),
        expr("concat_ws('', transform(sequence(5*c, least(5*c+4, 8)), " +
          "j -> concat('<url><loc>https://site', h, '.example.com/p/', " +
          "h*10+j, '?utm_source=sm&amp;fbclid=abc</loc><lastmod>2024-01-0', " +
          "j+1, '</lastmod></url>')))"),
        lit("</urlset>"))
      val adv = withChild
        .select(col("h"), explode(Sitemap.urlsUdf(childXml)).as("e"))
        .select(col("h"), UrlCanon.canon(col("e._1")).as("u"),
          col("e._2").as("lastmod"))
      val crawled = docs
        .filter(col("doc_id") % 10 <= 5 || col("doc_id") % 10 === 9)
        .select(expr("doc_id div 10").as("h"),
          UrlCanon.canon(format_string("https://site%d.example.com/p/%d",
            expr("doc_id div 10"), col("doc_id"))).as("u"))
      adv.withColumn("a", lit(1))
        .join(crawled.withColumn("cr", lit(1)), Seq("h", "u"), "full_outer")
        .groupBy(col("h"))
        .agg(count(col("a")).as("n_advertised"),
          count(col("cr")).as("n_crawled"),
          count(when(col("a").isNotNull && col("cr").isNotNull, 1))
            .as("n_both"),
          count(when(col("a").isNotNull && col("cr").isNull, 1))
            .as("n_sitemap_only"),
          count(when(col("a").isNull && col("cr").isNotNull, 1))
            .as("n_crawl_only"),
          max(col("lastmod")).as("last_lastmod"))
        .select(col("h").as("host_id"), col("n_advertised"),
          col("n_crawled"), col("n_both"), col("n_sitemap_only"),
          col("n_crawl_only"), col("last_lastmod"))
        .orderBy(col("host_id"))
    }),

    // ---- the byte-grain decode chain COMPOSED (q299+q296+q300+q290
    // in one pass, the order a real ingest runs them): raw cp1252
    // bytes --charset decode--> html --boilerplate--> block text
    // --entity decode--> content --NFC fold--> dedup key. The body
    // carries a link-dense nav (dropped), named + numeric-C1 entities
    // AND raw cp1252 punctuation bytes in the same <p> block — each
    // decode stage must fire exactly once, in order, or the md5s
    // diverge. Per-row projections end to end: no shuffle until the
    // presentation sort ----
    "q302_decode_chain" -> ((s, d) => {
      import graft.ingest.CharsetSniff
      import graft.text.{HtmlEntities, UnicodeNorm}
      import graft.extract.Boilerplate
      val nav = "<div class=\"nav\"><a href=\"/\">home</a> " +
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></div>"
      val part1 = concat(lit(nav + "<p>"), col("text"),
        lit(" caf&eacute; &amp; bar &#147;ok&#148; "))
      // raw cp1252 punctuation: 0x80 euro, 0x92 rsquo
      val specials = lit(Array[Byte](0x80.toByte, 0x92.toByte))
      val bytes = concat(encode(part1, "UTF-8"), specials,
        encode(lit("</p>"), "UTF-8"))
      val ct = lit("text/html; charset=windows-1252")
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          CharsetSniff.decodeUdf(ct, bytes).as("html"))
        .select(col("doc_id"),
          Boilerplate.extractUdf(3)(col("html")).as("x"))
        .select(col("doc_id"), col("x._2").cast("bigint").as("n_kept"),
          HtmlEntities.decodeUdf(col("x._3")).as("content"))
        .select(col("doc_id"), col("n_kept"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"),
          md5(encode(UnicodeNorm.foldKey(col("content")), "UTF-8"))
            .as("fold_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- robots directives beyond allow/deny: Sitemap: lines are
    // GLOBAL (position-independent — one sits between the two groups,
    // even hosts append another after them) and Crawl-delay is
    // per-group with the SAME specific-wins-no-merge selection as the
    // permission verdict. These feed the two frontier subsystems:
    // sitemap discovery (q301's input comes from exactly here on the
    // real web) and the per-host politeness budget a fetch scheduler
    // divides by ----
    "q303_robots_directives" -> ((s, d) => {
      import graft.ingest.Robots
      val docs = tSpread(s, d, "documents")
      val hosts = docs.select(expr("doc_id div 5").as("h")).distinct()
      val robots = concat(
        lit("# host "), col("h"), lit("\n"),
        lit("Sitemap: https://s"), col("h"),
        lit(".example.com/sitemap.xml\n"),
        lit("User-agent: graftbot\nDisallow: /private/\n" +
          "Crawl-delay: 1.5\n\n"),
        lit("Sitemap: https://s"), col("h"),
        lit(".example.com/sitemap-mid.xml\n"),
        lit("User-agent: *\nDisallow: /\nCrawl-delay: 10\n"),
        when(col("h") % 2 === 0,
          concat(lit("Sitemap: https://s"), col("h"),
            lit(".example.com/sitemap-extra.xml\n")))
          .otherwise(lit("")))
      hosts.select(col("h").as("host_id"), robots.as("r"))
        .select(col("host_id"),
          size(Robots.sitemapsUdf(col("r"))).cast("bigint")
            .as("n_sitemaps"),
          element_at(Robots.sitemapsUdf(col("r")), 1).as("first_sitemap"),
          (Robots.crawlDelayUdf(col("r"), lit("GraftBot")) * 1000)
            .cast("bigint").as("bot_delay_ms"),
          (Robots.crawlDelayUdf(col("r"), lit("otherbot")) * 1000)
            .cast("bigint").as("other_delay_ms"),
          Robots.allowedUdf(col("r"), lit("graftbot"), lit("/public/x"))
            .as("bot_allowed"),
          Robots.allowedUdf(col("r"), lit("otherbot"), lit("/public/x"))
            .as("other_allowed"))
        .orderBy(col("host_id"))
    }),

    // ---- redirect-chain resolution BEFORE URL dedup: the canonical
    // identity of a fetched page is its 301-chain's FINAL target.
    // Five arms per div-5 group: terminal, 1/2/3-hop chains onto the
    // group's terminal, and a self-loop that must quarantine as
    // unresolved (NULL final) rather than mis-assign. Pointer-doubling
    // joins — ⌈log2(hops)⌉ shuffle rounds, no driver loop over rows ----
    "q304_redirect_resolve" -> ((s, d) => {
      import graft.graph.Redirects
      val docs = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val edges = docs.filter(arm >= 1)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      docs.select(col("doc_id"))
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("unresolved"), lit(null))
            .otherwise(coalesce(col("final_id"), col("doc_id")))
            .cast("bigint").as("final_id"),
          coalesce(col("unresolved"), lit(false)).as("unresolved"))
        .orderBy(col("doc_id"))
    }),

    // ---- politeness fetch schedule: each host's URLs get serial
    // slots spaced by ITS OWN Crawl-delay (earned through the robots
    // parser, not assumed), then the per-host timelines merge into
    // global 1-second fetch waves — the throughput report a frontier
    // scheduler publishes (how many fetches land in each second, how
    // many hosts are concurrently active). Slot assignment goes
    // through HostSlots.assign — a probed choice between the per-host
    // window (one shuffle; serializes a mega-host onto ONE task) and
    // GlobalOrder's two-phase rank (skew-proof; a hot host spans
    // range partitions). The AB host_slot_* pairs measured the window
    // form 3.1× faster uniform and 2.7× slower at 90%-one-host skew —
    // neither dominates, so the operator probes max-host size first ----
    "q305_fetch_schedule" -> ((s, d) => {
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val h = expr("doc_id div 10")
      val robots = concat(lit("User-agent: *\nCrawl-delay: "),
        format_string("%.1f", (h % 4 + 1) * lit(0.5)), lit("\n"))
      val base = tSpread(s, d, "documents")
        .select(col("doc_id"), h.as("h"),
          (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
            .cast("bigint").as("delay_ms"))
      HostSlots.assign(base, "h", Seq(col("doc_id")), "slot")
        .withColumn("start_ms", (col("slot") - 1) * col("delay_ms"))
        .select(expr("start_ms div 1000").as("wave"), col("h"))
        .groupBy(col("wave"))
        .agg(count(lit(1)).as("n_fetches"),
          countDistinct(col("h")).as("n_hosts"))
        .orderBy(col("wave"))
    }),

    // ---- frontier identity COMPOSED (q304 into q288): a fetched
    // page's identity is canonical_url(redirect_final_target). Five
    // arms per div-5 group: a plain fetch of page P, a messy URL
    // variant of P (case/port/utm/fragment), a 1-hop and a 2-hop 301
    // chain landing on the variant, and a self-loop that must
    // QUARANTINE (identity NULL) rather than join any group. Dedup on
    // either key alone gets this wrong: URL-only sees the redirect
    // sources as distinct pages; redirect-only sees the two surface
    // forms of P as distinct. Composed, each group collapses to ONE
    // identity with n_merged=4 ----
    "q306_frontier_identity" -> ((s, d) => {
      import graft.graph.Redirects
      import graft.text.UrlCanon
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 53
      val url = when(arm === 0, format_string(
          "http://www.site%d.example.com/p/%d?a=1", k, g))
        .when(arm === 1, format_string(
          "HTTP://www.Site%d.example.com:80/p/%d?utm_source=x&a=1#f", k, g))
        .otherwise(format_string(
          "http://www.site%d.example.com/r/%d", k, col("doc_id")))
      val docs = docs0.select(col("doc_id"), url.as("url"))
      val edges = docs0.filter(arm === 2 || arm === 3 || arm === 4)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      val withFinal = docs
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("unresolved"), lit(false)), lit(null))
            .otherwise(coalesce(col("final_id"), col("doc_id")))
            .as("fid"))
      // identity = canonical URL of the FINAL doc (join back for its url)
      withFinal
        .join(docs.select(col("doc_id").as("fid"),
          UrlCanon.canon(col("url")).as("canonical_url")), Seq("fid"), "left")
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_merged"),
          min(col("doc_id")).as("min_doc_id"))
        // nulls LAST to match DuckDB's ASC default (Spark's is nulls
        // first) — the driver sorts rows before hashing so either
        // passes the gate, but the emitted order should match the
        // oracle's for any order-sensitive consumer
        .orderBy(col("canonical_url").asc_nulls_last)
    }),

    // ---- the WARC→HTTP→charset ingest chain COMPOSED: a WARC
    // response record's payload is an HTTP MESSAGE (status line +
    // headers + body), and nothing downstream can run until the
    // envelope is split off — the Content-Type header feeds the
    // charset sniff (q299's ladder), the Location header feeds the
    // redirect map (q304's edges), the status class gates the funnel.
    // Four arms per div-4 group: 200 with plain Content-Length
    // framing, 200 CHUNKED (multi-chunk: bodies exceed the 64-byte
    // write chunk), 301 with Location and an empty body, 404 with a
    // cp1252-labelled body whose 0x80/0x92 bytes are invalid UTF-8 —
    // the arm that proves the header really reached the sniffer.
    // Write→concat→split→parse→decode, all per-row projections around
    // one 16-file groupBy ----
    "q307_http_envelope" -> ((s, d) => {
      import graft.ingest.{Warc, HttpMessage, CharsetSniff}
      val arm = col("doc_id") % 4
      // cp1252 punctuation (0x80 euro, 0x92 rsquo): invalid as UTF-8
      val specials = lit(Array[Byte](0x80.toByte, 0x92.toByte))
      val utf8 = encode(col("text"), "UTF-8")
      val status = when(arm === 2, lit(301))
        .when(arm === 3, lit(404)).otherwise(lit(200))
      val reason = when(arm === 2, lit("Moved Permanently"))
        .when(arm === 3, lit("Not Found")).otherwise(lit("OK"))
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .when(arm === 1, lit("text/html"))
        .when(arm === 3, lit("text/html; charset=windows-1252"))
        .otherwise(lit(null).cast("string"))
      val loc = when(arm === 2, format_string(
        "http://www.example.com/final/%d", expr("doc_id div 4")))
        .otherwise(lit(null).cast("string"))
      val body = when(arm === 2, lit(Array.emptyByteArray))
        .when(arm === 3, concat(encode(lit("not found "), "UTF-8"), specials))
        .otherwise(utf8)
      val payload = HttpMessage.writeUdf(status, reason, ct, loc,
        body, arm === 1)
      val rec = Warc.record(col("doc_id"),
        format_string("http://www.example.com/p/%d", col("doc_id")), payload)
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          HttpMessage.parseUdf(col("rec._3")).as("h"))
        .select(col("doc_id"),
          col("h._1").as("status"),
          coalesce(expr("h._2['transfer-encoding']") === "chunked",
            lit(false)).as("chunked"),
          expr("h._2['location']").as("location"),
          CharsetSniff.sniffUdf(expr("h._2['content-type']"), col("h._3"))
            .as("charset"),
          CharsetSniff.decodeUdf(expr("h._2['content-type']"), col("h._3"))
            .as("dec"))
        .select(col("doc_id"), col("status"), col("chunked"),
          col("location"), col("charset"),
          length(col("dec")).cast("bigint").as("n_chars"),
          md5(encode(col("dec"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- outlink discovery: the frontier's GROWTH edge, composed
    // end-to-end — generic <a href> extraction (Outlinks), RFC 3986
    // resolution against the page's own URL (UrlResolve), canonical
    // form (UrlCanon), robots gate (Robots). Seven links per page
    // exercise every resolution class: nested relative, ../ climb,
    // rooted with an &amp; entity in the query, scheme-relative onto
    // another host, absolute with case/port/fragment mess for canon,
    // query-only self-link, and a /private/ link the robots policy
    // blocks. One anchor has no href (dropped before numbering).
    // All per-row projections — the frontier loop costs no shuffle
    // until its dedup ----
    "q308_outlink_frontier" -> ((s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.ingest.Robots
      val k = col("doc_id") % 31
      val base = format_string(
        "http://www.site%d.example.com/a/b/page.html", k)
      val html = concat(
        lit("<div><a href=\"c/d.html\">1</a> <a href='../up.html'>2</a> "),
        lit("<A HREF=\"/rooted?b=2&amp;a=1\">3</A> "),
        lit("<a href=//cdn.example.com/lib.js>4</a> "),
        lit("<a href=\"HTTPS://Abs.example.com:443/y#frag\">5</a> "),
        format_string("<a href=\"?q=%d\">6</a> ", col("doc_id")),
        format_string("<a href=\"/private/p%d\">7</a>", col("doc_id")),
        lit("<a name=\"no-href\">skip</a></div>"))
      val robots = lit("User-agent: *\nDisallow: /private/\n")
      tSpread(s, d, "documents")
        .select(col("doc_id"), base.as("base"),
          posexplode(Outlinks.hrefsUdf(html)))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("link_no"),
          UrlCanon.canon(
            UrlResolve.resolveUdf(col("base"), col("col"))).as("url"))
        .withColumn("path", coalesce(nullif(
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/.*)?$", 1), lit("")),
          lit("/")))
        .select(col("doc_id"), col("link_no"), col("url"),
          Robots.allowedUdf(robots, lit("graftbot"), col("path"))
            .as("allowed"))
        .orderBy(col("doc_id"), col("link_no"))
    }),

    // ---- the FULL frontier planner in ONE plan — the query a crawl
    // operator actually runs, composing every stage the pairwise cards
    // verify separately: redirect resolution (q304) → canonical
    // identity dedup (q288/q306) → robots permission + crawl-delay
    // (q294/q303) → politeness slots and waves (q305). Five arms per
    // div-5 group: clean page, messy variant of the SAME page, a 301
    // source landing on the variant (all three must merge to one
    // fetch), a /private/ page the gate blocks, and a self-loop that
    // quarantines before scheduling. Per-host report: candidates,
    // allowed, blocked, the host's own delay, makespan, wave count.
    // Plan shape pinned in PlanShapeSpec: no cartesian, no
    // single-task data-sized window, no global sort before the 7-row
    // presentation sort ----
    "q309_frontier_planner" -> ((s, d) => {
      import graft.graph.Redirects
      import graft.text.UrlCanon
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 7
      val url = when(arm === 0, format_string(
          "http://www.site%d.example.com/p/%d?x=1", k, g))
        .when(arm === 1, format_string(
          "HTTP://www.Site%d.example.com:80/p/%d?utm_source=f&x=1#top", k, g))
        .when(arm === 3, format_string(
          "http://www.site%d.example.com/private/%d", k, g))
        .otherwise(format_string(
          "http://www.site%d.example.com/r/%d", k, col("doc_id")))
      val docs = docs0.select(col("doc_id"), url.as("url"))
      // stage 1: redirect resolution (arm 2: one hop onto the arm-1
      // variant; arm 4: self-loop -> quarantined before scheduling)
      val edges = docs0.filter(arm === 2 || arm === 4)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      val withFinal = docs
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .filter(!coalesce(col("unresolved"), lit(false)))
        .select(col("doc_id"),
          coalesce(col("final_id"), col("doc_id")).as("fid"))
      // stage 2: canonical identity of the FINAL fetch; dedup keeps
      // the earliest fetch as the group representative
      val canon = withFinal
        .join(docs.select(col("doc_id").as("fid"),
          UrlCanon.canon(col("url")).as("curl")), Seq("fid"))
        .groupBy(col("curl")).agg(min(col("doc_id")).as("first_doc"))
      // stage 3: host + path EARNED from the canonical URL, then the
      // robots verdict and the host's own crawl-delay
      val hosted = canon
        .withColumn("host_id",
          regexp_extract(col("curl"), "site(\\d+)\\.example", 1)
            .cast("bigint"))
        .withColumn("path",
          regexp_extract(col("curl"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
      val robots = concat(
        lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
        format_string("%.1f", (col("host_id") % 4 + 1) * lit(0.5)),
        lit("\n"))
      // r13: materialized once — `gated` feeds BOTH the politeness
      // schedule and the per-host candidate counts, and with pure
      // lineage each leg re-ran the whole resolve→canon→robots chain
      // (the two ~700 ms single-task stage groups in the profile)
      val gated = hosted.select(col("curl"), col("host_id"),
        col("first_doc"),
        Robots.allowedUdf(robots, lit("graftbot"), col("path"))
          .as("allowed"),
        (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
          .cast("bigint").as("delay_ms"))
        .localCheckpoint()
      // stage 4: politeness schedule over the allowed frontier
      val sched = HostSlots.assign(gated.filter(col("allowed")),
          "host_id", Seq(col("first_doc")), "slot")
        .withColumn("start_ms", (col("slot") - 1) * col("delay_ms"))
      val rep = sched.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_allowed"),
          max(col("delay_ms")).as("delay_ms"),
          max(col("start_ms")).as("makespan_ms"),
          countDistinct(expr("start_ms div 1000")).as("n_waves"))
      // stage 5: the per-host planner report
      gated.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_candidates"),
          count(when(!col("allowed"), 1)).as("n_blocked"))
        .join(rep, Seq("host_id"))
        .select(col("host_id"), col("n_candidates"), col("n_allowed"),
          col("n_blocked"), col("delay_ms"), col("makespan_ms"),
          col("n_waves"))
        .orderBy(col("host_id"))
    }),

    // ---- lastmod-driven recrawl: the freshness loop the sitemap
    // card left unconsumed — each host's sitemap advertises its pages
    // WITH lastmod (written by the deterministic writer, re-parsed by
    // the reader: the round trip earns the dates), the crawl state
    // holds each page's fetched_at, and a page whose lastmod is newer
    // than its fetch is STALE. The stale set becomes the re-fetch
    // frontier, ordered freshest-change-first within each host and
    // spaced into politeness waves by the host's own crawl-delay
    // (q305's machinery, HostSlots under it). ISO dates compare as
    // strings — no timestamp parsing in the hot path ----
    "q310_recrawl_schedule" -> ((s, d) => {
      import graft.ingest.{Robots, Sitemap}
      import graft.operators.HostSlots
      val docs = tSpread(s, d, "documents")
      val h = expr("doc_id div 10")
      val j = col("doc_id") % 10
      val url = format_string(
        "https://site%d.example.com/p/%d", h, col("doc_id"))
      val lastmod = format_string("2024-01-%02d", j + 1)
      // per-host sitemap: write the entries, read them back
      val sm = docs
        .select(h.as("host_id"),
          struct(col("doc_id"), url.as("loc"), lastmod.as("lastmod"))
            .as("e"))
        .groupBy(col("host_id"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("host_id"), Sitemap.writeUrlsetUdf(
          expr("transform(es, x -> struct(x.loc, x.lastmod))")).as("xml"))
      val adv = sm
        .select(col("host_id"), explode(Sitemap.urlsUdf(col("xml"))).as("e"))
        .select(col("host_id"), col("e._1").as("url"),
          col("e._2").as("lastmod"))
      // crawl state: fetch days 2/5/8 by j%3
      val crawl = docs.select(col("doc_id"), h.as("host_id"), url.as("url"),
        format_string("2024-01-%02d", (j % 3) * 3 + 2).as("fetched_at"))
      val stale = crawl.join(adv, Seq("host_id", "url"))
        .filter(col("lastmod") > col("fetched_at"))
      val robots = concat(lit("User-agent: *\nCrawl-delay: "),
        format_string("%.1f", (col("host_id") % 4 + 1) * lit(0.5)),
        lit("\n"))
      HostSlots.assign(stale, "host_id",
          Seq(col("lastmod").desc, col("doc_id")), "slot")
        .withColumn("delay_ms",
          (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
            .cast("bigint"))
        .select(col("doc_id"), col("host_id"), col("lastmod"), col("slot"),
          expr("((slot - 1) * delay_ms) div 1000").as("wave"))
        .orderBy(col("doc_id"))
    }),

    // ---- one full frontier ROUND — the feedback loop that makes a
    // crawler a crawler, composed from the operators the pairwise
    // cards verify: every FETCHED page's anchors are extracted
    // (Outlinks), resolved against the page URL (UrlResolve),
    // canonicalized (UrlCanon), matched against the already-fetched
    // set (the dedup anti-join that stops re-crawling), robots-gated,
    // and the surviving NEW URLs scheduled into politeness waves.
    // Four links per page: a tracking-param variant of an
    // already-fetched page (must collapse onto the crawl state and be
    // dropped as known), a relative NEW page, a /private/ page the
    // gate blocks, and a scheme-relative link onto the NEIGHBOR host
    // (discovered links cross hosts; the schedule must land it on the
    // TARGET host's budget). Per-host report ----
    "q311_frontier_round" -> ((s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val docs = tSpread(s, d, "documents")
      val k = col("doc_id") % 13
      val base = format_string(
        "http://www.site%d.example.com/p/%d", k, col("doc_id"))
      val html = concat(
        format_string("<p><a href=\"/p/%d?utm_source=x\">s</a> ",
          col("doc_id")),
        format_string("<a href=\"new/%d.html\">n</a> ", col("doc_id")),
        format_string("<a href=\"/private/x%d\">b</a> ", col("doc_id")),
        format_string("<a href=\"//www.site%d.example.com/ext/%d\">e</a></p>",
          (k + 1) % 13, col("doc_id")))
      val fetched = docs.select(UrlCanon.canon(base).as("url"),
        lit(true).as("known0"))
      val discovered = docs
        .select(base.as("base"), explode(Outlinks.hrefsUdf(html)).as("href"))
        .select(UrlCanon.canon(
          UrlResolve.resolveUdf(col("base"), col("href"))).as("url"))
      val robots = lit("User-agent: *\nDisallow: /private/\n")
      val flagged = discovered
        .join(fetched, Seq("url"), "left")
        .withColumn("known", coalesce(col("known0"), lit(false)))
        .withColumn("host_id",
          regexp_extract(col("url"), "site(\\d+)\\.example", 1)
            .cast("bigint"))
        .withColumn("path",
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
        .withColumn("allowed",
          Robots.allowedUdf(robots, lit("graftbot"), col("path")))
      val sched = HostSlots.assign(
          flagged.filter(!col("known") && col("allowed")),
          "host_id", Seq(col("url")), "slot")
        .withColumn("start_ms",
          (col("slot") - 1) * (col("host_id") % 4 + 1) * 500)
        .groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_new_allowed"),
          max(col("start_ms")).as("makespan_ms"))
      flagged.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_discovered"),
          count(when(col("known"), 1)).as("n_known"),
          count(when(!col("known") && !col("allowed"), 1))
            .as("n_new_blocked"))
        .join(sched, Seq("host_id"))
        .select(col("host_id"), col("n_discovered"), col("n_known"),
          col("n_new_blocked"), col("n_new_allowed"), col("makespan_ms"))
        .orderBy(col("host_id"))
    }),

    // ---- redirect edges EARNED from the wire: q304 takes (src, dst)
    // as a given table; a real archive replay derives it from 301
    // responses — WARC split, HTTP envelope parse, status gate, and
    // the Location header (RELATIVE, as RFC 7231 allows) resolved
    // against the fetched URI, canonicalized, then pointer-doubled to
    // the chain's terminal. Four arms per div-4 group: a 200 terminal,
    // a 1-hop and a 2-hop 301 chain landing on it (relative
    // Locations), and a self-Location loop that must quarantine.
    // The card closes the claim in q307's charter: "the Location
    // header feeds the redirect map" — here it actually does ----
    "q312_location_redirects" -> ((s, d) => {
      import graft.ingest.{Warc, HttpMessage}
      import graft.text.{UrlCanon, UrlResolve}
      import graft.graph.Redirects
      val arm = col("doc_id") % 4
      val g = expr("doc_id div 4")
      val m = g % 11
      val uri = format_string(
        "http://www.h%d.example.com/u/%d", m, col("doc_id"))
      val locTarget = when(arm === 3, col("doc_id"))
        .otherwise(col("doc_id") - 1)
      val loc = when(arm >= 1, format_string("/u/%d", locTarget))
        .otherwise(lit(null).cast("string"))
      val status = when(arm === 0, lit(200)).otherwise(lit(301))
      val reason = when(arm === 0, lit("OK"))
        .otherwise(lit("Moved Permanently"))
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .otherwise(lit(null).cast("string"))
      val body = when(arm === 0, encode(col("text"), "UTF-8"))
        .otherwise(lit(Array.emptyByteArray))
      val payload = HttpMessage.writeUdf(status, reason, ct, loc,
        body, lit(false))
      val rec = Warc.record(col("doc_id"), uri, payload)
      val parsed = tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          UrlCanon.canon(col("rec._2")).as("url"),
          HttpMessage.parseUdf(col("rec._3")).as("h"))
        .select(col("doc_id"), col("url"), col("h._1").as("status"),
          expr("h._2['location']").as("location"))
      val edges = parsed
        .filter(col("status") === 301 && col("location").isNotNull)
        .select(col("url").as("src"),
          UrlCanon.canon(
            UrlResolve.resolveUdf(col("url"), col("location"))).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      parsed
        .join(resolved.withColumnRenamed("src", "url"), Seq("url"), "left")
        .select(col("doc_id"), col("status"),
          when(coalesce(col("unresolved"), lit(false)), lit(null))
            .otherwise(coalesce(col("final_id"), col("url")))
            .as("final_url"),
          coalesce(col("unresolved"), lit(false)).as("unresolved"))
        .orderBy(col("doc_id"))
    }),

    // ---- frontier PRIORITY from the link graph: a crawl budget fetches
    // important pages first, and "important" is link-graph rank —
    // OPIC/PageRank-style scheduling. The edge list is EARNED through
    // the discovery stack (outlinks → resolve → canon → url→id join,
    // q308's machinery): arms 1-4 of each group link to the group hub,
    // the hub links onward, so rank concentrates on hubs
    // deterministically. Integer fixed-point PageRank (bit-reproducible
    // across engines), then the global priority order through
    // GlobalOrder — one range shuffle, never a single-task window ----
    "q313_frontier_priority" -> ((s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.graph.Graph
      import graft.operators.GlobalOrder
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 9
      val base = format_string(
        "http://www.s%d.example.com/p/%d", k, col("doc_id"))
      val target = when(arm === 0, g * 5 + 1).otherwise(g * 5)
      val html = format_string(
        "<p>see <a href=\"/p/%d\">link</a></p>", target)
      val docs = docs0.select(col("doc_id"), base.as("base"),
        html.as("html"))
      val urlToId = docs.select(UrlCanon.canon(col("base")).as("url"),
        col("doc_id").as("dst"))
      val edges = docs
        .select(col("doc_id").as("src"), col("base"),
          explode(Outlinks.hrefsUdf(col("html"))).as("href"))
        .select(col("src"), UrlCanon.canon(
          UrlResolve.resolveUdf(col("base"), col("href"))).as("url"))
        .join(urlToId, Seq("url"))
        .select(col("src"), col("dst")).distinct()
      val ranks = Graph.pageRankFixedPoint(edges, iterations = 2)
        .select(col("id"), col("rank").as("pr"))
      GlobalOrder.withRowNumber(ranks,
          Seq(col("pr").desc, col("id")), "priority")
        .orderBy(col("id"))
    }),

    // ---- conditional revalidation: the recrawl's cheap path — a
    // fetch with If-Modified-Since earns a 304 (keep the stored
    // content, near-zero bytes) or a 200 (replace). The third arm is
    // the wasted fetch every crawl audits for: a 200 whose body
    // hashes identical to the stored content (the server ignored the
    // conditional). Status and body come off the parsed envelope,
    // never assumed ----
    "q314_conditional_revalidation" -> ((s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      val arm = col("doc_id") % 3
      val newBody = when(arm === 1,
          encode(concat(col("text"), lit(" v2")), "UTF-8"))
        .when(arm === 2, encode(col("text"), "UTF-8"))
        .otherwise(lit(Array.emptyByteArray))
      val status = when(arm === 0, lit(304)).otherwise(lit(200))
      val reason = when(arm === 0, lit("Not Modified")).otherwise(lit("OK"))
      val ct = when(arm === 0, lit(null).cast("string"))
        .otherwise(lit("text/html; charset=utf-8"))
      val payload = HttpMessage.writeUdf(status, reason, ct,
        lit(null).cast("string"), newBody, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), col("text").as("old_content"),
          HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"), col("h._1").as("status"),
          col("old_content"),
          when(col("h._1") === 304, col("old_content"))
            .otherwise(CharsetSniff.decodeUdf(
              lit("text/html; charset=utf-8"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("status"),
          when(col("status") === 304, lit("revalidated"))
            .when(col("content") === col("old_content"), lit("wasted"))
            .otherwise(lit("updated")).as("outcome"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- content-type dispatch: the multimodal router — an archive
    // carries html, images, audio and opaque bytes in ONE stream, and
    // the Content-Type header (off the parsed envelope) routes each
    // body to its decoder: html → charset decode, P6 → PpmCodec,
    // WAV → WavCodec, anything unclaimed → quarantine kind 'unknown'
    // with NULL stats (the NULL-dispatch contract at the modality
    // grain). Each decoder's stats replay from the generator formulas ----
    "q315_content_dispatch" -> ((s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.multimodal.{PpmCodec, WavCodec}
      val arm = col("doc_id") % 4
      val ppmGen = udf { (id: Long) =>
        val w = 2 + (id % 3).toInt
        val h = 2
        val v = (id % 256).toByte
        val head = s"P6\n$w $h\n255\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        head ++ Array.fill(w * h * 3)(v)
      }
      val wavGen = udf { (id: Long) =>
        WavCodec.encode(WavCodec.Clip(8000, 1,
          Array.fill(4)((id % 100).toShort)))
      }
      val imgStats = udf { (b: Array[Byte]) =>
        PpmCodec.decode(b).map(im =>
          (im.width.toLong * im.height, (im.rgb(0) & 0xff).toLong)).orNull
      }
      val wavStats = udf { (b: Array[Byte]) =>
        WavCodec.decode(b).map(c =>
          (c.frames.toLong, WavCodec.stats(c).peak.toLong)).orNull
      }
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .when(arm === 1, lit("image/x-portable-pixmap"))
        .when(arm === 2, lit("audio/wav"))
        .otherwise(lit("application/octet-stream"))
      val body = when(arm === 0, encode(col("text"), "UTF-8"))
        .when(arm === 1, ppmGen(col("doc_id")))
        .when(arm === 2, wavGen(col("doc_id")))
        .otherwise(encode(lit("opaque"), "UTF-8"))
      val payload = HttpMessage.writeUdf(lit(200), lit("OK"), ct,
        lit(null).cast("string"), body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-type']").as("content_type"), col("h._3").as("b"))
        .withColumn("kind",
          when(col("content_type").startsWith("text/html"), "text")
            .when(col("content_type") === "image/x-portable-pixmap", "image")
            .when(col("content_type") === "audio/wav", "audio")
            .otherwise("unknown"))
        .select(col("doc_id"), col("content_type"), col("kind"),
          when(col("kind") === "text",
            length(CharsetSniff.decodeUdf(col("content_type"), col("b")))
              .cast("bigint"))
            .when(col("kind") === "image", imgStats(col("b"))("_1"))
            .when(col("kind") === "audio", wavStats(col("b"))("_1"))
            .as("units"),
          when(col("kind") === "text", lit(0L))
            .when(col("kind") === "image", imgStats(col("b"))("_2"))
            .when(col("kind") === "audio", wavStats(col("b"))("_2"))
            .as("value"),
          when(col("kind") === "text", md5(col("b"))).as("checksum"))
        .orderBy(col("doc_id"))
    }),

    // ---- Content-Encoding: most archived responses are gzipped on
    // the wire, so the decode chain grows a rung BEFORE charset:
    // envelope → (gunzip when Content-Encoding: gzip) → charset →
    // text. Three arms: gzipped (must round-trip to the same md5 as
    // the identity arm), identity, and a LYING encoding header over
    // corrupt bytes — the inflate NULL-dispatches and the row
    // quarantines instead of failing the scan ----
    "q316_content_encoding" -> ((s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.text.GzipText
      val arm = col("doc_id") % 3
      val gz = udf { (s0: String) => GzipText.gzipBytes(s0) }
      val body = when(arm === 0, gz(col("text")))
        .when(arm === 1, encode(col("text"), "UTF-8"))
        .otherwise(concat(lit(Array[Byte](0x1f.toByte, 0x8b.toByte)),
          encode(lit("corrupt"), "UTF-8")))
      val enc = when(arm === 1, lit("identity")).otherwise(lit("gzip"))
      val headers = map(
        lit("Content-Type"), lit("text/html; charset=utf-8"),
        lit("Content-Encoding"), enc)
      val payload = HttpMessage.writeWithHeadersUdf(lit(200), lit("OK"),
        headers, body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-encoding']").as("encoding"),
          when(expr("h._2['content-encoding']") === "gzip",
            GzipText.gunzip(col("h._3")))
            .otherwise(CharsetSniff.decodeUdf(
              expr("h._2['content-type']"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("encoding"),
          col("content").isNotNull.as("decoded"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

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
    "q317_training_shards" -> ((s, d) => {
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
    }),

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
    "q319_web_to_shards" -> ((s, d) => {
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
    }),

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
    "q320_incremental_shards" -> ((s, d) => {
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
    }),

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
    "q318_context_windows" -> ((s, d) => {
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
    }),

    // ---- CDX capture index: the random-access layer an archive
    // publishes next to its WARC shards (Common Crawl's cc-index
    // convention). Per doc, a 3-member shard: the SAME page captured
    // twice under two URL spellings (https+WWW+:443+/P/+reordered
    // query vs plain http) and a second page — the SURT key must
    // collate both spellings to ONE urlkey while offsets/lengths
    // stay byte-exact (the oracle recomputes every member's extent
    // from the WARC framing arithmetic: a one-byte drift anywhere in
    // writeRecord breaks every row after it). Index rows are ~60
    // bytes vs ~100 KB of payload — the grain every archive query
    // below joins on INSTEAD of the archive ----
    "q321_cdx_index" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      val uri0 = format_string(
        "https://WWW.Site%d.example.com:443/P/%d?b=2&a=1", n, g)
      val uri1 = format_string(
        "http://site%d.example.com/p/%d?a=1&b=2", n, g)
      val uri2 = format_string("https://site%d.example.com/q/%d", n, g)
      val p0 = encode(col("text"), "UTF-8")
      val p1 = encode(concat(col("text"), lit(" v2")), "UTF-8")
      val p2 = encode(format_string("other %d", g), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 3, uri0, p0),
        Warc.record(g * 3 + 1, uri1, p1),
        Warc.record(g * 3 + 2, uri2, p2)))
      tSpread(s, d, "documents")
        .select(g.as("g"), blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._1").as("cdx_id"), col("e._3").as("urlkey"),
          col("e._4").as("rec_offset"), col("e._5").as("rec_len"),
          col("e._6").as("digest"))
        .orderBy(col("cdx_id"))
    }),

    // ---- latest-capture + revisit audit on the index grain: per
    // urlkey, which capture is current (max id = newest) and how many
    // captures were revisits (same payload digest as an earlier
    // capture of the same key — CDX's revisit semantics, the dedup
    // that makes archives affordable). Every doc's /p/ page has two
    // captures; a third of them (g%3==0) didn't change between
    // crawls, so the second capture is a revisit. Runs ENTIRELY on
    // the index — no payload is touched, which is the point ----
    "q322_cdx_latest" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      val uri0 = format_string(
        "https://WWW.Site%d.example.com:443/P/%d?b=2&a=1", n, g)
      val uri1 = format_string(
        "http://site%d.example.com/p/%d?a=1&b=2", n, g)
      val uri2 = format_string("https://site%d.example.com/q/%d", n, g)
      val p0 = encode(col("text"), "UTF-8")
      val p1 = when(g % 3 === 0, p0)
        .otherwise(encode(concat(col("text"), lit(" v2")), "UTF-8"))
      val p2 = encode(format_string("other %d", g), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 3, uri0, p0),
        Warc.record(g * 3 + 1, uri1, p1),
        Warc.record(g * 3 + 2, uri2, p2)))
      tSpread(s, d, "documents")
        .select(g.as("g"), blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .groupBy(col("e._3").as("urlkey"))
        .agg(count(lit(1)).as("n_captures"),
          (count(lit(1)) - countDistinct(col("e._6"))).as("n_revisits"),
          max(col("e._1")).as("latest_id"),
          expr("max_by(e._6, e._1)").as("latest_digest"))
        .orderBy(col("urlkey"))
    }),

    // ---- crawl-epoch delta from two CDX files: the diff every
    // incremental crawl starts from — what's new, gone, changed,
    // unchanged since last time, decided by digest comparison on the
    // index grain (q314's revalidation tells you what a 304 SAVED;
    // this tells you what to schedule at all). Epoch 1 misses g%5==4
    // (those are 'new'), epoch 2 misses g%5==0 ('gone'), g%5==1
    // changed content. One shuffle join at index grain (~60 B/row) —
    // deliberately NOT broadcast: both sides scale with the archive ----
    "q323_crawl_delta" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      val docs = tSpread(s, d, "documents")
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      val e1 = docs.filter(a =!= 4)
        .select(explode(Cdx.indexUdf(
          Warc.record(g, uri, encode(col("text"), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._6").as("e1_digest"))
      val e2 = docs.filter(a =!= 0)
        .select(explode(Cdx.indexUdf(Warc.record(g, uri,
          encode(when(a === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._6").as("e2_digest"))
      e1.join(e2, Seq("urlkey"), "full_outer")
        .select(col("urlkey"), col("e1_digest"), col("e2_digest"),
          when(col("e1_digest").isNull, lit("new"))
            .when(col("e2_digest").isNull, lit("gone"))
            .when(col("e1_digest") === col("e2_digest"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .orderBy(col("urlkey"))
    }),

    // ---- anchor-text index: what OTHER pages call a target — the
    // classic link-signal aggregation (search ranking's oldest
    // feature, and a quality signal LLM curation borrows). The full
    // chain per anchor: extract (href, text) → RFC 3986 resolve
    // against the linking page → canon (tracking params off) → SURT
    // (capture key) → group by target. Texts exercise entity decode
    // ('skip &amp; go'), nested-markup strip ('<b>bold</b>\n link'),
    // and dot-segment resolution ('../p/N#s'); two spellings of the
    // same target (plain and utm-tracked) must land on ONE key.
    // Shuffle on the target key only — anchor rows are tiny ----
    "q324_anchor_index" -> ((s, d) => {
      import graft.extract.Outlinks
      import graft.ingest.Cdx
      import graft.text.{UrlCanon, UrlResolve}
      val g = col("doc_id")
      val base = format_string("https://www.example.com/p/%d", g)
      val html = format_string(
        "<html><body><a href=\"/p/%d\">next page</a>" +
          "<a href=\"/p/%d?utm_source=x&amp;fbclid=z\">continue</a>" +
          "<a href=\"../p/%d#s\">skip &amp; go</a>" +
          "<p><a href=\"/p/%d\"><b>bold</b>\n link</a></p></body></html>",
        g + 1, g + 1, g + 2, g + 3)
      tSpread(s, d, "documents")
        .select(g.as("g"), base.as("base"), html.as("html"))
        .select(col("g"), col("base"),
          explode(Outlinks.anchorsUdf(col("html"))).as("a"))
        .select(col("g"),
          Cdx.surtUdf(UrlCanon.canon(
            UrlResolve.resolveUdf(col("base"), col("a._1")))).as("urlkey"),
          col("a._2").as("txt"))
        .groupBy(col("urlkey"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("g")).as("n_linkers"),
          concat_ws("|", sort_array(collect_set(col("txt")))).as("texts"))
        .orderBy(col("urlkey"))
    }),

    // ---- the archive connector under the oracle gate: build a real
    // 16-shard WARC archive from the corpus (members packed per shard
    // in id order), index it with WarcArchive.indexShards, then read
    // ONE site section back THROUGH graft.sources.WarcArchiveSource
    // with a urlkey-prefix pushdown — the connector's seek path, its
    // sidecar build, and the SURT keying all sit between the corpus
    // and the answer, and the oracle replays every member's offset as
    // a per-shard running sum of the WARC framing arithmetic. A drift
    // in shard packing, sidecar indexing, pushdown pruning, or seek
    // framing shifts rows or hashes ----
    "q325_archive_section" -> ((s, d) => {
      import graft.ingest.Warc
      import graft.sources.WarcArchive
      val g = col("doc_id")
      val uri = format_string("https://site%d.example.com/p/%d",
        g % 50, g)
      val member = Warc.record(g, uri, encode(col("text"), "UTF-8"))
      val shards = tSpread(s, d, "documents")
        .select((g % 16).as("shard"),
          struct(g.as("id"), member.as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .collect()
      val dir = java.nio.file.Files
        .createTempDirectory("graft-q325-archive").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/shards"))
      shards.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(
            f"$dir/shards/shard-${r.getLong(0)}%02d.warc"),
          r.getAs[Array[Byte]](1))
      }
      WarcArchive.indexShards(s, dir)
      s.read.format("graft.sources.WarcArchiveSource")
        .option("path", dir).load()
        .filter(col("urlkey").startsWith("com,example,site7)"))
        .select(col("id").as("doc_id"), col("urlkey"),
          col("rec_offset"), col("rec_len"),
          md5(col("payload")).as("body_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- content negotiation with the MODERN codec set: zstd (RFC
    // 8878 — what Common Crawl's index and every 2024+ CDN actually
    // ship) joins gzip and identity on the Content-Encoding rung.
    // Five arms: zstd and gzip round-trip to the same text as
    // identity; a corrupt zstd frame NULL-dispatches; and the
    // MISLABELED arm — valid zstd bytes under a gzip header — must
    // NULL out too (the decoder believes the header, not the magic:
    // trusting sniffed magic over the declared encoding would mask
    // real server bugs the crawl needs to surface) ----
    "q326_encoding_negotiation" -> ((s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.text.{GzipText, ZstdText}
      val arm = col("doc_id") % 5
      val gz = udf { (s0: String) => GzipText.gzipBytes(s0) }
      val zs = udf { (s0: String) => ZstdText.zstdBytes(s0) }
      // zstd magic (28 B5 2F FD little-endian) over garbage
      val corrupt = concat(lit(Array[Byte](0x28.toByte, 0xB5.toByte,
        0x2F.toByte, 0xFD.toByte)), encode(lit("corrupt"), "UTF-8"))
      val body = when(arm === 0, zs(col("text")))
        .when(arm === 1, gz(col("text")))
        .when(arm === 2, encode(col("text"), "UTF-8"))
        .when(arm === 3, corrupt)
        .otherwise(zs(col("text"))) // arm 4: zstd bytes, gzip header
      val enc = when(arm === 1 || arm === 4, lit("gzip"))
        .when(arm === 2, lit("identity"))
        .otherwise(lit("zstd"))
      val headers = map(
        lit("Content-Type"), lit("text/html; charset=utf-8"),
        lit("Content-Encoding"), enc)
      val payload = HttpMessage.writeWithHeadersUdf(lit(200), lit("OK"),
        headers, body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-encoding']").as("encoding"),
          when(expr("h._2['content-encoding']") === "gzip",
            GzipText.gunzip(col("h._3")))
            .when(expr("h._2['content-encoding']") === "zstd",
              ZstdText.unzstd(col("h._3")))
            .otherwise(CharsetSniff.decodeUdf(
              expr("h._2['content-type']"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("encoding"),
          col("content").isNotNull.as("decoded"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- the archive REFRESH loop composed in one plan — what an
    // incremental crawl actually does to its archive: epoch-1 CDX
    // state + epoch-2 observations → delta (q323) → fetch ONLY
    // new/changed (an unchanged page is the 304 skip — no new
    // capture, the q314 saving realized at archive grain) → appended
    // captures under fresh ids (captures are immutable; the id-offset
    // append is q320's epoch discipline) → the NEXT latest-capture
    // state per urlkey, with gone pages tombstoned rather than
    // silently dropped. Runs entirely on index grain; the single
    // full-outer join is the q323 shape ----
    "q327_archive_refresh" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      val docs = tSpread(s, d, "documents")
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      val e1 = docs.filter(a =!= 4)
        .select(explode(Cdx.indexUdf(
          Warc.record(g, uri, encode(col("text"), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("e1_id"),
          col("e._6").as("e1_digest"))
      val e2 = docs.filter(a =!= 0)
        .select(g.as("g2"), explode(Cdx.indexUdf(Warc.record(
          g + 10000000L, uri,
          encode(when(a === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("e2_id"),
          col("e._6").as("e2_digest"))
      e1.join(e2, Seq("urlkey"), "full_outer")
        .select(col("urlkey"), col("e1_id"), col("e1_digest"),
          col("e2_id"), col("e2_digest"),
          when(col("e1_digest").isNull, lit("new"))
            .when(col("e2_digest").isNull, lit("gone"))
            .when(col("e1_digest") === col("e2_digest"),
              lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .select(col("urlkey"), col("status"),
          // fetched = a new capture was appended (new/changed only)
          (col("status") === "new" || col("status") === "changed")
            .as("fetched"),
          // the archive's next latest state: unchanged keeps the
          // epoch-1 capture (304 — nothing appended), new/changed
          // take the appended id, gone tombstones with NULLs
          when(col("status") === "unchanged", col("e1_id"))
            .when(col("status") === "gone", lit(null).cast("long"))
            .otherwise(col("e2_id")).as("latest_id"),
          when(col("status") === "unchanged", col("e1_digest"))
            .when(col("status") === "gone",
              lit(null).cast("string"))
            .otherwise(col("e2_digest")).as("latest_digest"))
        .orderBy(col("urlkey"))
    }),

    // ---- WET derivation: the text-conversion sibling every WARC
    // archive publishes (Common Crawl's .wet files — WARC conversion
    // records holding extracted text, offset-id'd against their
    // response originals). The chain: response HTML → boilerplate
    // (link-dense nav dropped) → entity decode → RE-SERIALIZED as
    // conversion members → shard-packed → SPLIT BACK, and the output
    // reads from the round-tripped members, so the container write,
    // the member framing, and the extraction are all load-bearing —
    // a drift in any of them shifts every hash ----
    "q328_wet_derivation" -> ((s, d) => {
      import graft.ingest.Warc
      import graft.extract.Boilerplate
      import graft.text.HtmlEntities
      val g = col("doc_id")
      val nav = "<div class=\"nav\"><a href=\"/\">home</a> " +
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></div>"
      val html = concat(lit(nav + "<p>"), col("text"),
        lit(" x &amp; y</p>"))
      val uri = format_string("https://site%d.example.com/p/%d",
        g % 50, g)
      val convText = HtmlEntities.decodeUdf(
        Boilerplate.extractUdf(3)(html).getField("_3"))
      tSpread(s, d, "documents")
        .select((g % 8).as("shard"),
          struct((g + 50000000L).as("cid"),
            Warc.record(g + 50000000L, uri,
              encode(convText, "UTF-8")).as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("r"))
        .select((col("r._1") - 50000000L).as("doc_id"),
          col("r._2").as("uri"),
          length(decode(col("r._3"), "UTF-8")).cast("bigint")
            .as("n_chars"),
          md5(col("r._3")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- change-rate recrawl scheduling from capture history — the
    // Cho & Garcia-Molina result the CDX makes actionable: a page's
    // observed change rate across its captures estimates how often
    // re-fetching it pays. Four captures per page; consecutive-digest
    // changes (a WINDOW over the bounded 4-row capture grain, never
    // the corpus) bucket each urlkey hot/warm/cold — the priority the
    // frontier's politeness waves consume. Four deterministic change
    // patterns (never / always / once / twice) pin the arithmetic ----
    "q329_change_rate" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      import org.apache.spark.sql.expressions.Window
      val g = col("doc_id")
      val a = col("doc_id") % 4
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      def body(k: Int) = {
        val c = lit(k)
        when(a === 0, col("text"))
          .when(a === 1, concat(col("text"), lit(" v"), c))
          .when(a === 2,
            when(c >= 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .otherwise( // a=3: d e e f
            when(c === 0, col("text"))
              .when(c === 3, concat(col("text"), lit(" v3")))
              .otherwise(concat(col("text"), lit(" v1"))))
      }
      val blob = Warc.concatBlobs(array((0 until 4).map(k =>
        Warc.record(g * 4 + k, uri, encode(body(k), "UTF-8"))): _*))
      val w = Window.partitionBy(col("urlkey")).orderBy(col("id"))
      tSpread(s, d, "documents")
        .select(blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("id"),
          col("e._6").as("digest"))
        .withColumn("changed",
          when(lag(col("digest"), 1).over(w).isNull, lit(0))
            .when(lag(col("digest"), 1).over(w) =!= col("digest"),
              lit(1))
            .otherwise(lit(0)))
        .groupBy(col("urlkey"))
        .agg(count(lit(1)).as("n_captures"),
          sum(col("changed")).cast("bigint").as("n_changes"))
        .select(col("urlkey"), col("n_captures"), col("n_changes"),
          // integer basis points (PLANS.md output-typing contract)
          (col("n_changes") * 10000 / (col("n_captures") - 1))
            .cast("bigint").as("rate_bp"),
          when(col("n_changes") >= 2, lit("hot"))
            .when(col("n_changes") === 1, lit("warm"))
            .otherwise(lit("cold")).as("bucket"))
        .orderBy(col("urlkey"))
    }),

    // ---- URL-parameter significance mining — learning the canon
    // rules instead of hard-coding them: a param is STRIPPABLE when,
    // across all capture groups that differ ONLY in that param's
    // value, the content digest never changes (session ids), and
    // SIGNIFICANT when it does (real routing params). The evidence
    // grain is (context, param) where context = path + the OTHER
    // params — the classic crawler-dedup mining that turns the
    // capture index into better URL canonicalization. Here `sid`
    // varies twice per page with identical digests (strippable) and
    // `p` varies once with differing digests (significant) ----
    "q330_param_mining" -> ((s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      def uri(q: String) = format_string(
        "https://site%d.example.com/i/%d" + q, n, g)
      def body(p: Int) =
        encode(concat(col("text"), lit(" p" + p)), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 4, uri("?p=1&sid=aaa"), body(1)),
        Warc.record(g * 4 + 1, uri("?p=1&sid=bbb"), body(1)),
        Warc.record(g * 4 + 2, uri("?p=2&sid=aaa"), body(2)),
        Warc.record(g * 4 + 3, uri("?p=2&sid=ccc"), body(2))))
      tSpread(s, d, "documents")
        .select(blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._2").as("uri"), col("e._6").as("digest"))
        .select(col("digest"),
          substring_index(col("uri"), "?", 1).as("page"),
          split(substring_index(col("uri"), "?", -1), "&").as("params"))
        .select(col("page"), col("digest"), col("params"),
          explode(col("params")).as("kv"))
        .select(col("digest"),
          substring_index(col("kv"), "=", 1).as("param"),
          substring_index(col("kv"), "=", -1).as("value"),
          concat(col("page"), lit("?"), concat_ws("&",
            sort_array(array_remove(col("params"), col("kv")))))
            .as("context"))
        .groupBy(col("context"), col("param"))
        .agg(countDistinct(col("value")).as("n_vals"),
          countDistinct(col("digest")).as("n_digs"))
        .filter(col("n_vals") > 1)
        .withColumn("host", regexp_extract(col("context"),
          "https://site(\\d+)\\.", 1).cast("bigint"))
        .groupBy(col("host"), col("param"))
        .agg(count(lit(1)).as("n_varying"),
          sum(when(col("n_digs") === 1, 1L).otherwise(0L))
            .cast("bigint").as("n_clean"))
        .withColumn("strippable", col("n_clean") === col("n_varying"))
        .orderBy(col("host"), col("param"))
    }),

    // ---- archive repack (GC) end-to-end: the VACUUM that closes the
    // archive lifecycle — build an archive holding epoch-1 captures
    // plus q327's appended refreshes, then WarcArchive.repack keeps
    // only each page's latest capture, drops the tombstoned (gone)
    // pages, rewrites fresh shards id-sorted, and REBUILDS the
    // sidecar. The output reads from the rebuilt sidecar, so the
    // latest-pick window, the tombstone anti-join, the re-serialize,
    // and the re-index are all load-bearing — the oracle restates
    // every post-repack extent from the framing arithmetic ----
    "q331_archive_repack" -> ((s, d) => {
      import graft.ingest.Warc
      import graft.sources.WarcArchive
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      // source members per arm: epoch-1 capture (id=g) for a!=4, an
      // appended refresh (id=g+10M) for a in {1 changed, 4 new}
      val e1 = Warc.record(g, uri, encode(col("text"), "UTF-8"))
      val ap = Warc.record(g + 10000000L, uri,
        encode(when(a === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), "UTF-8"))
      val memberBlob = when(a === 1, Warc.concatBlobs(array(e1, ap)))
        .when(a === 4, ap)
        .otherwise(e1)
      val docs = tSpread(s, d, "documents")
      val srcShards = docs
        .select((g % 16).as("shard"),
          struct(g.as("i"), memberBlob.as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .collect()
      val src = java.nio.file.Files
        .createTempDirectory("graft-q331-src").toString
      val dst = java.nio.file.Files
        .createTempDirectory("graft-q331-dst").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$src/shards"))
      srcShards.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(
            f"$src/shards/shard-${r.getLong(0)}%02d.warc"),
          r.getAs[Array[Byte]](1))
      }
      WarcArchive.indexShards(s, src)
      val tombstones = docs.filter(a === 0)
        .select(format_string("com,example,site%d)/d/%d",
          col("doc_id") % 50, g).as("urlkey"))
      WarcArchive.repack(s, src, dst,
        pmod(regexp_extract(col("uri"), "/d/(\\d+)", 1).cast("bigint"),
          lit(8)),
        Some(tombstones))
      WarcArchive.cdx(s, dst)
        .select(col("urlkey"), col("id").as("kept_id"),
          col("rec_offset"), col("rec_len"), col("digest"))
        .orderBy(col("kept_id"))
    }),
  )

  /** Typed row for the q110 Dataset-API demonstration. */
  final case class DocRow(doc_id: Long, source: String, n_chars: Long)

  /** Probe terms for the CMS point-query demos (sorted; present in the
    * synthetic documents vocabulary plus one absent term). */
  private val CmsProbeTerms: Seq[String] =
    Seq("agg", "data", "join", "scan", "spark", "table", "value", "zzz_absent")

  /** DuckDB SQL for FNV-1a 64 of a VARCHAR expression (ASCII inputs), in
    * unsigned-64 arithmetic emulated with HUGEINT — byte-for-byte the
    * same as [[graft.text.RollingHash.hashToken]]. `p` prefixes the
    * lambda variable names so nested uses don't collide. */
  private def fnvSql(e: String, p: String): String =
    s"list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      s"list_transform(range(1, length($e) + 1), ${p}i -> unicode(substr($e, ${p}i, 1)))), " +
      s"(${p}h, ${p}c) -> ((${p}h - (${p}h % 256) + xor((${p}h % 256)::BIGINT, ${p}c)::HUGEINT) * " +
      s"1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)"

  /** unsigned-64 (HUGEINT) → signed two's-complement value. */
  private def toSignedSql(e: String): String =
    s"(CASE WHEN $e >= 9223372036854775808::HUGEINT " +
      s"THEN $e - 18446744073709551616::HUGEINT ELSE $e END)"

  /** Sequential left-fold dot product of an embedding (FLOAT[]) against a
    * ±1 plane list — same accumulation order as the Scala loop. */
  private def dotSql(emb: String, sv: String, p: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, array_length($emb) + 1), " +
      s"${p}i -> CAST($emb[${p}i] AS DOUBLE) * $sv[${p}i])), (${p}a, ${p}b) -> ${p}a + ${p}b)"

  private val MinhashP = 2038074743L

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

  /** Shared DuckDB replay of the MinHash-LSH transitive clustering
    * (shingle → minhash signature → banded buckets → candidate pairs →
    * recursive min-label closure). Ends after the `lbl` CTE; callers
    * append either a final SELECT over `lbl` (q23) or further CTEs
    * (q160's cluster-aware split). */
  private lazy val minhashClusterCteSql: String =
    s"""WITH RECURSIVE toks AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
      |sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(0, array_length(ts) - 2),
      |   si -> array_to_string(ts[(si + 1):(si + 3)], ' '))) AS shingles
      | FROM toks WHERE array_length(ts) >= 3),
      |hu AS (SELECT doc_id, list_transform(shingles, sg -> ${fnvSql("sg", "f")}) AS us FROM sh),
      |hm AS (SELECT doc_id, list_transform(us, u ->
      |   ((${toSignedSql("u")} % $MinhashP) + $MinhashP) % $MinhashP) AS hs FROM hu),
      |sigs AS (SELECT doc_id, list_transform(range(0, 64), j ->
      |   list_min(list_transform(hs, h ->
      |     ((1 + ((j + 1) * 2654435761) % ${MinhashP - 1}) * h +
      |      ((j + 1) * 1099511628211) % $MinhashP) % $MinhashP))) AS sg
      | FROM hm),
      |bkt AS (SELECT doc_id, b,
      |   array_to_string(sg[(CAST(b AS INT) * 4 + 1):(CAST(b AS INT) * 4 + 4)], ',') AS bucket
      | FROM sigs, range(0, 16) r(b)),
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      | FROM bkt a JOIN bkt b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION ALL SELECT id_b, id_a FROM pairs),
      |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
      | UNION
      | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst)""".stripMargin

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

  def oracleSql: Map[String, String] = Map(
    "q197_bpe_tokenize" -> bpeTokenizeOracle(20),

    "q199_graph_maintenance" ->
      """SELECT 'hnsw_resplit' AS method, true AS degraded_lt_floor,
        | true AS rebuilt, true AS repaired_ge_floor""".stripMargin,

    // the oracle line-ifies identically (width-4 word segments), then
    // replays the corpus-wide duplicate-line blocklist and rebuilds +
    // md5s every cleaned document
    "q200_line_dedup" ->
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
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q201_domain_cap" ->
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
        |ORDER BY d.source""".stripMargin,

    // the oracle replays the SAME over-fetch-20-then-filter contract
    // (post-filter ANN serving is defined by its over-fetch, so the
    // check is deterministic — covering efSearch makes the probe's
    // top-20 exact)
    "q202_ann_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qemb,
        |             label AS qlabel
        |           FROM embeddings WHERE vec_id % 37 = 0),
        |sc AS (
        | SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                         CAST(q.qemb AS DOUBLE[])) AS score,
        |  row_number() OVER (PARTITION BY q.qid ORDER BY
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(q.qemb AS DOUBLE[])) DESC,
        |    e.vec_id) AS rn
        | FROM embeddings e CROSS JOIN q),
        |neg AS (
        | SELECT qid, vec_id, label, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC,
        |    vec_id) AS neg_rank
        | FROM sc WHERE rn <= 20 AND label <> qlabel)
        |SELECT qid, vec_id, label,
        | CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_bp,
        | CAST(neg_rank AS INT) AS neg_rank
        |FROM neg WHERE neg_rank <= 5
        |ORDER BY qid, neg_rank""".stripMargin,

    "q203_knn_label_noise" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qemb,
        |             label AS qlabel
        |           FROM embeddings WHERE vec_id % 7 = 0),
        |sc AS (
        | SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |  row_number() OVER (PARTITION BY q.qid ORDER BY
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(q.qemb AS DOUBLE[])) DESC,
        |    e.vec_id) AS rn,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                         CAST(q.qemb AS DOUBLE[])) AS score
        | FROM embeddings e CROSS JOIN q),
        |nn AS (
        | SELECT qid, qlabel, vec_id, label,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC,
        |    vec_id) AS nn
        | FROM sc WHERE rn <= 13 AND vec_id <> qid)
        |SELECT qid, qlabel,
        | CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_agree,
        | (sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) <= 3)
        |   AS suspect
        |FROM nn WHERE nn <= 12
        |GROUP BY qid, qlabel ORDER BY qid""".stripMargin,

    // constants forced ::DOUBLE — DuckDB parses bare decimal literals
    // as DECIMAL and would run exact-decimal arithmetic where Spark
    // runs IEEE doubles; avgdl is integer-sum / one double division on
    // both sides for the same reason
    "q204_bm25_search" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |   AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        | WHERE w <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok
        | WHERE w <> '' GROUP BY 1),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS qid, w FROM (
        |  SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(text), '\s+')[1:6]) AS w
        |  FROM documents WHERE doc_id % 113 = 0)),
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
        |FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "q205_hybrid_rrf" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |   AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        | WHERE w <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok
        | WHERE w <> '' GROUP BY 1),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS qid, w FROM (
        |  SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(text), '\s+')[1:6]) AS w
        |  FROM documents WHERE doc_id % 113 = 0)),
        |sc AS (
        | SELECT q.qid, tf.doc_id,
        |  sum(ln(1.0::DOUBLE + ((SELECT n FROM st) - df.df + 0.5::DOUBLE)
        |        / (df.df + 0.5::DOUBLE)) *
        |      (tf.tf * 2.2::DOUBLE) /
        |      (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE +
        |        0.75::DOUBLE * dl.dl / (SELECT avgdl FROM st))))
        |    AS score0
        | FROM tf JOIN qt q ON tf.w = q.w JOIN df ON tf.w = df.w
        |   JOIN dl ON dl.doc_id = tf.doc_id
        | GROUP BY 1, 2),
        |lex AS (SELECT qid, doc_id, lrank FROM (
        |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY score0 DESC, doc_id) AS lrank FROM sc)
        | WHERE lrank <= 20),
        |qv AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings
        |       WHERE vec_id % 113 = 0),
        |vec AS (SELECT qid, doc_id, vrank FROM (
        |  SELECT q.qid, e.vec_id AS doc_id,
        |   row_number() OVER (PARTITION BY q.qid ORDER BY
        |     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                            CAST(q.qemb AS DOUBLE[])) DESC,
        |     e.vec_id) AS vrank
        |  FROM embeddings e CROSS JOIN qv q)
        | WHERE vrank <= 20),
        |fu AS (SELECT coalesce(l.qid, v.qid) AS qid,
        |  coalesce(l.doc_id, v.doc_id) AS doc_id, l.lrank, v.vrank,
        |  coalesce(1.0::DOUBLE / (60.0::DOUBLE + l.lrank), 0.0::DOUBLE) +
        |  coalesce(1.0::DOUBLE / (60.0::DOUBLE + v.vrank), 0.0::DOUBLE)
        |    AS rrf
        | FROM lex l FULL JOIN vec v
        |   ON l.qid = v.qid AND l.doc_id = v.doc_id),
        |fr AS (SELECT qid, doc_id, lrank, vrank, rrf,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS frank FROM fu)
        |SELECT qid, doc_id, CAST(lrank AS INT) AS lrank,
        | CAST(vrank AS INT) AS vrank,
        | CAST(floor(rrf * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
        |   AS rrf_upoints,
        | CAST(frank AS INT) AS frank
        |FROM fr WHERE frank <= 10 ORDER BY qid, frank""".stripMargin,

    // the three stage definitions are verbatim the q187/q188/q191
    // oracle fragments; q198 checks the SQL surface composes them
    "q198_sql_curation" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
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
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
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
        |ORDER BY rep.doc_id""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_base_price_cents,
        | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |   AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        | CAST(floor(sum(CAST(l_quantity AS BIGINT)) * 10000 / count(*)
        |   + 0.5) AS BIGINT) AS avg_qty_bp,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_customers" ->
      """SELECT c_custkey, c_name,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 10""".stripMargin,

    "q03_region_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_revenue_cents
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q04_inactive_customers" ->
      """SELECT n_name, count(*) AS n_inactive
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q05_parts_in_lineitem" ->
      """SELECT p_brand, count(*) AS n_parts,
        | CAST(floor(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |   * 1 / count(*) + 0.5) AS BIGINT) AS avg_price_cents
        |FROM part WHERE p_size > 30
        | AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q06_dedup_natural_key" ->
      """SELECT user_id, event_type, event_id AS kept_event_id, epoch_us(ts) AS kept_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts), event_id) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q07_window_running" ->
      """SELECT event_id, user_id,
        | row_number() OVER w AS rn,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin,

    "q08_sessionize" ->
      """WITH marked AS (
        | SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (
        | SELECT user_id, event_id, value, us,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(us) AS start_us, max(us) AS end_us,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS session_value_cents
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q09_per_date_counts" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,

    "q10_ttl_tiers" ->
      """SELECT CAST(CASE WHEN dd < 0 THEN 604800 WHEN dd = 0 THEN 3600
        |  WHEN dd <= 7 THEN 43200 ELSE 86400 END AS BIGINT) AS ttl_s,
        | count(*) AS n_events
        |FROM (SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd
        |      FROM events)
        |GROUP BY ttl_s ORDER BY ttl_s""".stripMargin,

    "q11_price_bucket" ->
      """SELECT CASE WHEN o_totalprice / 1000.0 < 100 THEN 'intimate'
        |  WHEN o_totalprice / 1000.0 < 500 THEN 'medium' ELSE 'large' END AS bucket,
        | count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_price_cents
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q12_merge_coalesce" ->
      """WITH t AS (
        |  SELECT c_custkey, c_name AS name, c_acctbal AS acctbal,
        |         c_mktsegment AS mktsegment
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |s AS (
        |  SELECT c_custkey, c_name AS name,
        |         CASE WHEN c_custkey % 4 = 0 THEN NULL
        |              ELSE round(c_acctbal + 100, 2) END AS acctbal,
        |         CAST(NULL AS VARCHAR) AS mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
        | coalesce(s.name, t.name) AS name,
        | coalesce(s.mktsegment, t.mktsegment) AS mktsegment,
        | CASE WHEN t.c_custkey IS NULL THEN 'insert'
        |      WHEN s.c_custkey IS NOT NULL THEN 'update'
        |      ELSE 'keep' END AS _action,
        | CAST(floor(coalesce(s.acctbal, t.acctbal) * 100 + 0.5) AS BIGINT)
        |   AS acctbal_cents
        |FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q13_distinct_tokens" ->
      """SELECT word FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin,

    "q14_key_date_extract" ->
      """WITH k AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0
        |        THEN 'raw_events/' || strftime(o_orderdate, '%Y/%m/%d') || '/event_data_x.json'
        |       WHEN o_orderkey % 3 = 1
        |        THEN 'other/path/event_data_' || strftime(o_orderdate, '%Y-%m-%d') || '_20250101_000000.json'
        |       ELSE 'p/file_' || strftime(o_orderdate, '%Y%m%d') || '_120000.json'
        |  END AS s3_key
        | FROM orders)
        |SELECT o_orderkey, s3_key,
        | coalesce(
        |  CASE WHEN regexp_extract(s3_key, 'raw_events/(\d{4})/(\d{2})/(\d{2})/', 1) <> ''
        |       THEN regexp_extract(s3_key, 'raw_events/(\d{4})/(\d{2})/(\d{2})/', 1) || '-' ||
        |            regexp_extract(s3_key, 'raw_events/(\d{4})/(\d{2})/(\d{2})/', 2) || '-' ||
        |            regexp_extract(s3_key, 'raw_events/(\d{4})/(\d{2})/(\d{2})/', 3) END,
        |  CASE WHEN regexp_extract(s3_key, 'event_data_(\d{4}-\d{2}-\d{2})_', 1) <> ''
        |       THEN regexp_extract(s3_key, 'event_data_(\d{4}-\d{2}-\d{2})_', 1) END,
        |  CASE WHEN regexp_extract(s3_key, '_(\d{8})_', 1) <> ''
        |       THEN substr(regexp_extract(s3_key, '_(\d{8})_', 1), 1, 4) || '-' ||
        |            substr(regexp_extract(s3_key, '_(\d{8})_', 1), 5, 2) || '-' ||
        |            substr(regexp_extract(s3_key, '_(\d{8})_', 1), 7, 2) END
        | ) AS extracted_date
        |FROM k ORDER BY o_orderkey""".stripMargin,

    "q15_embed_text_compose" ->
      """SELECT p_partkey,
        | concat_ws('. ', p_name, 'Type: ' || p_type, 'Brand: ' || p_brand,
        |   'Size: ' || CASE WHEN p_size * 10 < 100 THEN 'intimate'
        |     WHEN p_size * 10 < 500 THEN 'medium' ELSE 'large' END) AS embed_text
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q16_serve_events_by_date" ->
      """SELECT event_id, epoch_us(ts) AS perf_us, user_id, event_type,
        | CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
        | count(*) OVER (PARTITION BY user_id) AS user_day_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY user_id) AS BIGINT) AS user_day_value_cents,
        | CAST(CASE WHEN date_diff('day', DATE '2024-01-01', DATE '2024-01-05') < 0 THEN 604800
        |   WHEN date_diff('day', DATE '2024-01-01', DATE '2024-01-05') = 0 THEN 3600
        |   WHEN date_diff('day', DATE '2024-01-01', DATE '2024-01-05') <= 7 THEN 43200
        |   ELSE 86400 END AS BIGINT) AS ttl_s
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |ORDER BY perf_us, event_id""".stripMargin,

    "q17_user_day_digest" ->
      """SELECT user_id, count(*) AS n_events,
        | array_to_string(list_sort(list(event_type)), ',') AS event_types,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_cents,
        | min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q18_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    "q19_text_stats" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q20_lang_id" ->
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
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS survivor_id,
        | count(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin,

    "q22_ngram_jaccard" ->
      """WITH toks AS (
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
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | CAST(floor(floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5)
        |   / 10000 * 10000 + 0.5) AS BIGINT) AS jaccard_bp
        |FROM pairs
        | JOIN sizes sa ON sa.doc_id = id_a
        | JOIN sizes sb ON sb.doc_id = id_b
        |WHERE floor(inter * 10000 / (sa.n + sb.n - inter) + 0.5) / 10000 >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    // MinHash+LSH with transitive closure: FNV shingle hash → 64 affine
    // permutations (closed-form constants) → 16 string-keyed band buckets
    // → candidate pairs → exact component-min via recursive reachability.
    "q23_minhash_clusters" ->
      s"""$minhashClusterCteSql
        |SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id
        |ORDER BY id""".stripMargin,

    "q24_simhash" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes)
        |SELECT doc_id AS id, CAST(${toSignedSql("u")} AS BIGINT) AS simhash
        |FROM sig ORDER BY id""".stripMargin,

    "q25_fingerprint" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> ${fnvSql("t", "f")}) AS hs FROM toks),
        |fp AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT, hs),
        |   (acc, h) -> (acc * 1099511628211::HUGEINT + h) % 18446744073709551616::HUGEINT) AS u
        | FROM th)
        |SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin,

    // Feature-hashing embedder: FNV token hash → bucket h mod 64, sign =
    // sign bit, L2-normalized in float32 — replayed bit-exactly (FLOAT
    // casts mimic the float32 accumulate/normalize).
    "q26_embed_documents" ->
      s"""WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        |   t -> t <> '') AS ts
        | FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
        |hs AS (SELECT doc_id, ${fnvSql("t", "f")} AS u FROM tok),
        |bins AS (SELECT doc_id, CAST(u % 64 AS BIGINT) AS idx,
        |   CAST(sum(CASE WHEN u >= 9223372036854775808::HUGEINT THEN -1 ELSE 1 END) AS DOUBLE) AS s
        | FROM hs GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(s * s) AS n2,
        |   coalesce(sum(CASE WHEN idx = 0 THEN s END), 0.0) AS v0 FROM bins GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(CASE WHEN a.doc_id IS NULL THEN NULL ELSE 64 END AS BIGINT) AS dim,
        | CASE WHEN a.doc_id IS NULL THEN NULL
        |      ELSE CAST(floor(CAST(CAST(a.v0 AS FLOAT) *
        |        CAST(1.0 / sqrt(a.n2) AS FLOAT) AS DOUBLE) * 10000 + 0.5)
        |        AS BIGINT)
        | END AS c0_bp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Sign-random-projection ANN: ±1 planes from FNV("p:i") parity, 6-bit
    // bucket, multi-probe at Hamming distance 1, exact cosine top-k over
    // the candidates.
    "q27_ann_topk" ->
      s"""WITH planes AS (
        | SELECT p, i, CASE WHEN
        |   (${fnvSql("(CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR))", "f")} % 2) = 0::HUGEINT
        |   THEN 1.0 ELSE -1.0 END AS s
        | FROM range(0, 6) rp(p), range(0, 64) ri(i)),
        |pl AS (SELECT p, list(s ORDER BY i) AS sv FROM planes GROUP BY p),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |dots AS (SELECT e.vec_id, e.embedding, pl.p, ${dotSql("e.embedding", "sv", "d")} AS dot
        | FROM embeddings e, pl),
        |vb AS (SELECT vec_id, embedding,
        |   sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS bucket
        | FROM dots GROUP BY vec_id, embedding),
        |qdots AS (SELECT pl.p, ${dotSql("q.qe", "sv", "d")} AS dot FROM q, pl),
        |qb AS (SELECT sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS b
        | FROM qdots),
        |probe AS (SELECT b AS pb FROM qb
        | UNION ALL SELECT xor(b, CAST(1 AS BIGINT) << CAST(p AS INT)) FROM qb, range(0, 6) r(p))
        |SELECT v.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM vb v, q WHERE v.bucket IN (SELECT pb FROM probe)
        |ORDER BY list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC,
        | v.vec_id
        |LIMIT 20""".stripMargin,

    // IVF: 16 centroids by multiplicative-hash spread, cells by cosine
    // argmax, probe the 4 best cells, exact top-k within them.
    "q39_ivf_ann" -> IvfProbeOracleSql,

    // same probe replay: routed HNSW at exhaustive efSearch == IVF
    "q178_ann_routed" -> IvfProbeOracleSql,

    // same probe replay, reached through the transparent planner — the
    // match gates that the rewrite FIRED (brute force would return the
    // global top-20 instead)
    "q179_ann_routed_auto" -> IvfProbeOracleSql,

    // ExactSubstr replay: a 40-char window at every position, per-window
    // distinct-doc stats, gaps-islands merge of flagged occurrences
    "q180_crossdoc_spans" ->
      """WITH pos AS (
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // keep-first excision accounting: flagged iff a LOWER doc_id shares
    // the window; merged-span chars subtracted from n_chars
    "q181_exact_substr_dedup" ->
      """WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40),
        |stats AS (
        | SELECT win, min(doc_id) AS min_did FROM occ GROUP BY 1),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN stats s ON s.win = o.win WHERE o.doc_id > s.min_did),
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk),
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
        |ORDER BY d.doc_id""".stripMargin,

    // the cleaned-corpus rewrite: q181's keep-first spans, then the kept
    // segments (inter-span gaps + trailing tail) stitched in order
    "q182_excised_corpus" ->
      """WITH pos AS (
        | SELECT unnest(range(1, (SELECT max(n_chars) FROM documents))) AS p),
        |occ AS (
        | SELECT doc_id, p, substring(text, CAST(p AS INT), 40) AS win
        | FROM documents d JOIN pos ON p <= d.n_chars - 39
        | WHERE d.n_chars >= 40),
        |stats AS (
        | SELECT win, min(doc_id) AS min_did FROM occ GROUP BY 1),
        |fl AS (
        | SELECT o.doc_id, o.p, o.p + 39 AS e
        | FROM occ o JOIN stats s ON s.win = o.win WHERE o.doc_id > s.min_did),
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk),
        |spans AS (
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
        | FROM spans GROUP BY doc_id),
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
        |ORDER BY d.doc_id""".stripMargin,

    // incremental ExactSubstr: batch (doc_id%10==7) occurrences flag
    // when the window exists anywhere in the corpus split OR a lower
    // batch doc shares it; same islands merge as q180
    "q183_exact_substr_incr" ->
      """WITH pos AS (
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "q186_ann_graph_sq8" ->
      """SELECT 'routed_sq8_np4' AS method, CAST(20 AS BIGINT) AS k,
        | true AS recall_ge_floor, true AS store_lt_half""".stripMargin,

    // constant-replay oracle like q185/q186: booleans are deterministic
    // functions of the data + fixed parameters
    "q190_ann_pq" ->
      """SELECT 'pq_m8_k64_refine200' AS method, CAST(20 AS BIGINT) AS k,
        | true AS recall_ge_floor, true AS store_lt_half""".stripMargin,

    // constant-replay oracle like q185/q190: booleans are deterministic
    // functions of the data + fixed parameters
    "q196_ann_pq_residual" ->
      """SELECT 'pq_residual_m8_k64' AS method, CAST(20 AS BIGINT) AS k,
        | true AS recall_ge_floor, true AS mse_lt_raw""".stripMargin,

    // first merge replayed relationally (q89's CTE chain); count and
    // compression are spec-pinned constants, the q170/q185 pattern
    "q195_bpe_train" ->
      """WITH words AS (
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
        | FROM counted)
        |SELECT CAST(20 AS BIGINT) AS n_merges, s1 AS first_left,
        | s2 AS first_right, pair_freq AS first_freq,
        | true AS compression_ok
        |FROM ranked WHERE rank = 1""".stripMargin,

    "q194_zipf_slope" ->
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
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,

    // the four stage definitions are verbatim the q187/q188/q189/q191
    // oracle fragments; the funnel is their conjunction
    "q193_filter_funnel" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
        |rep AS (
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
        | FROM toks),
        |cg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        | FROM toks, unnest(range(1, array_length(t) - 1)) AS r(i)
        | WHERE array_length(t) >= 3),
        |ev AS (SELECT DISTINCT g FROM cg WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT c.doc_id FROM cg c JOIN ev USING (g)
        | WHERE c.doc_id % 97 <> 0),
        |ltok AS (
        | SELECT doc_id, lang,
        |  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
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
        |ORDER BY stage""".stripMargin,

    // constant-replay oracle like q170/q185: the booleans are
    // deterministic functions of the data + fixed hyperparameters
    "q192_quality_classifier" ->
      """SELECT 'hashed_logreg_1024' AS method, true AS loss_reduced,
        | true AS holdout_acc_ge_floor""".stripMargin,

    "q191_dsir_select" ->
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
        |FROM per ORDER BY doc_id""".stripMargin,

    // Gopher repetition rules: the engine's zero-shuffle fold is
    // replayed relationally (explode + two-level counts per gram size)
    "q187_gopher_repetition" ->
      """WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
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
        |FROM m ORDER BY doc_id""".stripMargin,

    "q188_gopher_quality" ->
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
        |FROM m ORDER BY doc_id""".stripMargin,

    "q189_decontaminate" ->
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
        |ORDER BY h.doc_id""".stripMargin,

    // constant-replay oracle, valid like q170's: the booleans are
    // deterministic functions of the data + fixed parameters
    "q185_ann_sq8" ->
      """SELECT 'sq8_np4' AS method, CAST(20 AS BIGINT) AS k,
        | true AS recall_ge_floor, true AS store_lt_half""".stripMargin,

    // temperature mixture: langId regex replay (q161's CTEs) → sqrt
    // basis-point rate → integer hash Bernoulli (// is DuckDB int div)
    "q184_temperature_mix" ->
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
        |ORDER BY p.doc_id""".stripMargin,

    // Multimodal stub pipeline: meta from doc_id arithmetic, resize by
    // the original scale, byte-histogram feature f0 in float32.
    "q36_multimodal" ->
      """WITH m AS (
        | SELECT doc_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  text, length(text) AS olen,
        |  CAST(doc_id % 1024 + 16 AS INT) AS w0a,
        |  CAST((doc_id * 7) % 768 + 16 AS INT) AS h0a,
        |  CAST(doc_id % 16 + 4 AS INT) AS w0i,
        |  CAST((doc_id * 7) % 16 + 4 AS INT) AS h0i
        | FROM documents),
        |av AS (
        | SELECT doc_id, media_type, w0a AS w0, h0a AS h0, text, olen,
        |  least(1.0, 12.0 / greatest(w0a, h0a)) AS scale
        | FROM m WHERE doc_id % 3 <> 0),
        |avr AS (SELECT doc_id, media_type,
        |  CAST(floor(w0 * scale) AS INTEGER) AS width,
        |  CAST(floor(h0 * scale) AS INTEGER) AS height,
        |  substr(text, 1, CAST(greatest(1, trunc(olen * scale)) AS BIGINT)) AS ctext
        | FROM av),
        |avf AS (SELECT doc_id, media_type, width, height,
        |  length(ctext) AS n_bytes,
        |  length(list_filter(range(1, length(ctext) + 1),
        |    fi -> unicode(substr(ctext, fi, 1)) % 16 = 0)) AS cnt0
        | FROM avr),
        |avo AS (SELECT doc_id, media_type, width, height,
        |  CAST(n_bytes AS BIGINT) AS n_bytes, CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(floor(CAST(CAST(cnt0 AS FLOAT) / CAST(n_bytes AS FLOAT)
        |    AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS f0_bp
        | FROM avf),
        |im AS (
        | SELECT doc_id, w0i AS w0, h0i AS h0,
        |  least(1.0, 12.0 / greatest(w0i, h0i)) AS scale
        | FROM m WHERE doc_id % 3 = 0),
        |imd AS (SELECT doc_id, w0, h0,
        |  CAST(floor(w0 * scale) AS INTEGER) AS w1,
        |  CAST(floor(h0 * scale) AS INTEGER) AS h1
        | FROM im),
        |imo AS (SELECT doc_id, 'image' AS media_type, w1 AS width, h1 AS height,
        |  CAST(length('P6' || chr(10) || CAST(w1 AS VARCHAR) || ' ' ||
        |    CAST(h1 AS VARCHAR) || chr(10) || '255' || chr(10))
        |    + 3 * w1 * h1 AS BIGINT) AS n_bytes,
        |  CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(floor(CAST(CAST(
        |    list_avg(list_transform(range(0, CAST(w1 AS BIGINT) * h1), i ->
        |      (doc_id * 31 + 7 * 3 * (((i // w1) * h0 // h1) * w0
        |        + ((i % w1) * w0 // w1))) % 256))
        |    / 255.0 AS FLOAT) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS f0_bp
        | FROM imd)
        |SELECT * FROM (SELECT * FROM avo UNION ALL SELECT * FROM imo)
        |ORDER BY doc_id""".stripMargin,

    "q28_pipeline_e2e" ->
      """WITH staged AS (
        | SELECT o_orderkey, o_orderdate, o_orderstatus,
        |  CASE WHEN o_orderkey % 97 = 0 THEN '' ELSE c_name END AS artist_name,
        |  n_name AS venue_name,
        |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |       ELSE 'Order ' || o_orderstatus END AS description
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE o_orderkey % 10 = 0)
        |SELECT '/events/' || CAST(o_orderkey AS VARCHAR) AS wwoz_event_href,
        | trim(artist_name) AS artist_name, trim(venue_name) AS venue_name,
        | description,
        | epoch_us((strftime(o_orderdate, '%Y-%m-%d') || 'T20:00:00+00:00')::TIMESTAMPTZ) AS perf_us
        |FROM staged WHERE trim(artist_name) <> ''
        |ORDER BY wwoz_event_href""".stripMargin,

    "q29_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_revenue_cents
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q30_setops" ->
      """SELECT user_id FROM (
        | (SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-05'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'error' AND CAST(ts AS DATE) = DATE '2024-01-05')
        | UNION
        | (SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-05'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'signup' AND CAST(ts AS DATE) = DATE '2024-01-06'))
        |ORDER BY user_id""".stripMargin,

    "q31_asof_join" ->
      """WITH purchases AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |views0 AS (
        |  SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view'),
        |views AS (
        |  SELECT user_id, v_id, v_us FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, v_us
        |      ORDER BY v_id DESC) AS rn FROM views0) WHERE rn = 1)
        |SELECT p.p_id, p.p_us, v.v_id, v.v_us
        |FROM purchases p ASOF JOIN views v
        |  ON p.user_id = v.user_id AND v.v_us <= p.p_us
        |ORDER BY p.p_id""".stripMargin,

    "q44_range_join" ->
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "q51_boilerplate_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |  FROM toks, unnest(range(1, array_length(t) - 3)) AS r(i)
        |  WHERE array_length(t) >= 5)
        |SELECT ngram, count(*) AS n_docs FROM sh
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin,

    "q54_bloom_semijoin" ->
      """SELECT l_partkey AS p_partkey,
        | CAST(sum(l_quantity) AS BIGINT) AS total_qty, count(*) AS n_lines
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
        |GROUP BY 1 ORDER BY p_partkey""".stripMargin,

    "q53_salted_join" ->
      """SELECT c_mktsegment,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q52_label_centroids" ->
      """SELECT label, i AS dim,
        | CAST(floor(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000
        |   + 0.5) AS BIGINT)) / count(*) + 0.5) AS BIGINT) AS centroid_bp,
        | count(*) AS n_vecs
        |FROM embeddings, unnest(range(1, array_length(embedding) + 1)) AS r(i)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,

    "q50_range_join_rule" ->
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "q45_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin,

    "q46_quality_gate" ->
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
        |FROM g ORDER BY doc_id""".stripMargin,

    "q48_sql_text_surface" ->
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
        |ORDER BY lang, predicted""".stripMargin,

    // HLL replay: same FNV hash, bucket = u mod 512, rho from the binary
    // length of u div 512, registers max-merged per (lang, bucket), then
    // the exact-integer indicator sum S = Σ 2^(56 - rho) so the estimate
    // is one deterministic double divide on both engines.
    "q49_hll_distinct" ->
      s"""WITH toks AS (
        |  SELECT lang, t AS token FROM (
        |    SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |dt AS (SELECT DISTINCT lang, token FROM toks),
        |h AS (SELECT lang, ${fnvSql("token", "f")} AS u FROM dt),
        |r AS (
        |  SELECT lang, CAST(u % 512 AS INT) AS bucket,
        |   max(CASE WHEN u // 512 = 0 THEN 56
        |        ELSE 56 - length(printf('%b', CAST(u // 512 AS BIGINT))) END)
        |     AS rho
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang,
        |   sum(CAST(power(2, 56 - rho) AS HUGEINT))
        |     + (512 - count(*)) * CAST(power(2, 56) AS HUGEINT) AS s,
        |   512 - count(*) AS zeros
        |  FROM r GROUP BY 1),
        |est AS (
        |  SELECT lang,
        |   (0.7213 / (1 + 1.079 / 512)) * 262144.0 * power(2, 56)
        |     / CAST(s AS DOUBLE) AS raw, zeros
        |  FROM agg),
        |ex AS (SELECT lang, count(DISTINCT token) AS exact_tokens FROM toks
        |       GROUP BY 1)
        |SELECT e.lang,
        | CAST(round(CASE WHEN e.raw <= 1280.0 AND e.zeros > 0
        |   THEN 512 * ln(512.0 / e.zeros) ELSE e.raw END) AS BIGINT)
        |   AS est_tokens,
        | x.exact_tokens
        |FROM est e JOIN ex x ON e.lang = x.lang
        |ORDER BY e.lang""".stripMargin,

    "q47_asof_forward" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |purchases0 AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |purchases AS (
        |  SELECT user_id, p_id, p_us FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, p_us
        |      ORDER BY p_id DESC) AS rn FROM purchases0) WHERE rn = 1)
        |SELECT c.c_id, c.c_us, p.p_id, p.p_us
        |FROM clicks c ASOF JOIN purchases p
        |  ON c.user_id = p.user_id AND c.c_us <= p.p_us
        |ORDER BY c.c_id""".stripMargin,

    "q32_customer_pairs" ->
      """SELECT n_name, count(*) AS n_pairs
        |FROM customer a
        | JOIN customer b ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        | JOIN nation ON a.c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q33_hourly_windows" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin,

    "q34_geocode" ->
      """SELECT s_suppkey,
        | CASE WHEN s_suppkey % 10 = 0 THEN ''
        |      WHEN s_suppkey % 10 = 1 THEN s_name || '.Streaming'
        |      ELSE s_name || ' St' END AS full_address,
        | CAST(floor((CASE WHEN s_suppkey % 10 IN (0, 1) THEN 29.9511
        |      ELSE round(29.9511 + s_suppkey * 0.0001, 6) END) * 1000000
        |      + 0.5) AS BIGINT) AS lat_ud,
        | CAST(floor((CASE WHEN s_suppkey % 10 IN (0, 1) THEN -90.0715
        |      ELSE round(-90.0715 - s_suppkey * 0.0001, 6) END) * 1000000
        |      + 0.5) AS BIGINT) AS lon_ud
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q35_quarantine" ->
      """SELECT 'quarantined' AS status, count(*) AS n FROM part WHERE p_size < 5
        |UNION ALL
        |SELECT 'valid' AS status, count(*) AS n FROM part WHERE p_size >= 5
        |ORDER BY status""".stripMargin,

    "q42_embedding_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | CAST(floor(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 4) * 10000 + 0.5) AS BIGINT) AS cos_bp
        |FROM embeddings a
        | JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q43_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_price_cents
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q41_percentiles" ->
      """SELECT event_type,
        | CAST(floor(quantile_cont(value, 0.5) * 100 + 0.5) AS BIGINT)
        |   AS p50_cents,
        | CAST(floor(quantile_cont(value, 0.95) * 100 + 0.5) AS BIGINT)
        |   AS p95_cents,
        | CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1
        |   / count(*) + 0.5) AS BIGINT) AS avg_value_cents,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q40_sql_surface" ->
      """SELECT o_orderkey,
        | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        | AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin,

    "q38_topk_per_group" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT label, vec_id,
        |   list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                          CAST(qe AS DOUBLE[])) AS s
        |  FROM embeddings CROSS JOIN q)
        |SELECT label, rn AS rank, vec_id,
        | CAST(floor(s * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM (SELECT *, row_number() OVER (PARTITION BY label
        |        ORDER BY s DESC, vec_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY label, rank""".stripMargin,

    "q37_date_fanout" ->
      """WITH dates AS (
        |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
        |    INTERVAL 1 DAY))::DATE AS date),
        |counts AS (
        |  SELECT CAST(ts AS DATE) AS date, count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT strftime(d.date, '%Y-%m-%d') AS event_date,
        | CAST(CASE WHEN date_diff('day', DATE '2024-01-01', d.date) < 0 THEN 604800
        |   WHEN date_diff('day', DATE '2024-01-01', d.date) = 0 THEN 3600
        |   WHEN date_diff('day', DATE '2024-01-01', d.date) <= 7 THEN 43200
        |   ELSE 86400 END AS BIGINT) AS ttl_s,
        | coalesce(c.n_events, 0) AS n_events
        |FROM dates d LEFT JOIN counts c ON d.date = c.date
        |ORDER BY event_date""".stripMargin,

    "q55_pii_redact" ->
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
        |FROM base ORDER BY c_custkey""".stripMargin,

    "q56_doc_repetition" ->
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
        |ORDER BY t.doc_id""".stripMargin,

    "q57_sequence_pack" ->
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
        |FROM p GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    "q58_contamination" ->
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q59_vocab_topk" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '')) AS term
        | FROM documents WHERE length(trim(text)) > 0)
        |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM tok GROUP BY term
        |ORDER BY tf DESC, term LIMIT 100""".stripMargin,

    "q60_tfidf_terms" ->
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
        |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin,

    // replays q24's simhash signature, then exact popcount(xor) pairs —
    // the oracle does the O(n²) cross check the engine's band blocking
    // provably equals for hamming <= nBands-1
    "q61_simhash_pairs" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q62_asof_physical" ->
      """WITH purchases AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |views0 AS (
        |  SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view'),
        |views AS (
        |  SELECT user_id, v_id, v_us FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, v_us
        |      ORDER BY v_id DESC) AS rn FROM views0) WHERE rn = 1)
        |SELECT p.p_id, p.p_us, v.v_id, v.v_us
        |FROM purchases p ASOF JOIN views v
        |  ON p.user_id = v.user_id AND v.v_us <= p.p_us
        |ORDER BY p.p_id""".stripMargin,

    // bit-for-bit histogram-sketch replay: identical IEEE binning
    // ((v-lo)/w floor, clamp), identical rank math in DOUBLE (the ::DOUBLE
    // on the quantile literals matters — DECIMAL×BIGINT would round
    // differently from the engine's double multiply at rank edges), and
    // identical interpolation expression shape.
    "q63_hist_quantile" ->
      """WITH params AS (SELECT 0.0 AS lo, 500.0 AS hi, 256 AS bins),
        |binned AS (
        | SELECT event_type,
        |  CAST(CASE WHEN floor((value - lo) / ((hi - lo) / bins)) < 0 THEN 0
        |   WHEN floor((value - lo) / ((hi - lo) / bins)) >= bins THEN bins - 1
        |   ELSE floor((value - lo) / ((hi - lo) / bins)) END AS INT) AS bin
        | FROM events, params),
        |b AS (SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q),
        |cum AS (SELECT event_type, bin, c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cumc FROM b),
        |ranked AS (
        | SELECT c2.event_type, q.q, c2.bin, c2.c, c2.cumc, t.n,
        |  greatest(1, CAST(ceil(q.q * t.n) AS BIGINT)) AS rank
        | FROM cum c2 JOIN tot t USING (event_type), qs q),
        |hit AS (
        | SELECT event_type, q, bin, c, cumc, rank,
        |  row_number() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
        | FROM ranked WHERE cumc >= rank),
        |est AS (
        | SELECT h.event_type, h.q,
        |  CAST(floor((lo + ((hi - lo) / bins) *
        |    (h.bin + (h.rank - (h.cumc - h.c))::DOUBLE / h.c)) * 10000 + 0.5)
        |    AS BIGINT) AS e
        | FROM hit h, params WHERE rn = 1)
        |SELECT e1.event_type, e1.e AS p50_est_bp, e2.e AS p95_est_bp,
        | t.n AS n_events
        |FROM est e1
        | JOIN est e2 ON e1.event_type = e2.event_type
        |   AND e1.q = 0.5 AND e2.q = 0.95
        | JOIN tot t ON t.event_type = e1.event_type
        |ORDER BY e1.event_type""".stripMargin,

    "q64_source_mixing" ->
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
        |FROM kept GROUP BY 1, 2 ORDER BY source""".stripMargin,

    // same signature/band replay as q23 (no transitive closure), split
    // corpus (< 400) vs batch (>= 400), count shared bands per pair
    "q65_incremental_dedup" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(0, array_length(ts) - 2),
        |   si -> array_to_string(ts[(si + 1):(si + 3)], ' '))) AS shingles
        | FROM toks WHERE array_length(ts) >= 3),
        |hu AS (SELECT doc_id, list_transform(shingles, sg -> ${fnvSql("sg", "f")}) AS us FROM sh),
        |hm AS (SELECT doc_id, list_transform(us, u ->
        |   ((${toSignedSql("u")} % $MinhashP) + $MinhashP) % $MinhashP) AS hs FROM hu),
        |sigs AS (SELECT doc_id, list_transform(range(0, 64), j ->
        |   list_min(list_transform(hs, h ->
        |     ((1 + ((j + 1) * 2654435761) % ${MinhashP - 1}) * h +
        |      ((j + 1) * 1099511628211) % $MinhashP) % $MinhashP))) AS sg
        | FROM hm),
        |bkt AS (SELECT doc_id, b,
        |   array_to_string(sg[(CAST(b AS INT) * 4 + 1):(CAST(b AS INT) * 4 + 4)], ',') AS bucket
        | FROM sigs, range(0, 16) r(b))
        |SELECT n.doc_id AS id_new, o.doc_id AS id_old,
        | count(*) AS n_bands_shared
        |FROM bkt n JOIN bkt o ON n.b = o.b AND n.bucket = o.bucket
        | AND n.doc_id >= 400 AND o.doc_id < 400
        |GROUP BY 1, 2 ORDER BY id_new, id_old""".stripMargin,

    // full CMS replay: every (term, row) counter update re-derived in
    // HUGEINT arithmetic; estimate = min over the 4 row counters (grid
    // left-join so an empty bucket reads 0, exactly like the sketch)
    "q66_cms_heavy_hitters" ->
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
        |ORDER BY e.source, e.term""".stripMargin,

    // the rollup oracle replays registers PER SOURCE directly — valid
    // because register-wise max is associative, so merging (source, lang)
    // sub-sketches gives bit-identical registers (the property under test)
    "q67_sketch_rollup" ->
      s"""WITH toks AS (
        |  SELECT source, lang, t AS token FROM (
        |    SELECT source, lang,
        |      unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        |    FROM documents)
        |  WHERE length(t) > 0),
        |nl AS (SELECT source, count(DISTINCT lang) AS n_langs FROM toks
        |       GROUP BY 1),
        |dt AS (SELECT DISTINCT source, token FROM toks),
        |h AS (SELECT source, ${fnvSql("token", "f")} AS u FROM dt),
        |r AS (
        |  SELECT source, CAST(u % 512 AS INT) AS bucket,
        |   max(CASE WHEN u // 512 = 0 THEN 56
        |        ELSE 56 - length(printf('%b', CAST(u // 512 AS BIGINT))) END)
        |     AS rho
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT source,
        |   sum(CAST(power(2, 56 - rho) AS HUGEINT))
        |     + (512 - count(*)) * CAST(power(2, 56) AS HUGEINT) AS s,
        |   512 - count(*) AS zeros
        |  FROM r GROUP BY 1),
        |est AS (
        |  SELECT source,
        |   (0.7213 / (1 + 1.079 / 512)) * 262144.0 * power(2, 56)
        |     / CAST(s AS DOUBLE) AS raw, zeros
        |  FROM agg),
        |ex AS (SELECT source, count(DISTINCT token) AS exact_tokens FROM toks
        |       GROUP BY 1)
        |SELECT e.source,
        | CAST(round(CASE WHEN e.raw <= 1280.0 AND e.zeros > 0
        |   THEN 512 * ln(512.0 / e.zeros) ELSE e.raw END) AS BIGINT)
        |   AS est_tokens,
        | nl.n_langs, x.exact_tokens
        |FROM est e JOIN ex x ON e.source = x.source
        | JOIN nl ON nl.source = e.source
        |ORDER BY e.source""".stripMargin,

    // rank-only output: the ES priority ln(u)/w is compared, never
    // emitted, so 1-ulp ln/pow differences between engines cannot skew
    // the hash (ranks flip only on near-exact key collisions)
    "q68_reservoir_sample" ->
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
        |ORDER BY source, rank""".stripMargin,

    "q69_domain_cap_shards" ->
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
        |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin,

    // the z prefilter is a strict superset of the box, so the oracle is
    // the PLAIN box query — any row the z-range wrongly excluded would
    // hash-mismatch
    "q70_zorder" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events
        |WHERE value BETWEEN 50.0 AND 300.0 AND user_id BETWEEN 2 AND 90
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // register replay per source, then PAIRWISE register max in SQL —
    // the same bytes the scalar HllUnionEst merges; estimates replay the
    // identical closed-form (exact integer indicator sum)
    "q71_hll_overlap" ->
      s"""WITH toks AS (
        |  SELECT source, t AS token FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        |    FROM documents WHERE source IN ('src0','src1','src2','src3'))
        |  WHERE length(t) > 0),
        |dt AS (SELECT DISTINCT source, token FROM toks),
        |h AS (SELECT source, ${fnvSql("token", "f")} AS u FROM dt),
        |r AS (
        |  SELECT source, CAST(u % 512 AS INT) AS bucket,
        |   max(CASE WHEN u // 512 = 0 THEN 56
        |        ELSE 56 - length(printf('%b', CAST(u // 512 AS BIGINT))) END)
        |     AS rho
        |  FROM h GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM toks),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a, srcs b WHERE a.source < b.source),
        |-- single-source estimates
        |sagg AS (
        |  SELECT source,
        |   sum(CAST(power(2, 56 - rho) AS HUGEINT))
        |     + (512 - count(*)) * CAST(power(2, 56) AS HUGEINT) AS s,
        |   512 - count(*) AS zeros
        |  FROM r GROUP BY 1),
        |sest AS (
        |  SELECT source, CAST(round(
        |    CASE WHEN raw <= 1280.0 AND zeros > 0
        |      THEN 512 * ln(512.0 / zeros) ELSE raw END) AS BIGINT) AS est
        |  FROM (SELECT source, zeros,
        |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 * power(2, 56)
        |      / CAST(s AS DOUBLE) AS raw FROM sagg)),
        |-- pairwise union registers (max over the two sources per bucket)
        |ru AS (
        |  SELECT p.src_a, p.src_b, r.bucket, max(r.rho) AS rho
        |  FROM pairs p JOIN r ON r.source = p.src_a OR r.source = p.src_b
        |  GROUP BY 1, 2, 3),
        |uagg AS (
        |  SELECT src_a, src_b,
        |   sum(CAST(power(2, 56 - rho) AS HUGEINT))
        |     + (512 - count(*)) * CAST(power(2, 56) AS HUGEINT) AS s,
        |   512 - count(*) AS zeros
        |  FROM ru GROUP BY 1, 2),
        |uest AS (
        |  SELECT src_a, src_b, CAST(round(
        |    CASE WHEN raw <= 1280.0 AND zeros > 0
        |      THEN 512 * ln(512.0 / zeros) ELSE raw END) AS BIGINT) AS est_union
        |  FROM (SELECT src_a, src_b, zeros,
        |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 * power(2, 56)
        |      / CAST(s AS DOUBLE) AS raw FROM uagg))
        |SELECT u.src_a, u.src_b, ea.est AS est_a, eb.est AS est_b,
        | u.est_union, ea.est + eb.est - u.est_union AS est_intersect
        |FROM uest u
        | JOIN sest ea ON ea.source = u.src_a
        | JOIN sest eb ON eb.source = u.src_b
        |ORDER BY u.src_a, u.src_b""".stripMargin,

    "q72_chunk_windows" ->
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
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q73_curriculum_bins" ->
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
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,

    "q74_kv_sink_roundtrip" ->
      """WITH d AS (
        | SELECT CAST(ts AS DATE) AS date, count(*) AS n_events
        | FROM events GROUP BY 1)
        |SELECT 'events:' || strftime(date, '%Y-%m-%d') AS cache_key,
        | CAST(CASE WHEN date_diff('day', DATE '2024-01-01', date) < 0 THEN 604800
        |   WHEN date_diff('day', DATE '2024-01-01', date) = 0 THEN 3600
        |   WHEN date_diff('day', DATE '2024-01-01', date) <= 7 THEN 43200
        |   ELSE 86400 END AS BIGINT) AS ttl_s,
        | n_events
        |FROM d ORDER BY cache_key""".stripMargin,

    // >= gap (not >) opens a new session: Spark's window is [first,
    // last+gap), so an event AT last+gap falls outside it
    "q75_session_window" ->
      """WITH marked AS (
        | SELECT user_id, value, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |sess AS (
        | SELECT user_id, value, us,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS sid
        | FROM marked)
        |SELECT user_id, min(us) AS start_us,
        | max(us) + 1800000000 AS end_us,
        | count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS session_value_cents
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q76_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,

    // same left-fold accumulation order as Spark's aggregate() lambda
    // and the codegen loop, so 4-dp rounding is cross-engine stable
    "q77_hof_vector" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |base AS (SELECT e.vec_id, e.embedding AS emb, q.qe
        |         FROM embeddings e, q),
        |m AS (
        | SELECT vec_id,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(emb) + 1),
        |      i -> emb[i]::DOUBLE * qe[i])), (a, b) -> a + b) AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(emb) + 1),
        |      i -> emb[i]::DOUBLE * emb[i])), (a, b) -> a + b) AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(qe) + 1),
        |      i -> qe[i]::DOUBLE * qe[i])), (a, b) -> a + b) AS nq
        | FROM base),
        |c AS (
        | SELECT vec_id,
        |  CASE WHEN na = 0 OR nq = 0 THEN 0.0 ELSE dot / sqrt(na * nq) END
        |    AS cos
        | FROM m)
        |SELECT vec_id,
        | CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_hof_bp,
        | CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_native_bp
        |FROM c ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin,

    "q78_hard_negatives" ->
      """WITH a AS (
        | SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label
        | FROM embeddings WHERE vec_id < 10),
        |p AS (
        | SELECT e.vec_id, e.label, a.a_id, a.a_label,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * a.a_emb[i])), (x, y) -> x + y)
        |    AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
        |    AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(a.a_emb) + 1),
        |      i -> a.a_emb[i]::DOUBLE * a.a_emb[i])), (x, y) -> x + y)
        |    AS nq
        | FROM embeddings e, a WHERE e.vec_id <> a.a_id),
        |c AS (
        | SELECT a_id, vec_id,
        |  CASE WHEN label = a_label THEN 1 ELSE 0 END AS is_pos,
        |  CASE WHEN na = 0 OR nq = 0 THEN 0.0 ELSE dot / sqrt(na * nq) END
        |    AS s
        | FROM p),
        |r AS (
        | SELECT a_id, is_pos, vec_id, s,
        |  row_number() OVER (PARTITION BY a_id, is_pos
        |    ORDER BY s DESC, vec_id) AS rank
        | FROM c)
        |SELECT a_id, CAST(is_pos AS BIGINT) AS is_pos,
        | CAST(rank AS BIGINT) AS rank, vec_id,
        | CAST(floor(s * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM r WHERE rank <= 3
        |ORDER BY a_id, is_pos DESC, rank""".stripMargin,

    "q79_map_ops" ->
      """WITH h AS (
        | SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
        |nl AS (SELECT source, count(*) AS n_langs FROM h GROUP BY 1)
        |SELECT h.source, nl.n_langs, h.lang, CAST(h.n AS BIGINT) AS n_docs
        |FROM h JOIN nl ON nl.source = h.source
        |WHERE h.n >= 2
        |ORDER BY h.source, h.lang""".stripMargin,

    "q80_grouping_sets" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        | CAST(GROUPING(strftime(ts, '%Y-%m-%d')) * 2
        |   + GROUPING(event_type) AS BIGINT) AS gid
        |FROM events
        |GROUP BY GROUPING SETS ((strftime(ts, '%Y-%m-%d'), event_type),
        |  (event_type), ())
        |ORDER BY gid, event_date ASC NULLS FIRST,
        | event_type ASC NULLS FIRST""".stripMargin,

    "q81_range_window" ->
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS hour_sum_cents,
        | lag(event_id, 1) OVER w AS prev_id,
        | lead(event_id, 1) OVER w AS next_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, us, event_id""".stripMargin,

    "q82_unpivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        | count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_date, event_type""".stripMargin,

    "q83_string_agg" ->
      """SELECT source,
        | string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        | count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q84_correlated_subquery" ->
      """SELECT c.c_custkey, c.c_name,
        | CAST((SELECT sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS total_cents
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
        |    (SELECT avg(o2.o_totalprice) FROM orders o2))
        |ORDER BY c.c_custkey""".stripMargin,

    "q119_activity_gaps" ->
      """WITH days AS (
        | SELECT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT user_id,
        | CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
        |   AS span_days,
        | count(DISTINCT day) AS active_days,
        | CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
        |   - count(DISTINCT day) AS gap_days
        |FROM days WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q120_benford" ->
      """WITH digits AS (
        | SELECT regexp_extract(CAST(value AS VARCHAR), '[1-9]', 0) AS digit
        | FROM events WHERE value > 0),
        |counts AS (
        | SELECT digit, count(*) AS n FROM digits
        | WHERE digit <> '' GROUP BY 1)
        |SELECT digit, n,
        | CAST(floor(n * 10000 / (SELECT sum(n) FROM counts) + 0.5) AS BIGINT)
        |   AS frac_bp
        |FROM counts ORDER BY digit""".stripMargin,

    "q121_scd2_history" ->
      """WITH c AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events),
        |ch AS (
        | SELECT user_id, event_type, us, event_id FROM c
        | WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, us AS from_us,
        | lead(us) OVER w AS to_us,
        | lead(us) OVER w IS NULL AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, from_us""".stripMargin,

    "q122_gap_fill" ->
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS d,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_value
        | FROM events GROUP BY 1, 2),
        |span AS (
        | SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        | FROM events),
        |spine AS (
        | SELECT u.user_id, g.d
        | FROM (SELECT DISTINCT user_id FROM events) u
        | CROSS JOIN (SELECT unnest(generate_series(d0, d1,
        |   INTERVAL 1 DAY))::DATE AS d FROM span) g),
        |j AS (
        | SELECT s.user_id, s.d, daily.day_value
        | FROM spine s LEFT JOIN daily
        |   ON s.user_id = daily.user_id AND s.d = daily.d)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        | last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS filled_cents
        |FROM j ORDER BY user_id, day""".stripMargin,

    "q123_pit_join" ->
      """WITH nodup AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY event_id DESC) AS rn
        | FROM events WHERE event_type <> 'purchase'),
        |src AS (
        | SELECT user_id, event_id, event_type, us FROM nodup WHERE rn = 1),
        |c AS (
        | SELECT user_id, event_id, event_type, us,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS prev
        | FROM src),
        |hist AS (
        | SELECT user_id, event_type AS state, us AS from_us,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_us
        | FROM c WHERE prev IS NULL OR prev <> event_type),
        |p AS (
        | SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        | FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.p_id, p.p_us, h.state, h.from_us
        |FROM p JOIN hist h ON p.user_id = h.user_id
        | AND h.from_us <= p.p_us AND (h.to_us IS NULL OR p.p_us < h.to_us)
        |ORDER BY p_id""".stripMargin,

    // simhash signature (q61's replay) → near-dup pair graph → recursive
    // min-label closure (q23's replay tail): component = min reachable id
    "q124_cc_labelprop" ->
      s"""WITH RECURSIVE toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
        | UNION
        | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst)
        |SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id
        |ORDER BY id""".stripMargin,

    // 3 unrolled fixed-point iterations: integer div + long sums make
    // the replay exact (no float-addition-order divergence)
    "q125_pagerank" ->
      """WITH edges AS (
        | SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS pr
        | FROM nodes),
        |tp AS (SELECT CAST(((1000000000000 // (SELECT n FROM nn)) * 15) // 100
        |   AS BIGINT) AS t),
        |r1 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r0 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id),
        |r2 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r1 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id),
        |r3 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r2 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id)
        |SELECT id, pr FROM r3 ORDER BY id""".stripMargin,

    "q126_skyline" ->
      """SELECT p_partkey, p_size,
        | CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        | WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |   AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "q127_inverted_index" ->
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
        |ORDER BY token""".stripMargin,

    "q128_ohlc" ->
      """WITH ev AS (
        | SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, value,
        |  printf('%020d:%012d', epoch_us(ts), event_id) AS k
        | FROM events)
        |SELECT user_id, day,
        | CAST(floor(min_by(value, k) * 100 + 0.5) AS BIGINT) AS open_cents,
        | CAST(floor(max(value) * 100 + 0.5) AS BIGINT) AS high_cents,
        | CAST(floor(min(value) * 100 + 0.5) AS BIGINT) AS low_cents,
        | CAST(floor(max_by(value, k) * 100 + 0.5) AS BIGINT) AS close_cents,
        | count(*) AS n
        |FROM ev WHERE user_id < 30
        |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,

    "q129_incr_agg" ->
      """WITH base AS (
        | SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  o_orderpriority AS prio, o_totalprice AS tp,
        |  CAST(o_orderdate AS DATE) AS day
        | FROM orders),
        |stored AS (SELECT month, prio,
        |  sum(CAST(floor(tp * 100 + 0.5) AS BIGINT)) AS s, count(*) AS n
        | FROM base WHERE day < DATE '2001-06-01' GROUP BY 1, 2),
        |delta AS (SELECT month, prio,
        |  sum(CAST(floor(tp * 100 + 0.5) AS BIGINT)) AS s, count(*) AS n
        | FROM base WHERE day >= DATE '2001-06-01' GROUP BY 1, 2),
        |merged AS (SELECT month, prio, sum(s) AS s, sum(n) AS n FROM
        | (SELECT * FROM stored UNION ALL SELECT * FROM delta) GROUP BY 1, 2)
        |SELECT prio, CAST(sum(s) AS BIGINT) AS revenue_cents,
        | CAST(sum(n) AS BIGINT) AS n_orders,
        | count(DISTINCT month) AS n_months
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,

    "q130_typed_aggregator" ->
      """SELECT event_type,
        | CAST(floor(sum(value * (user_id % 5 + 1)) / sum(user_id % 5 + 1)
        |   * 10000 + 0.5) AS BIGINT) AS wmean_bp,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q131_spatial_join" ->
      """WITH c AS (SELECT c_custkey,
        |  (c_custkey * 7919 % 1800) / 10.0 - 90.0 AS c_lat,
        |  (c_custkey * 104729 % 3600) / 10.0 - 180.0 AS c_lon
        | FROM customer),
        |s AS (SELECT s_suppkey,
        |  (s_suppkey * 7919 % 1800) / 10.0 - 90.0 AS s_lat,
        |  (s_suppkey * 104729 % 3600) / 10.0 - 180.0 AS s_lon
        | FROM supplier)
        |SELECT c_custkey, s_suppkey,
        | CAST(floor(((c_lat - s_lat) * (c_lat - s_lat)
        |   + (c_lon - s_lon) * (c_lon - s_lon)) * 10000 + 0.5) AS BIGINT)
        |   AS d2_bp
        |FROM c JOIN s
        | ON (c_lat - s_lat) * (c_lat - s_lat)
        |    + (c_lon - s_lon) * (c_lon - s_lon) <= 25.0
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "q132_autocorr" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1, 2),
        |lagged AS (
        | SELECT event_type, v,
        |  lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS pv
        | FROM daily)
        |SELECT event_type,
        | CAST(floor(corr(v, pv) * 10000 + 0.5) AS BIGINT) AS lag1_corr_bp,
        | count(*) AS n_days
        |FROM lagged GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q133_entropy" ->
      """WITH counts AS (
        | SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c) AS tot FROM counts GROUP BY 1)
        |SELECT counts.source,
        | CAST(floor(-sum((c / tot) * ln(c / tot)) * 10000 + 0.5) AS BIGINT)
        |   AS entropy_bp,
        | count(DISTINCT lang) AS n_langs
        |FROM counts JOIN tot ON counts.source = tot.source
        |GROUP BY counts.source ORDER BY counts.source""".stripMargin,

    "q134_gini" ->
      """WITH r AS (
        | SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS i
        | FROM events)
        |SELECT event_type,
        | CAST(floor((2 * sum(i * value) - (count(*) + 1) * sum(value))
        |   / (count(*) * sum(value)) * 10000 + 0.5) AS BIGINT) AS gini_bp,
        | count(*) AS n
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q135_ab_test" ->
      """WITH m AS (
        | SELECT event_type, CAST(user_id % 2 = 0 AS INT) AS grp,
        |  avg(value) AS m, var_samp(value) AS v, count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT a.event_type,
        | CAST(floor((a.m - b.m) * 10000 + 0.5) AS BIGINT) AS mean_diff_bp,
        | CAST(floor((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) * 10000 + 0.5)
        |   AS BIGINT) AS t_stat_bp,
        | a.n AS n1, b.n AS n2
        |FROM m a JOIN m b
        | ON a.event_type = b.event_type AND a.grp = 1 AND b.grp = 0
        |ORDER BY a.event_type""".stripMargin,

    "q136_gaps_islands" ->
      """WITH days AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        | SELECT user_id, day,
        |  datediff('day', DATE '2024-01-01', day)
        |    - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        | FROM days)
        |SELECT user_id, strftime(min(day), '%Y-%m-%d') AS run_start,
        | strftime(max(day), '%Y-%m-%d') AS run_end, count(*) AS run_days
        |FROM g WHERE user_id < 40
        |GROUP BY user_id, grp ORDER BY user_id, run_start""".stripMargin,

    "q137_mom_growth" ->
      """WITH m AS (
        | SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  sum(o_totalprice) AS rev
        | FROM orders GROUP BY 1)
        |SELECT month,
        | CAST(floor(rev * 100 + 0.5) AS BIGINT) AS revenue_cents,
        | CAST(floor((rev - lag(rev) OVER (ORDER BY month)) * 100 + 0.5)
        |   AS BIGINT) AS mom_delta_cents,
        | CAST(floor(rev / lag(rev) OVER (ORDER BY month) * 10000 + 0.5)
        |   AS BIGINT) AS mom_ratio_bp
        |FROM m ORDER BY month""".stripMargin,

    "q138_cumulative_users" ->
      """WITH fs AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        | FROM events GROUP BY 1),
        |nd AS (SELECT first_day AS day, count(*) AS new_users
        | FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM nd ORDER BY day""".stripMargin,

    "q139_basket_lift" ->
      """WITH ob AS (
        | SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
        |bf AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
        |pairs AS (
        | SELECT a.b AS b1, c.b AS b2, count(*) AS nab
        | FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
        | GROUP BY 1, 2)
        |SELECT b1, b2, nab,
        | CAST(floor(nab * 10000 / (SELECT n_orders FROM n) + 0.5) AS BIGINT)
        |   AS support_bp,
        | CAST(floor(nab * 10000 / f1.nb + 0.5) AS BIGINT) AS confidence_bp,
        | CAST(floor(nab * (SELECT n_orders FROM n) * 10000
        |   / (f1.nb * f2.nb) + 0.5) AS BIGINT) AS lift_bp
        |FROM pairs JOIN bf f1 ON pairs.b1 = f1.b JOIN bf f2 ON pairs.b2 = f2.b
        |WHERE nab >= 20
        |ORDER BY b1, b2""".stripMargin,

    "q140_rfm" ->
      """WITH agg AS (
        | SELECT o_custkey, datediff('day', max(CAST(o_orderdate AS DATE)),
        |   DATE '2001-08-02') AS rec_days,
        |  count(*) AS freq,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS monetary_cents
        | FROM orders GROUP BY 1),
        |sc AS (
        | SELECT o_custkey, rec_days, freq, monetary_cents,
        |  ntile(4) OVER (ORDER BY rec_days, o_custkey) AS r,
        |  ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |  ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m
        | FROM agg)
        |SELECT o_custkey, rec_days, freq, monetary_cents, r, f, m,
        | r || '-' || f || '-' || m AS segment
        |FROM sc WHERE o_custkey < 200 ORDER BY o_custkey""".stripMargin,

    "q141_cusum" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1, 2),
        |wm AS (
        | SELECT event_type, day, v,
        |  avg(v) OVER (PARTITION BY event_type) AS mu
        | FROM daily),
        |cs AS (
        | SELECT event_type, day,
        |  sum(v - mu) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        | FROM wm),
        |rk AS (
        | SELECT event_type, day, cusum,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day) AS rn
        | FROM cs)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS change_day,
        | CAST(floor(cusum * 10000 + 0.5) AS BIGINT) AS peak_cusum_bp
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q142_percentile_bands" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        | CAST(floor(quantile_cont(value, 0.1) * 10000 + 0.5) AS BIGINT)
        |   AS p10_bp,
        | CAST(floor(quantile_cont(value, 0.5) * 10000 + 0.5) AS BIGINT)
        |   AS p50_bp,
        | CAST(floor(quantile_cont(value, 0.9) * 10000 + 0.5) AS BIGINT)
        |   AS p90_bp,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q143_mutual_info" ->
      """WITH joint AS (
        | SELECT event_type AS x, CAST(user_id % 2 = 0 AS INT) AS y,
        |  count(*) AS c
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT sum(c) AS n FROM joint),
        |mx AS (SELECT x, sum(c) AS cx FROM joint GROUP BY 1),
        |my AS (SELECT y, sum(c) AS cy FROM joint GROUP BY 1)
        |SELECT CAST(floor(sum((c / n) * ln((c * n)::DOUBLE / (cx * cy)))
        |   * 1000000 + 0.5) AS BIGINT) AS mi_unats,
        | CAST(max(n) AS BIGINT) AS n
        |FROM joint JOIN tot ON true JOIN mx ON joint.x = mx.x
        | JOIN my ON joint.y = my.y""".stripMargin,

    "q144_pareto_8020" ->
      """WITH cr AS (
        | SELECT o_custkey, sum(o_totalprice) AS rev,
        |  CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS rev_c
        | FROM orders GROUP BY 1),
        |tot AS (SELECT sum(rev_c) AS t_c, count(*) AS nc FROM cr),
        |rk AS (
        | SELECT o_custkey, rev_c,
        |  sum(rev_c) OVER (ORDER BY rev DESC, o_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
        |  row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn
        | FROM cr)
        |SELECT CAST(min(CASE WHEN cum_c * 5 >= 4 * (SELECT t_c FROM tot)
        |   THEN rn END) AS BIGINT) AS customers_for_80pct,
        | (SELECT CAST(nc AS BIGINT) FROM tot) AS n_customers,
        | CAST(floor(min(CASE WHEN cum_c * 5 >= 4 * (SELECT t_c FROM tot)
        |   THEN rn END) * 10000 / (SELECT nc FROM tot) + 0.5) AS BIGINT)
        |   AS frac_bp
        |FROM rk""".stripMargin,

    "q145_rolling_zscore" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1, 2),
        |roll AS (
        | SELECT event_type, day, v,
        |  avg(v) OVER w AS mu, stddev_samp(v) OVER w AS sd
        | FROM daily
        | WINDOW w AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        | CAST(floor((v - mu) / sd * 10000 + 0.5) AS BIGINT) AS z_bp
        |FROM roll WHERE sd IS NOT NULL AND abs((v - mu) / sd) > 1.5
        |ORDER BY event_type, day""".stripMargin,

    "q146_latency_histogram" ->
      """SELECT CAST(floor(datediff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE)) / 10.0) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_price_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q147_dense_rank_ties" ->
      """WITH bc AS (
        | SELECT n.n_name, p.p_brand, count(*) AS n_parts
        | FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |rk AS (SELECT n_name, p_brand, n_parts,
        | dense_rank() OVER (PARTITION BY n_name ORDER BY n_parts DESC) AS dr
        | FROM bc)
        |SELECT n_name, p_brand, n_parts, dr FROM rk WHERE dr <= 3
        |ORDER BY n_name, dr, p_brand""".stripMargin,

    "q148_clv_curve" ->
      """WITH seq AS (
        | SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS order_no
        | FROM orders)
        |SELECT order_no, count(*) AS n_customers,
        | CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) * 1
        |   / count(*) + 0.5) AS BIGINT) AS avg_order_value_cents
        |FROM seq WHERE order_no <= 10 GROUP BY 1 ORDER BY order_no""".stripMargin,

    "q149_share_of_wallet" ->
      """WITH cr AS (
        | SELECT n.n_name, c.c_custkey, sum(o.o_totalprice) AS rev
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY 1, 2),
        |sw AS (SELECT n_name, c_custkey, rev,
        | rev / sum(rev) OVER (PARTITION BY n_name) AS share,
        | row_number() OVER (PARTITION BY n_name
        |   ORDER BY rev DESC, c_custkey) AS rk
        | FROM cr)
        |SELECT n_name, c_custkey,
        | CAST(floor(rev * 100 + 0.5) AS BIGINT) AS revenue_cents,
        | CAST(floor(share * 10000 + 0.5) AS BIGINT) AS share_bp
        |FROM sw WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin,

    "q150_activity_heatmap" ->
      """WITH cell AS (
        | SELECT isodow(ts) AS isodow, CAST(hour(ts) AS INT) AS hr,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS tot FROM cell)
        |SELECT CAST(isodow AS INT) AS isodow, hr, n,
        | CAST(floor(n * 10000 / (SELECT tot FROM tot) + 0.5) AS BIGINT)
        |   AS share_bp
        |FROM cell ORDER BY isodow, hr""".stripMargin,

    "q151_regr_slope" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1, 2),
        |x AS (
        | SELECT event_type,
        |  CAST(datediff('day', DATE '2024-01-01', day) AS DOUBLE) AS xi, v
        | FROM daily)
        |SELECT event_type,
        | CAST(floor(regr_slope(v, xi) * 10000 + 0.5) AS BIGINT) AS slope_bp,
        | CAST(floor(regr_intercept(v, xi) * 10000 + 0.5) AS BIGINT)
        |   AS intercept_bp,
        | CAST(floor(regr_r2(v, xi) * 10000 + 0.5) AS BIGINT) AS r2_bp,
        | CAST(regr_count(v, xi) AS BIGINT) AS n
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q152_winsorized_mean" ->
      """WITH q AS (
        | SELECT event_type, quantile_cont(value, 0.05) AS lo,
        |  quantile_cont(value, 0.95) AS hi
        | FROM events GROUP BY 1)
        |SELECT e.event_type,
        | CAST(floor(avg(least(greatest(e.value, q.lo), q.hi)) * 10000 + 0.5)
        |   AS BIGINT) AS winsorized_mean_bp,
        | CAST(floor(avg(e.value) * 10000 + 0.5) AS BIGINT) AS raw_mean_bp,
        | count(*) AS n
        |FROM events e JOIN q ON e.event_type = q.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q153_nearest_event" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        | FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us
        | FROM events WHERE event_type = 'view'),
        |cand AS (
        | SELECT p.user_id, p.p_id, v.v_id,
        |  abs(p.p_us - v.v_us) AS dist,
        |  row_number() OVER (PARTITION BY p.p_id
        |    ORDER BY abs(p.p_us - v.v_us), v.v_id) AS rn
        | FROM p JOIN v ON p.user_id = v.user_id)
        |SELECT user_id, p_id, v_id, CAST(dist AS BIGINT) AS dist_us
        |FROM cand WHERE rn = 1 ORDER BY p_id""".stripMargin,

    "q154_attribution" ->
      """WITH v AS (
        | SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us,
        |  CAST(json_extract(props, '$.k') AS INT) % 5 AS ch
        | FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        | FROM events WHERE event_type = 'purchase'),
        |last_touch AS (
        | SELECT p.p_id, v.ch,
        |  row_number() OVER (PARTITION BY p.p_id
        |    ORDER BY v.v_us DESC, v.v_id DESC) AS rn
        | FROM p JOIN v ON p.user_id = v.user_id AND v.v_us <= p.p_us),
        |first_touch AS (
        | SELECT p.p_id, v.ch,
        |  row_number() OVER (PARTITION BY p.p_id
        |    ORDER BY v.v_us ASC, v.v_id ASC) AS rn
        | FROM p JOIN v ON p.user_id = v.user_id AND v.v_us <= p.p_us),
        |l AS (SELECT ch, count(*) AS n_last FROM last_touch
        | WHERE rn = 1 GROUP BY ch),
        |f AS (SELECT ch, count(*) AS n_first FROM first_touch
        | WHERE rn = 1 GROUP BY ch)
        |SELECT coalesce(l.ch, f.ch) AS channel,
        | coalesce(n_first, 0) AS n_first, coalesce(n_last, 0) AS n_last
        |FROM l FULL OUTER JOIN f ON l.ch = f.ch ORDER BY channel""".stripMargin,

    "q155_repeat_latency" ->
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events WHERE event_type = 'purchase')
        |SELECT CAST(floor((us - prev) / 86400000000.0) AS BIGINT) AS gap_days,
        | count(*) AS n
        |FROM p WHERE prev IS NOT NULL GROUP BY 1 ORDER BY gap_days""".stripMargin,

    "q156_tfidf_search" ->
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
        |FROM scores ORDER BY score_bp DESC, doc_id LIMIT 10""".stripMargin,

    "q157_clamped_balance" ->
      """WITH RECURSIVE src AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CASE WHEN event_type = 'purchase' THEN value ELSE -value END
        |    AS delta,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS rn
        | FROM events WHERE event_type IN ('purchase', 'error')),
        |walk AS (
        | SELECT user_id, event_id, rn, greatest(0, delta) AS bal
        | FROM src WHERE rn = 1
        | UNION ALL
        | SELECT s.user_id, s.event_id, s.rn, greatest(0, w.bal + s.delta)
        | FROM walk w JOIN src s
        |   ON s.user_id = w.user_id AND s.rn = w.rn + 1)
        |SELECT user_id, event_id,
        | CAST(floor(bal * 10000 + 0.5) AS BIGINT) AS balance_bp
        |FROM walk ORDER BY user_id, event_id""".stripMargin,

    "q158_trigram_mining" ->
      """WITH seq AS (
        | SELECT user_id, event_type AS a,
        |  lead(event_type, 1) OVER w AS b, lead(event_type, 2) OVER w AS c
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT a, b, c, count(*) AS support
        |FROM seq WHERE c IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5
        |ORDER BY support DESC, a, b, c""".stripMargin,

    "q159_backlog_sweep" ->
      """WITH closes AS (
        | SELECT l_orderkey AS ok, max(CAST(l_shipdate AS DATE)) AS close_d
        | FROM lineitem GROUP BY 1),
        |deltas AS (
        | SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
        | JOIN closes ON o_orderkey = ok
        | UNION ALL
        | SELECT close_d AS d, -1 AS delta FROM closes),
        |daily AS (SELECT d, sum(delta) AS net FROM deltas GROUP BY d),
        |run AS (
        | SELECT d, CAST(sum(net) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
        | FROM daily)
        |SELECT strftime(d, '%Y-%m-%d') AS day, backlog
        |FROM run WHERE dayofmonth(d) = 1 ORDER BY day""".stripMargin,

    "q160_leakage_safe_split" ->
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
        |FROM splits GROUP BY 1 ORDER BY split""".stripMargin,

    "q161_lang_rebalance" ->
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
        |FROM by_lang ORDER BY lang_pred""".stripMargin,

    "q162_dedup_survivorship" ->
      """SELECT md5(array_to_string(
        |   (regexp_split_to_array(trim(text), '\s+'))[1:5], ' ')) AS prefix_hash,
        | min(doc_id) AS survivor_id,
        | count(*) - 1 AS n_dups,
        | CAST(sum(length(text)) - arg_min(length(text), doc_id) AS BIGINT)
        |   AS bytes_saved
        |FROM documents GROUP BY 1
        |HAVING count(*) > 1 ORDER BY survivor_id""".stripMargin,

    "q163_semdedup" ->
      """WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 10),
        |p AS (
        | SELECT e.vec_id, e.embedding AS emb, c.cid,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
        |    AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(c.ce) + 1),
        |      i -> c.ce[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS nc
        | FROM embeddings e, c),
        |sc AS (
        | SELECT vec_id, emb, cid,
        |  CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / sqrt(na * nc) END
        |    AS s
        | FROM p),
        |asg AS (
        | SELECT vec_id, emb, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        | FROM sc),
        |a AS (SELECT vec_id, emb, cid FROM asg WHERE rk = 1),
        |drops AS (
        | SELECT DISTINCT y.vec_id
        | FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        | WHERE round(list_cosine_similarity(CAST(x.emb AS DOUBLE[]),
        |                                    CAST(y.emb AS DOUBLE[])), 4) > 0.45)
        |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
        | CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
        |FROM a LEFT JOIN drops d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q164_repeated_spans" ->
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
        |FROM brk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q165_containment" ->
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
        |ORDER BY id_a, id_b""".stripMargin,

    // replays sampleFrames/chunkAudio arithmetic over byte lengths:
    // frame f of a video covers [f·128, +32) of the payload; audio chunk
    // i covers [i·bpc, +bpc) with bpc = ceil(L / nChunks)
    "q168_media_parts" ->
      """WITH m AS (
        | SELECT doc_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  octet_length(encode(text)) AS L,
        |  (doc_id * 13) % 60000 AS duration_ms
        | FROM documents),
        |v AS (
        | SELECT doc_id, L,
        |  unnest(generate_series(0,
        |    greatest(CAST(floor(L / 128) AS BIGINT) - 1, 0))) AS f
        | FROM m WHERE media_type = 'video'),
        |vf AS (
        | SELECT doc_id, 'video' AS media_type, count(*) AS n_parts,
        |  CAST(sum(greatest(least(L - f * 128, 32), 0)) AS BIGINT)
        |    AS sum_part_bytes
        | FROM v GROUP BY 1, 2),
        |a AS (
        | SELECT doc_id, L,
        |  greatest(CAST(ceil(duration_ms / 5000.0) AS BIGINT), 1) AS n_chunks
        | FROM m WHERE media_type = 'audio'),
        |a2 AS (
        | SELECT doc_id, L,
        |  greatest(CAST(ceil(L / CAST(n_chunks AS DOUBLE)) AS BIGINT), 1) AS bpc,
        |  unnest(generate_series(0, n_chunks - 1)) AS i
        | FROM a),
        |af AS (
        | SELECT doc_id, 'audio' AS media_type, count(*) AS n_parts,
        |  CAST(sum(greatest(least(L - i * bpc, bpc), 0)) AS BIGINT)
        |    AS sum_part_bytes
        | FROM a2 GROUP BY 1, 2)
        |SELECT doc_id, media_type, n_parts, sum_part_bytes FROM vf
        |UNION ALL
        |SELECT doc_id, media_type, n_parts, sum_part_bytes FROM af
        |ORDER BY doc_id""".stripMargin,

    // same oracle as q39 (16 hash-spread centroids, nProbe 4): the
    // Spark side is the UN-indexed brute-force query shape, so the hash
    // matches only if AnnIndexRule planned it into the stored IVF probe
    "q169_ann_auto" ->
      s"""WITH cents AS (
        | SELECT row_number() OVER (ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id)
        |   - 1 AS cid, embedding AS ce
        | FROM embeddings
        | QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 2654435761) % 1000003, vec_id) <= 16),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.cid,
        |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) DESC,
        |     c.cid) AS rn
        | FROM embeddings e, cents c),
        |cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        | ORDER BY list_cosine_similarity(CAST(c.ce AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC, c.cid
        | LIMIT 4)
        |SELECT cl.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(cl.embedding AS DOUBLE[]),
      |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM cells cl, q WHERE cl.cid IN (SELECT cid FROM probe)
        |ORDER BY list_cosine_similarity(CAST(cl.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) DESC,
        | cl.vec_id
        |LIMIT 20""".stripMargin,

    // the oracle replays the permutation with the sequential
    // row_number window over the same closed-form hash
    "q173_epoch_shuffle" ->
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
        |ORDER BY doc_id""".stripMargin,

    // the oracle replays the packing with the sequential window cumsum
    // (the semantics GlobalOrder's split accumulation is proven equal
    // to); `//` is DuckDB integer division, matching Spark's `div`
    "q172_sequence_pack" ->
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
        |ORDER BY doc_id""".stripMargin,

    // exact top-k oracle, valid because the registered index's efSearch
    // covers each stored sub-graph (q166's exactness device) — the
    // rewritten probe must therefore equal the brute-force answer
    "q171_ann_auto_hnsw" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    // brute-force SQL with the predicate: valid because the registered
    // index's efSearch covers each sub-graph (probe exact) and the
    // runtime fallback covers the under-k case — whichever branch
    // served, the answer equals brute force
    "q174_ann_filtered" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id % 3 = 0
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    // brute-force SQL with the payload column joined back by the probe
    "q175_ann_payload" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    // brute-force SQL in the pgvector DISTANCE form; the predicate keeps
    // < k rows so the Spark side is served by the runtime brute fallback
    "q176_ann_fallback" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        | CAST(floor((1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[]))) * 10000 + 0.5) AS BIGINT) AS dist_bp
        |FROM embeddings e CROSS JOIN q
        |WHERE e.vec_id % 97 = 0
        |ORDER BY 1 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.qe AS DOUBLE[])) ASC, e.vec_id
        |LIMIT 20""".stripMargin,

    // per-query window top-k replayed in SQL: valid as the oracle for
    // the batched stored-graph probe because efSearch covers each
    // sub-graph (probe exact per query)
    "q177_ann_multi" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qemb
        |           FROM embeddings WHERE vec_id < 100),
        |s AS (
        | SELECT q.qid, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                         CAST(q.qemb AS DOUBLE[])) AS sim,
        |  row_number() OVER (PARTITION BY q.qid ORDER BY
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(q.qemb AS DOUBLE[])) DESC,
        |    e.vec_id) AS rn
        | FROM embeddings e CROSS JOIN q)
        |SELECT qid, vec_id,
        | CAST(floor(sim * 10000 + 0.5) AS BIGINT) AS score_bp,
        | CAST(rn AS INT) AS rn
        |FROM s WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,

    // the oracle replays the FLOOR COMPARISON as constants: the Spark
    // side computes recall@20 of the production-knob probes against the
    // in-engine exact top-k and emits booleans, which must all be true
    "q170_ann_recall" ->
      """SELECT 'hnsw_ef48' AS method, CAST(20 AS BIGINT) AS k, true AS recall_ge_floor
        |UNION ALL
        |SELECT 'ivf_np4', CAST(20 AS BIGINT), true
        |ORDER BY method""".stripMargin,

    // exact-SQL oracle valid for the same reason as q166: efSearch
    // covers each stored sub-graph, so the read-back probe is exact
    "q167_hnsw_at_rest" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    // exact-SQL oracle is valid because q166 runs HNSW with efSearch
    // covering each partition — per-partition top-k is exact and the
    // k-bounded merge of exact local top-ks is the exact global top-k
    "q166_hnsw_ann" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        | CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |   CAST(q.qe AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS score_bp
        |FROM embeddings e CROSS JOIN q
        |ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                CAST(q.qe AS DOUBLE[])) DESC, e.vec_id
        |LIMIT 20""".stripMargin,

    "q117_transitions" ->
      """WITH seq AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS next_type
        | FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        | count(*) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "q118_mad" ->
      """WITH med AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS med
        | FROM events GROUP BY 1)
        |SELECT e.event_type,
        | CAST(floor(any_value(m.med) * 10000 + 0.5) AS BIGINT) AS median_bp,
        | CAST(floor(quantile_cont(abs(e.value - m.med), 0.5) * 10000 + 0.5)
        |   AS BIGINT) AS mad_bp,
        | count(*) AS n
        |FROM events e JOIN med m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q115_rolling_actives" ->
      """WITH du AS (
        | SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d FROM du)
        |SELECT strftime(d.d, '%Y-%m-%d') AS day,
        | count(DISTINCT du.user_id) AS active_3d
        |FROM days d JOIN du
        |  ON du.day BETWEEN d.d - 2 AND d.d
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q116_retention_cohorts" ->
      """WITH f AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        | FROM events GROUP BY 1),
        |act AS (
        | SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        | count(DISTINCT f.user_id) AS n_users,
        | count(DISTINCT CASE WHEN a.day = f.cohort + 1
        |   THEN f.user_id END) AS d1_retained,
        | count(DISTINCT CASE WHEN a.day = f.cohort + 7
        |   THEN f.user_id END) AS d7_retained
        |FROM f JOIN act a USING (user_id)
        |GROUP BY f.cohort ORDER BY cohort""".stripMargin,

    "q113_asof_tolerance" ->
      """WITH purchases AS (
        |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |views0 AS (
        |  SELECT user_id, event_id AS v_id, epoch_us(ts) AS v_us
        |  FROM events WHERE event_type = 'view'),
        |views AS (
        |  SELECT user_id, v_id, v_us FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, v_us
        |      ORDER BY v_id DESC) AS rn FROM views0)
        |  WHERE rn = 1)
        |SELECT p.p_id, p.p_us, v.v_id, v.v_us
        |FROM purchases p ASOF JOIN views v
        |  ON p.user_id = v.user_id AND v.v_us <= p.p_us
        |WHERE p.p_us - v.v_us <= 1800000000
        |ORDER BY p.p_id""".stripMargin,

    "q114_value_windows" ->
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        | first_value(event_id) OVER w AS first_ev,
        | last_value(event_id) OVER w AS last_ev,
        | nth_value(event_id, 3) OVER w AS third_ev
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, us, event_id""".stripMargin,

    // the same register replay as q63, with the rounded estimates used
    // as bucket cut-points over the fact
    "q112_sketch_bucketing" ->
      """WITH params AS (SELECT 0.0 AS lo, 500.0 AS hi, 256 AS bins),
        |binned AS (
        | SELECT event_type,
        |  CAST(CASE WHEN floor((value - lo) / ((hi - lo) / bins)) < 0 THEN 0
        |   WHEN floor((value - lo) / ((hi - lo) / bins)) >= bins THEN bins - 1
        |   ELSE floor((value - lo) / ((hi - lo) / bins)) END AS INT) AS bin
        | FROM events, params),
        |b AS (SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q),
        |cum AS (SELECT event_type, bin, c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cumc FROM b),
        |ranked AS (
        | SELECT c2.event_type, q.q, c2.bin, c2.c, c2.cumc, t.n,
        |  greatest(1, CAST(ceil(q.q * t.n) AS BIGINT)) AS rank
        | FROM cum c2 JOIN tot t USING (event_type), qs q),
        |hit AS (
        | SELECT event_type, q, bin, c, cumc, rank,
        |  row_number() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
        | FROM ranked WHERE cumc >= rank),
        |est AS (
        | SELECT h.event_type, h.q,
        |  round(lo + ((hi - lo) / bins) *
        |    (h.bin + (h.rank - (h.cumc - h.c))::DOUBLE / h.c), 4) AS e
        | FROM hit h, params WHERE rn = 1),
        |cuts AS (
        | SELECT e1.event_type, e1.e AS p50, e2.e AS p95
        | FROM est e1 JOIN est e2 ON e1.event_type = e2.event_type
        |  AND e1.q = 0.5 AND e2.q = 0.95)
        |SELECT ev.event_type,
        | CASE WHEN ev.value < c.p50 THEN 'low'
        |      WHEN ev.value < c.p95 THEN 'mid' ELSE 'high' END AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(floor(ev.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events ev JOIN cuts c ON c.event_type = ev.event_type
        |GROUP BY 1, 2 ORDER BY ev.event_type, bucket""".stripMargin,

    "q109_normalize_text" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS raw_len,
        | CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |   AS BIGINT) AS norm_len,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q110_typed_dataset" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 200
        |GROUP BY source ORDER BY source""".stripMargin,

    "q111_explode_outer" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |    AS nt
        | FROM documents)
        |SELECT source, count(DISTINCT doc_id) AS n_docs_kept,
        | CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_empty_docs,
        | CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q106_bit_aggs" ->
      """SELECT user_id,
        | CAST(bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |   WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
        |   AS INT) AS type_mask,
        | CAST(bit_and(CAST(event_id % 4 AS INT) + 4) AS INT) AS and_mask,
        | CAST(bit_xor(CAST(event_id AS INT)) AS INT) AS xor_ids
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q107_array_setops" ->
      """WITH langs AS (
        | SELECT source, list_sort(list_distinct(list(lang))) AS ls
        | FROM documents GROUP BY source)
        |SELECT source,
        | array_to_string(list_sort(list_intersect(ls,
        |   ['en','es','fr'])), ',') AS common,
        | array_to_string(list_sort(list_filter(ls,
        |   x -> NOT list_contains(['en','es','fr'], x))), ',') AS extra,
        | array_to_string(list_sort(list_distinct(list_concat(ls,
        |   ['en','es','fr']))), ',') AS all_langs
        |FROM langs ORDER BY source""".stripMargin,

    "q108_stats_aggs" ->
      """SELECT event_type,
        | CAST(floor(corr(value, CAST(user_id AS DOUBLE)) * 10000 + 0.5)
        |   AS BIGINT) AS corr_vu_bp,
        | CAST(floor(covar_samp(value, CAST(user_id AS DOUBLE)) * 100 + 0.5)
        |   AS BIGINT) AS covar_vu_c,
        | CAST(floor(stddev_samp(value) * 10000 + 0.5) AS BIGINT)
        |   AS sd_value_bp,
        | CAST(floor(var_samp(value) * 100 + 0.5) AS BIGINT) AS var_value_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q103_union_by_name" ->
      """WITH u AS (
        | SELECT doc_id, source, NULL::BIGINT AS n_tokens
        | FROM documents WHERE doc_id % 2 = 0
        | UNION ALL
        | SELECT doc_id, source,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END
        |   AS BIGINT) AS n_tokens
        | FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN n_tokens IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_missing,
        | CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS sum_tokens
        |FROM u GROUP BY source ORDER BY source""".stripMargin,

    "q104_weekly_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY week_start, event_type""".stripMargin,

    "q105_decimal_money" ->
      """SELECT o_custkey,
        | CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |   AS BIGINT) AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |   > 50000000
        |ORDER BY o_custkey""".stripMargin,

    "q101_try_cast" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN TRY_CAST(
        |    regexp_split_to_array(trim(text), '\s+')[1] AS DOUBLE)
        |   IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric_lead,
        | CAST(sum(CASE WHEN TRY_CAST(lang AS DOUBLE) IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric_lang,
        | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_div_by_zero
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q102_fuzzy_names" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q100_training_run" ->
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
        |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin,

    "q97_json_elt" ->
      """SELECT o_custkey AS cust, count(*) AS n_orders,
        | CAST(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_t_cents
        |FROM orders GROUP BY 1 ORDER BY cust""".stripMargin,

    "q98_filtered_aggs" ->
      """SELECT event_type,
        | count(*) FILTER (WHERE value > 250) AS n_high,
        | bool_or(value > 400) AS any_gt400,
        | bool_and(value >= 0) AS all_nonneg,
        | CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |     FILTER (WHERE user_id % 2 = 0) * 1
        |   / count(*) FILTER (WHERE user_id % 2 = 0) + 0.5) AS BIGINT)
        |   AS avg_even_users_cents
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q99_relative_ranks" ->
      """SELECT event_type, event_id,
        | CAST(floor((percent_rank() OVER w) * 10000 + 0.5) AS BIGINT)
        |   AS pr_bp,
        | CAST(floor((cume_dist() OVER w) * 10000 + 0.5) AS BIGINT) AS cd_bp,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,

    "q96_interval_arithmetic" ->
      """WITH s AS (
        | SELECT user_id, event_id AS s_id, ts AS s_ts FROM events
        | WHERE event_type = 'signup'),
        |a AS (
        | SELECT user_id, event_id AS a_id, ts AS a_ts FROM events
        | WHERE event_type <> 'signup')
        |SELECT s.user_id, s.s_id, count(*) AS n_follow
        |FROM s JOIN a ON a.user_id = s.user_id
        | AND a.a_ts >= s.s_ts AND a.a_ts < s.s_ts + INTERVAL 2 HOUR
        |GROUP BY 1, 2 ORDER BY s.user_id, s.s_id""".stripMargin,

    "q94_csv_roundtrip" ->
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_doc
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    "q95_schema_evolution" ->
      """WITH q AS (
        | SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 1 THEN
        |   CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE round(length(regexp_extract_all(lower(text),
        |      '\b(the|a|an|and|of|to|in|is|it|that)\b'))::DOUBLE /
        |      array_length(regexp_split_to_array(trim(text), '\s+')), 4) END
        |  END AS quality
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_pre_schema,
        | CAST(floor(sum(CAST(floor(quality * 10000 + 0.5) AS BIGINT))
        |   * 1 / count(quality) + 0.5) AS BIGINT) AS avg_quality_new_bp
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    "q92_profile_sources" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_empty,
        | CAST(sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_no_lang,
        | CAST(floor(sum(CAST(length(text) AS BIGINT)) * 100 / count(*)
        |   + 0.5) AS BIGINT) AS avg_chars_c,
        | CAST(min(length(text)) AS BIGINT) AS min_chars,
        | CAST(max(length(text)) AS BIGINT) AS max_chars,
        | CAST(floor(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
        |   * 10000 / count(*) + 0.5) AS BIGINT) AS meta_mismatch_rate_bp
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q93_argmax" ->
      """SELECT user_id,
        | arg_max(event_id, printf('%015d|%010d',
        |   CAST(round(value * 100) AS BIGINT), event_id))
        |   AS top_value_event,
        | arg_min(event_id, printf('%020d|%010d', epoch_us(ts), event_id))
        |   AS first_event,
        | arg_max(event_type, printf('%020d|%010d', epoch_us(ts), event_id))
        |   AS last_type,
        | CAST(floor(max(value) * 100 + 0.5) AS BIGINT) AS top_value_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q91_chunk_dedup_pairs" ->
      """WITH tok0 AS (
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
        | FROM tok),
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
        |ORDER BY id_a, id_b""".stripMargin,

    "q90_cdc_chunks" ->
      """WITH tok0 AS (
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
        | FROM tok)
        |SELECT doc_id, chunk_id, count(*) AS n_tokens,
        | md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
        |FROM ch GROUP BY doc_id, chunk_id
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q89_bpe_merge_step" ->
      """WITH words AS (
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
        | FROM counted)
        |SELECT CAST(rank AS BIGINT) AS rank, s1, s2, pair_freq,
        | rank = 1 AS is_merge
        |FROM ranked WHERE rank <= 20
        |ORDER BY rank""".stripMargin,

    "q88_lm_perplexity" ->
      """WITH tok0 AS (
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
        | QUALIFY w2 IS NOT NULL),
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
        |ORDER BY b.doc_id""".stripMargin,

    "q87_funnel" ->
      """WITH staged AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id) AS fv
        | FROM events),
        |staged2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND us > fv
        |    THEN us END) OVER (PARTITION BY user_id) AS fc
        | FROM staged),
        |staged3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND us > fc
        |    THEN us END) OVER (PARTITION BY user_id) AS fp
        | FROM staged2)
        |SELECT count(DISTINCT user_id) AS n_users,
        | count(DISTINCT CASE WHEN fv IS NOT NULL THEN user_id END)
        |   AS n_viewed,
        | count(DISTINCT CASE WHEN fc IS NOT NULL THEN user_id END)
        |   AS n_clicked_after_view,
        | count(DISTINCT CASE WHEN fp IS NOT NULL THEN user_id END)
        |   AS n_purchased_after_click
        |FROM staged3""".stripMargin,

    "q86_kmeans_step" ->
      """WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 4),
        |p AS (
        | SELECT e.vec_id, e.embedding AS emb, c.cid,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
        |    AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(c.ce) + 1),
        |      i -> c.ce[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS nc
        | FROM embeddings e, c),
        |sc AS (
        | SELECT vec_id, emb, cid,
        |  CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / sqrt(na * nc) END
        |    AS s
        | FROM p),
        |asg AS (
        | SELECT vec_id, emb, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        | FROM sc),
        |a AS (SELECT vec_id, emb, cid FROM asg WHERE rk = 1),
        |x AS (
        | SELECT cid, i - 1 AS dim, emb[CAST(i AS INT)]::DOUBLE AS v
        | FROM a, range(1, 9) r(i))
        |SELECT CAST(cid AS BIGINT) AS centroid_id, CAST(dim AS BIGINT) AS dim,
        | CAST(floor(sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)) * 1
        |   / count(*) + 0.5) AS BIGINT) AS mean_val_bp, count(*) AS n
        |FROM x GROUP BY 1, 2
        |ORDER BY centroid_id, dim""".stripMargin,

    "q85_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS start, c_custkey AS node,
        |         CAST(0 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey < 32
        |  UNION ALL
        |  SELECT start, node // 2 AS node, depth + 1 AS depth
        |  FROM anc WHERE node > 0)
        |SELECT start, node, depth FROM anc
        |ORDER BY start, depth""".stripMargin,

    // exact semantics: batch docs whose 12-token prefix appears in the
    // corpus split are dropped — the Bloom filter is a pure plan
    // optimization and cannot change the result
    "q206_bloom_incr_dedup" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |  array_to_string(regexp_split_to_array(trim(text), '\s+')[1:12],
        |    ' ') AS k
        | FROM documents),
        |c AS (SELECT k FROM d WHERE doc_id % 10 < 8),
        |b AS (SELECT doc_id, n_chars, k FROM d WHERE doc_id % 10 >= 8)
        |SELECT doc_id, n_chars FROM b
        |WHERE k NOT IN (SELECT k FROM c)
        |ORDER BY doc_id""".stripMargin,

    // the greedy MMR loop unrolled to its 5 selection steps; every
    // numeric literal ::DOUBLE so both engines multiply the identical
    // IEEE operands (DuckDB parses bare 0.7 as DECIMAL)
    "q207_mmr_diversify" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0),
        |pool AS (SELECT vec_id, emb, rel FROM (
        |   SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe)
        |      AS rel
        |   FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
        | ORDER BY rel DESC, vec_id LIMIT 20),
        |s1 AS (SELECT vec_id, emb, rel, 0.7::DOUBLE * rel AS mmr
        |       FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
        |e1 AS (SELECT vec_id, emb FROM s1),
        |c2 AS (SELECT p.vec_id, p.emb, p.rel,
        |  0.7::DOUBLE * p.rel - 0.3::DOUBLE *
        |   (SELECT max(list_cosine_similarity(p.emb, s.emb)) FROM e1 s)
        |    AS mmr
        | FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM e1)),
        |s2 AS (SELECT vec_id, emb, rel, mmr FROM c2
        |       ORDER BY mmr DESC, vec_id LIMIT 1),
        |e2 AS (SELECT vec_id, emb FROM e1
        |       UNION ALL SELECT vec_id, emb FROM s2),
        |c3 AS (SELECT p.vec_id, p.emb, p.rel,
        |  0.7::DOUBLE * p.rel - 0.3::DOUBLE *
        |   (SELECT max(list_cosine_similarity(p.emb, s.emb)) FROM e2 s)
        |    AS mmr
        | FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM e2)),
        |s3 AS (SELECT vec_id, emb, rel, mmr FROM c3
        |       ORDER BY mmr DESC, vec_id LIMIT 1),
        |e3 AS (SELECT vec_id, emb FROM e2
        |       UNION ALL SELECT vec_id, emb FROM s3),
        |c4 AS (SELECT p.vec_id, p.emb, p.rel,
        |  0.7::DOUBLE * p.rel - 0.3::DOUBLE *
        |   (SELECT max(list_cosine_similarity(p.emb, s.emb)) FROM e3 s)
        |    AS mmr
        | FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM e3)),
        |s4 AS (SELECT vec_id, emb, rel, mmr FROM c4
        |       ORDER BY mmr DESC, vec_id LIMIT 1),
        |e4 AS (SELECT vec_id, emb FROM e3
        |       UNION ALL SELECT vec_id, emb FROM s4),
        |c5 AS (SELECT p.vec_id, p.emb, p.rel,
        |  0.7::DOUBLE * p.rel - 0.3::DOUBLE *
        |   (SELECT max(list_cosine_similarity(p.emb, s.emb)) FROM e4 s)
        |    AS mmr
        | FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM e4)),
        |s5 AS (SELECT vec_id, emb, rel, mmr FROM c5
        |       ORDER BY mmr DESC, vec_id LIMIT 1)
        |SELECT CAST(r AS INT) AS rank, vec_id,
        | CAST(floor(rel * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
        |   AS rel_bp,
        | CAST(floor(mmr * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
        |   AS mmr_bp
        |FROM (SELECT 1 AS r, vec_id, rel, mmr FROM s1
        | UNION ALL SELECT 2, vec_id, rel, mmr FROM s2
        | UNION ALL SELECT 3, vec_id, rel, mmr FROM s3
        | UNION ALL SELECT 4, vec_id, rel, mmr FROM s4
        | UNION ALL SELECT 5, vec_id, rel, mmr FROM s5)
        |ORDER BY r""".stripMargin,

    // n_tokens / quality are verbatim the q19 oracle fragments; the
    // budget prefix is the plain global window the engine's banded
    // two-phase form provably equals
    "q208_token_budget" ->
      """WITH t AS (SELECT doc_id,
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
        | FROM f)
        |SELECT doc_id, n_tokens,
        | CAST(floor(q * 10000 + 0.5) AS BIGINT) AS q_bp FROM o
        |WHERE cum <= 12000 ORDER BY doc_id""".stripMargin,

    // exact-int operands end to end (the q52 idiom): per-element 4dp
    // fixed point, bigint sums, one identical double expression at the
    // end in both engines
    "q209_embedding_diversity" ->
      """WITH x AS (SELECT label,
        |  CAST(floor(embedding[CAST(i AS INT)]::DOUBLE * 10000.0::DOUBLE
        |    + 0.5::DOUBLE) AS BIGINT) AS qv,
        |  i AS dim
        | FROM embeddings, range(1, 65) r(i)),
        |dims AS (SELECT label, dim, sum(qv) AS sd, sum(qv * qv) AS sq,
        |  count(*) AS n
        | FROM x GROUP BY label, dim)
        |SELECT label, max(n) AS n_vecs,
        | CAST(floor((sum(sq)::DOUBLE / max(n) -
        |   sum(sd * sd)::DOUBLE / (max(n) * max(n))) /
        |   100000000.0::DOUBLE * 1000000.0::DOUBLE + 0.5::DOUBLE)
        |   AS BIGINT) AS dispersion_up
        |FROM dims GROUP BY label
        |ORDER BY label""".stripMargin,

    // q124's simhash + CC replay extended with the keep-longest window
    "q210_dup_canonical" ->
      s"""WITH RECURSIVE toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
        | UNION
        | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst),
        |cc AS (SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id),
        |len AS (SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n FROM documents),
        |j AS (SELECT cc.cluster_id, len.doc_id, len.n,
        |  row_number() OVER (PARTITION BY cc.cluster_id
        |    ORDER BY len.n DESC, len.doc_id) AS rn,
        |  count(*) OVER (PARTITION BY cc.cluster_id) AS cluster_size
        | FROM cc JOIN len ON cc.id = len.doc_id)
        |SELECT cluster_id, doc_id AS kept_doc, n AS kept_chars, cluster_size
        |FROM j WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "q211_corpus_cube" ->
      """WITH b AS (SELECT lang,
        |  CAST(LEAST(n_chars // 400, 4) AS BIGINT) AS band,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS n_toks,
        |  n_chars
        | FROM documents)
        |SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
        |  CASE WHEN GROUPING(band) = 1 THEN CAST(-1 AS BIGINT) ELSE band END AS band,
        |  count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS tot_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars
        |FROM b GROUP BY CUBE(lang, band)
        |ORDER BY lang, band""".stripMargin,

    // integer cum*10 >= total*9 keeps the p90 selection exact in both
    // engines (no float percentile semantics to reconcile)
    "q212_percentile_threshold" ->
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
        |GROUP BY threshold ORDER BY threshold""".stripMargin,

    "q213_stratified_sample" ->
      """WITH d AS (SELECT lang, doc_id, n_chars,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || lang) AS rk
        | FROM documents),
        |w AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n_str FROM d)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, n_chars FROM w
        |WHERE rn <= GREATEST(2, n_str // 100)
        |ORDER BY lang, rn""".stripMargin,

    // v2 derived by md5-parity from v1 so both engines diff the same
    // snapshot pair; the diff compares content hashes, not text
    "q214_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        |b AS (SELECT doc_id, source, text,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h FROM v1),
        |kept AS (SELECT doc_id, source,
        |  CASE WHEN h = '1' THEN text || ' [rev2]' ELSE text END AS text
        | FROM b WHERE h <> '0'),
        |added AS (SELECT doc_id + 10000000 AS doc_id, source,
        |  'new ' || text AS text FROM b WHERE h = '2'),
        |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
        |a2 AS (SELECT doc_id, source AS src1, md5(text) AS h1 FROM v1),
        |b2 AS (SELECT doc_id, source AS src2, md5(text) AS h2 FROM v2),
        |d AS (SELECT coalesce(src1, src2) AS source,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed'
        |       ELSE 'unchanged' END AS status
        | FROM a2 FULL OUTER JOIN b2 ON a2.doc_id = b2.doc_id)
        |SELECT source, status, count(*) AS n FROM d
        |GROUP BY source, status ORDER BY source, status""".stripMargin,

    "q215_skew_advisor" ->
      """WITH evc AS (SELECT user_id AS k, count(*) AS c
        |             FROM events GROUP BY 1),
        |lic AS (SELECT l_orderkey AS k, count(*) AS c
        |        FROM lineitem GROUP BY 1),
        |evs AS (SELECT 'events.user_id' AS key_col, count(*) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_c FROM evc),
        |evh AS (SELECT min(k) AS hot_key FROM evc
        |        WHERE c = (SELECT max(c) FROM evc)),
        |lis AS (SELECT 'lineitem.l_orderkey' AS key_col,
        |  count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
        |  max(c) AS max_c FROM lic),
        |lih AS (SELECT min(k) AS hot_key FROM lic
        |        WHERE c = (SELECT max(c) FROM lic)),
        |u AS (SELECT evs.*, evh.hot_key FROM evs, evh
        |      UNION ALL
        |      SELECT lis.*, lih.hot_key FROM lis, lih)
        |SELECT key_col, n_keys, n_rows, max_c, hot_key,
        |  max_c * 1000000 // n_rows AS skew_ppm,
        |  CAST(GREATEST(1, max_c // (GREATEST(1, n_rows // n_keys) * 4))
        |    AS BIGINT) AS salt_factor
        |FROM u ORDER BY key_col""".stripMargin,

    "q216_blocklist_filter" ->
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
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // exact integer ppm weights: 1e6 // cluster_size replays bit-for-bit
    "q217_soft_dedup_weights" ->
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
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // global single-window exclusive prefix — the form the engine's
    // 256-band two-phase computation provably equals
    "q218_token_shards" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS BIGINT) AS n_toks,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk
        | FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
        | FROM d)
        |SELECT CAST(excl // 25000 AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS shard_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q219_tokenizer_fertility" ->
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
        |FROM g ORDER BY lang""".stripMargin,

    // the oracle checks the JOIN RESULT; the exchange-free property is
    // require()d inside the engine query itself at plan time
    "q220_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |    + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q221_event_burst_dedup" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  epoch_us(ts) AS us FROM events),
        |f AS (SELECT event_type,
        |  lag(us) OVER (PARTITION BY user_id, event_type
        |    ORDER BY us, event_id) AS prev, us
        | FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN prev IS NULL OR us - prev > 600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND us - prev <= 600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_collapsed
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    // WAV decode replay: the sample formula is pure integer arithmetic,
    // so every stat (and the IEEE divide+sqrt RMS) replays exactly.
    "q222_audio_stats" ->
      """WITH a AS (
        | SELECT doc_id,
        |  8000 + (doc_id % 7) * 1000 AS sample_rate,
        |  100 + (doc_id * 13) % 900 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        | SELECT doc_id, sample_rate, n,
        |  list_transform(range(0, n),
        |    i -> ((doc_id * 31 + i * 7919) % 65536) - 32768) AS smp
        | FROM a)
        |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_frames,
        | CAST(n * 1000 // sample_rate AS BIGINT) AS duration_ms,
        | CAST(floor(sqrt(CAST(list_sum(list_transform(smp, x -> x * x))
        |   AS DOUBLE) / n) * 10000 + 0.5) AS BIGINT) AS rms_bp,
        | CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
        | CAST(length(list_filter(smp, x -> abs(x) >= 32767)) AS BIGINT)
        |   AS n_clipped
        |FROM s ORDER BY doc_id""".stripMargin,

    // Y4M decode replay: luma/motion sums from the integer plane
    // formula; n_bytes pins the canonical encoder layout (header +
    // per-frame "FRAME\n" + w*h*3/2 planes).
    "q223_video_stats" ->
      """WITH v AS (
        | SELECT doc_id,
        |  2 * ((doc_id % 8) + 2) AS w,
        |  2 * (((doc_id * 5) % 8) + 2) AS h,
        |  2 + doc_id % 6 AS nf,
        |  10 + doc_id % 5 AS fps
        | FROM documents WHERE doc_id % 3 = 2),
        |y AS (
        | SELECT doc_id, w, h, nf, fps,
        |  list_transform(range(0, nf * w * h),
        |   j -> (doc_id * 31 + (j // (w * h)) * 101 + (j % (w * h)) * 7)
        |     % 256) AS ys
        | FROM v)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        | CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        | CAST(floor(CAST(list_sum(ys) AS DOUBLE) / (nf * w * h) * 10000
        |   + 0.5) AS BIGINT) AS luma_mean_bp,
        | CAST(floor(CAST(list_sum(list_transform(range(0, (nf - 1) * w * h),
        |     j -> abs(ys[j + w * h + 1] - ys[j + 1]))) AS DOUBLE)
        |   / ((nf - 1) * w * h) * 10000 + 0.5) AS BIGINT) AS motion_mean_bp,
        | CAST(length('YUV4MPEG2 W' || w || ' H' || h || ' F' || fps ||
        |   ':1 Ip A1:1 C420' || chr(10)) +
        |   nf * (6 + w * h * 3 // 2) AS BIGINT) AS n_bytes
        |FROM y ORDER BY doc_id""".stripMargin,

    // matryoshka replay: same 4-anchor panel, same truncated cosines
    // (list slices), same tie-break; overlap via the two rank columns.
    "q224_matryoshka_recall" ->
      """WITH a AS (SELECT vec_id AS qid, embedding AS qe
        |  FROM embeddings WHERE vec_id < 4),
        |sc AS (SELECT a.qid, e.vec_id,
        |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(a.qe AS DOUBLE[])) AS sf,
        |  list_cosine_similarity(CAST(e.embedding[1:32] AS DOUBLE[]),
        |    CAST(a.qe[1:32] AS DOUBLE[])) AS s32,
        |  list_cosine_similarity(CAST(e.embedding[1:16] AS DOUBLE[]),
        |    CAST(a.qe[1:16] AS DOUBLE[])) AS s16,
        |  list_cosine_similarity(CAST(e.embedding[1:8] AS DOUBLE[]),
        |    CAST(a.qe[1:8] AS DOUBLE[])) AS s8
        | FROM embeddings e CROSS JOIN a),
        |r AS (SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY sf DESC, vec_id) AS rf,
        |  row_number() OVER (PARTITION BY qid ORDER BY s32 DESC, vec_id) AS r32,
        |  row_number() OVER (PARTITION BY qid ORDER BY s16 DESC, vec_id) AS r16,
        |  row_number() OVER (PARTITION BY qid ORDER BY s8 DESC, vec_id) AS r8
        | FROM sc),
        |o AS (SELECT qid,
        |  sum(CASE WHEN rf <= 20 AND r32 <= 20 THEN 1 ELSE 0 END) AS o32,
        |  sum(CASE WHEN rf <= 20 AND r16 <= 20 THEN 1 ELSE 0 END) AS o16,
        |  sum(CASE WHEN rf <= 20 AND r8 <= 20 THEN 1 ELSE 0 END) AS o8
        | FROM r GROUP BY qid)
        |SELECT qid, tdim, n_overlap FROM (
        |  SELECT qid, CAST(8 AS BIGINT) AS tdim,
        |    CAST(o8 AS BIGINT) AS n_overlap FROM o
        |  UNION ALL
        |  SELECT qid, CAST(16 AS BIGINT), CAST(o16 AS BIGINT) FROM o
        |  UNION ALL
        |  SELECT qid, CAST(32 AS BIGINT), CAST(o32 AS BIGINT) FROM o)
        |ORDER BY qid, tdim""".stripMargin,

    // DoReMi-lite replay: q88's bigram-perplexity CTEs with the source
    // carried through, per-doc 4dp quantization, then the pure-integer
    // excess/weight arithmetic.
    "q225_domain_reweight" ->
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
        |FROM ex CROSS JOIN t ORDER BY source""".stripMargin,

    // span-manifest replay: q172's offsets + a chunk-range unnest.
    "q226_pack_manifest" ->
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
        |FROM e ORDER BY chunk, doc_id""".stripMargin,

    // padding-waste replay: two window ranks, per-batch aggregates,
    // pure-integer waste ppm.
    "q227_batch_padding" ->
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
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // span-corruption replay: identical closed-form hash arithmetic,
    // list-built spans in stratum order.
    "q228_span_corruption" ->
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
        |FROM sp ORDER BY doc_id""".stripMargin,

    // media-gate replay: per-type rules from the q36/q222/q223
    // generator formulas (array_to_string of an empty list is NULL in
    // DuckDB — hence the coalesce).
    "q229_media_gate" ->
      """WITH im AS (
        | SELECT doc_id, 'image' AS media_type,
        |  CASE WHEN least(doc_id % 16 + 4, (doc_id * 7) % 16 + 4) < 8
        |   THEN 'too_small' ELSE '' END AS reason
        | FROM documents WHERE doc_id % 3 = 0),
        |au0 AS (
        | SELECT doc_id, 8000 + (doc_id % 7) * 1000 AS rate,
        |  100 + (doc_id * 13) % 900 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |au AS (
        | SELECT doc_id, 'audio' AS media_type,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN n * 1000 // rate < 10 THEN 'too_short' ELSE '' END,
        |    CASE WHEN length(list_filter(list_transform(range(0, n),
        |      i -> ((doc_id * 31 + i * 7919) % 65536) - 32768),
        |      x -> abs(x) >= 32767)) * 20000 > n THEN 'clipped' ELSE '' END],
        |    r -> r <> ''), ','), '') AS reason
        | FROM au0),
        |vi0 AS (
        | SELECT doc_id, 2 * ((doc_id % 8) + 2) AS w,
        |  2 * (((doc_id * 5) % 8) + 2) AS h, 2 + doc_id % 6 AS nf
        | FROM documents WHERE doc_id % 3 = 2),
        |vi AS (
        | SELECT doc_id, 'video' AS media_type,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN nf < 5 THEN 'too_few_frames' ELSE '' END,
        |    CASE WHEN list_sum(list_transform(range(0, (nf - 1) * w * h),
        |      j -> abs(((doc_id * 31 + ((j // (w * h)) + 1) * 101
        |          + (j % (w * h)) * 7) % 256)
        |        - ((doc_id * 31 + (j // (w * h)) * 101
        |          + (j % (w * h)) * 7) % 256))))
        |      < (nf - 1) * w * h THEN 'static' ELSE '' END],
        |    r -> r <> ''), ','), '') AS reason
        | FROM vi0),
        |u AS (SELECT * FROM im UNION ALL SELECT * FROM au
        |  UNION ALL SELECT * FROM vi)
        |SELECT doc_id, media_type, reason, reason = '' AS keep
        |FROM u ORDER BY doc_id""".stripMargin,

    // contract replay: the same eight rules from one aggregate.
    "q230_data_contract" ->
      """WITH a AS (
        | SELECT count(*) AS n,
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null,
        |  count(DISTINCT doc_id) AS n_dist,
        |  sum(CASE WHEN lang NOT IN ('en','es','fr','de','zh')
        |    THEN 1 ELSE 0 END) AS v_lang,
        |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS v_len,
        |  sum(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS v_blank,
        |  sum(CASE WHEN source NOT LIKE 'src%' THEN 1 ELSE 0 END) AS v_src,
        |  sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS v_max,
        |  sum(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS v_min
        | FROM documents),
        |r AS (
        | SELECT 'doc_id_not_null' AS rule, n, v_null AS v FROM a
        | UNION ALL SELECT 'doc_id_unique', n, n - n_dist FROM a
        | UNION ALL SELECT 'lang_in_domain', n, v_lang FROM a
        | UNION ALL SELECT 'n_chars_consistent', n, v_len FROM a
        | UNION ALL SELECT 'text_nonblank', n, v_blank FROM a
        | UNION ALL SELECT 'source_format', n, v_src FROM a
        | UNION ALL SELECT 'n_chars_max_500', n, v_max FROM a
        | UNION ALL SELECT 'n_chars_min_50', n, v_min FROM a)
        |SELECT rule, CAST(n AS BIGINT) AS n_checked,
        | CAST(v AS BIGINT) AS n_violations, v = 0 AS pass
        |FROM r ORDER BY rule""".stripMargin,

    // fingerprint replay: same 60-bit md5 fold (NULL text -> 'nil'
    // sentinel), same XOR aggregate.
    "q231_dataset_fingerprint" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |   || ':' || coalesce(md5(text), 'nil')), 1, 15))::BIGINT)
        |   AS BIGINT) AS fingerprint
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // examples replay: same seeded md5 rank, same per-source top-3.
    "q232_datasheet_examples" ->
      """WITH r AS (
        | SELECT source, doc_id, lang, n_chars,
        |  md5('ex:' || CAST(doc_id AS VARCHAR)) AS rk,
        |  md5(text) AS text_md5,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5('ex:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |SELECT source, CAST(rn AS BIGINT) AS example_rank, doc_id, lang,
        | n_chars, text_md5
        |FROM r WHERE rn <= 3 ORDER BY source, example_rank""".stripMargin,

    // drift replay: same integer ppm pipeline over the two halves.
    "q233_vocab_drift" ->
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
        |ORDER BY abs(delta_ppm) DESC, w LIMIT 10""".stripMargin,

    // phash replay: the dHash bits from the pixel FORMULA (the Spark
    // side decodes real P6 bytes), then ground-truth near pairs by
    // cross-joining the distinct hashes — which also proves the banded
    // candidate path loses nothing at threshold 6.
    "q234_image_phash_dedup" ->
      """WITH img AS (
        | SELECT doc_id, CAST(doc_id % 16 + 4 AS BIGINT) AS w,
        |        CAST(doc_id * 7 % 16 + 4 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |gr AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_transform(range(0::BIGINT, 9::BIGINT), gx ->
        |    ( ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 0)*7) % 256)
        |    + ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 1)*7) % 256)
        |    + ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 2)*7) % 256)) // 3
        |   )) AS g
        | FROM img),
        |bh AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_sum(list_transform(range(0::BIGINT, 8::BIGINT), gx ->
        |    CASE WHEN g[gy+1][gx+2] > g[gy+1][gx+1] THEN 1<<gx ELSE 0 END))) AS bands
        | FROM gr),
        |hs AS (
        | SELECT doc_id, bands,
        |  array_to_string(list_transform(bands,
        |    b -> printf('%02x', CAST(b AS INT))), '') AS phash
        | FROM bh),
        |hg AS (
        | SELECT phash, any_value(bands) AS bands, count(*) AS n_docs,
        |        min(doc_id) AS rep_doc
        | FROM hs GROUP BY phash),
        |p2 AS (
        | SELECT a.phash AS h1, b.phash AS h2,
        |  list_sum(list_transform(range(0::BIGINT, 8::BIGINT), i ->
        |    bit_count(xor(CAST(a.bands[i+1] AS BIGINT),
        |                  CAST(b.bands[i+1] AS BIGINT))))) AS dist
        | FROM hg a JOIN hg b ON a.phash < b.phash),
        |p3 AS (SELECT h1, h2 FROM p2 WHERE dist BETWEEN 1 AND 6),
        |nn AS (
        | SELECT phash, count(*) AS n_near FROM (
        |  SELECT h1 AS phash FROM p3 UNION ALL SELECT h2 AS phash FROM p3)
        | GROUP BY phash)
        |SELECT hg.phash, CAST(n_docs AS BIGINT) AS n_docs, rep_doc,
        |       CAST(coalesce(n_near, 0) AS BIGINT) AS n_near
        |FROM hg LEFT JOIN nn USING (phash) ORDER BY phash""".stripMargin,

    // leakage replay: the shared minhash CTE's candidate pairs filtered
    // to cross-split orientation, verified with exact string-shingle
    // jaccard (the Spark side intersects FNV-hashed shingles — same
    // sets modulo negligible 64-bit collisions, the q22 precedent).
    "q235_split_leakage" ->
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
        |GROUP BY source ORDER BY source""".stripMargin,

    // pack-order replay: q163's cosine argmax assignment (ties to the
    // smaller centroid id), whitespace token counts, per-cluster
    // inclusive running sum -> greedy 256-token sequence boundaries.
    "q236_semantic_pack_order" ->
      """WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 8),
        |p AS (
        | SELECT e.vec_id AS doc_id, c.cid,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
        |    AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(c.ce) + 1),
        |      i -> c.ce[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS nc
        | FROM embeddings e, c),
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
        |   ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
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
        |FROM sq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // growth replay: bin() bit-length prefix levels (identical
    // unpadded semantics in both engines), word-grain first
    // occurrence, cumulative assembly over the level frame.
    "q237_vocab_growth" ->
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
        |FROM j CROSS JOIN n ORDER BY level""".stripMargin,

    // audio-fp replay: energies from the sample FORMULA (the Spark
    // side decodes real WAV bytes), ground-truth near pairs by
    // cross-joining distinct fingerprints.
    "q238_audio_fp_dedup" ->
      """WITH au AS (
        | SELECT doc_id, CAST(100 + (doc_id * 13) % 900 AS BIGINT) AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |e AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 16::BIGINT), j ->
        |   list_sum(list_transform(range(j * n // 16, (j + 1) * n // 16),
        |    i -> ((doc_id * 31 + i * 7919) % 65536 - 32768)
        |       * ((doc_id * 31 + i * 7919) % 65536 - 32768)))) AS es
        | FROM au),
        |f0 AS (
        | SELECT doc_id,
        |  list_sum(list_transform(range(0::BIGINT, 15::BIGINT), b ->
        |   CASE WHEN es[b + 2] > es[b + 1] THEN 1 << b ELSE 0 END)) AS fp
        | FROM e),
        |hg AS (
        | SELECT fp, count(*) AS n_docs, min(doc_id) AS rep_doc
        | FROM f0 GROUP BY fp),
        |p2 AS (
        | SELECT a.fp AS f1, b.fp AS f2,
        |  bit_count(xor(CAST(a.fp AS BIGINT), CAST(b.fp AS BIGINT))) AS dist
        | FROM hg a JOIN hg b ON a.fp < b.fp),
        |p3 AS (SELECT f1, f2 FROM p2 WHERE dist BETWEEN 1 AND 2),
        |nn AS (
        | SELECT fp, count(*) AS n_near FROM (
        |  SELECT f1 AS fp FROM p3 UNION ALL SELECT f2 AS fp FROM p3)
        | GROUP BY fp)
        |SELECT CAST(hg.fp AS BIGINT) AS fp, CAST(n_docs AS BIGINT) AS n_docs,
        | rep_doc, CAST(coalesce(n_near, 0) AS BIGINT) AS n_near
        |FROM hg LEFT JOIN nn ON hg.fp = nn.fp ORDER BY fp""".stripMargin,

    // divergence replay: same integer ppm pipeline; the absent-word
    // mass enters through the same G - Σ_{w∈s} ppm_g identity.
    "q239_source_divergence" ->
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
        |ORDER BY a.source""".stripMargin,

    // video-fp replay: luma comparisons from the plane FORMULA (the
    // Spark side decodes real Y4M bytes); bit b of the 24 → frame
    // b//12, grid row (b%12)//3, column comparison b%3 vs b%3+1 at
    // point-sampled coordinates (gy*h//4, gx*w//4). Ground-truth near
    // pairs by cross-joining distinct fingerprints.
    "q240_video_fp_dedup" ->
      """WITH vd AS (
        | SELECT doc_id, CAST(2 * ((doc_id % 8) + 2) AS BIGINT) AS w,
        |        CAST(2 * (((doc_id * 5) % 8) + 2) AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 2),
        |f0 AS (
        | SELECT doc_id,
        |  list_sum(list_transform(range(0::BIGINT, 24::BIGINT), b ->
        |   CASE WHEN
        |    ((doc_id * 31 + (b // 12) * 101 +
        |      ((((b % 12) // 3) * h // 4) * w + ((b % 3) + 1) * w // 4) * 7)
        |     % 256)
        |    >
        |    ((doc_id * 31 + (b // 12) * 101 +
        |      ((((b % 12) // 3) * h // 4) * w + (b % 3) * w // 4) * 7)
        |     % 256)
        |   THEN 1 << b ELSE 0 END)) AS fp
        | FROM vd),
        |hg AS (
        | SELECT fp, count(*) AS n_docs, min(doc_id) AS rep_doc
        | FROM f0 GROUP BY fp),
        |p2 AS (
        | SELECT a.fp AS f1, b.fp AS f2,
        |  bit_count(xor(CAST(a.fp AS BIGINT), CAST(b.fp AS BIGINT))) AS dist
        | FROM hg a JOIN hg b ON a.fp < b.fp),
        |p3 AS (SELECT f1, f2 FROM p2 WHERE dist BETWEEN 1 AND 2),
        |nn AS (
        | SELECT fp, count(*) AS n_near FROM (
        |  SELECT f1 AS fp FROM p3 UNION ALL SELECT f2 AS fp FROM p3)
        | GROUP BY fp)
        |SELECT CAST(hg.fp AS BIGINT) AS fp, CAST(n_docs AS BIGINT) AS n_docs,
        | rep_doc, CAST(coalesce(n_near, 0) AS BIGINT) AS n_near
        |FROM hg LEFT JOIN nn ON hg.fp = nn.fp ORDER BY fp""".stripMargin,

    // FIM replay: identical multiplicative-hash draws and character
    // offsets; md5 of the reassembled sentinel sequence pins bytes.
    "q241_fim_transform" ->
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
        |FROM o ORDER BY doc_id""".stripMargin,

    // α-mixture replay: same integer-ppm ladder (⌊√toks⌋ weights,
    // rel = samp/nat, acc = rel/max) and the same hash gate.
    "q242_alpha_mixture" ->
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
        |ORDER BY acc.source""".stripMargin,

    // CCNet-bucket replay: q88's perplexity CTEs (with lang), the same
    // 4-decimal integerization, histogram-cumulative tertile cutoffs.
    "q243_ccnet_buckets" ->
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
        |FROM bk GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    // preference-pair replay: q210's simhash+CC recursive CTE with the
    // q46 stopword-ratio score and the same two tie-broken orderings.
    "q244_preference_pairs" ->
      s"""WITH RECURSIVE toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
        | UNION
        | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst),
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
        |FROM ag ORDER BY cluster_id""".stripMargin,

    // cross-source matrix replay: the shared minhash clustering CTE,
    // then the same (cluster, source, count) reduction + pair algebra.
    "q245_cross_source_dups" ->
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
        |ORDER BY src_a, src_b""".stripMargin,

    // calibration replay: q88's perplexity CTEs integer-ized as q243
    // does, q188's gopher gate, the same fixed bins + lift algebra.
    "q246_proxy_calibration" ->
      """WITH tok0 AS (
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
        | QUALIFY w2 IS NOT NULL),
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
        | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |        list_transform(regexp_split_to_array(trim(text), '\s+'),
        |          x -> lower(x)) AS lt
        |       FROM documents WHERE length(trim(text)) > 0)),
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
        |GROUP BY bin, tp, tn ORDER BY bin""".stripMargin,

    // yield-curve replay: q22's candidate CTEs without the threshold
    // filter, the same integer-band histograms and spine cumulatives.
    "q247_dedup_yield_curve" ->
      """WITH toks AS (
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
        |  GROUP BY 1, 2),
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
        |FROM pc JOIN dc USING (k) ORDER BY threshold_bp""".stripMargin,

    // held-out replay: q88's CTEs split on doc_id % 5, left joins with
    // zero-coalesced counts, the same exact integer source mean.
    "q248_heldout_source_ppl" ->
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
        |GROUP BY sc.source ORDER BY sc.source""".stripMargin,

    // epoch-value replay: same divide-first integer decay on the same
    // whitespace token totals.
    "q249_epoch_value_card" ->
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
        |GROUP BY source, m ORDER BY source, epochs""".stripMargin,

    // cluster-balance replay: q86's nearest-of-K assignment CTEs with
    // K=16, then the same integer-grid acceptance algebra.
    "q250_cluster_balanced_select" ->
      """WITH c AS (
        | SELECT vec_id AS cid, embedding AS ce FROM embeddings
        | WHERE vec_id < 16),
        |p AS (
        | SELECT e.vec_id, c.cid,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS dot,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(e.embedding) + 1),
        |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
        |    AS na,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(1, len(c.ce) + 1),
        |      i -> c.ce[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS nc
        | FROM embeddings e, c),
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
        |FROM k GROUP BY cid ORDER BY centroid_id""".stripMargin,

    // contamination-span replay: q180's window CTEs with the benchmark
    // existence set in place of the n_docs > 1 stats.
    "q251_contamination_spans" ->
      """WITH pos AS (
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        | CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // stutter replay: the same indexed-lambda filter (DuckDB lambdas
    // are 1-based where Spark's are 0-based; the CASE guards ws[0]).
    "q252_stutter_collapse" ->
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
        |FROM k ORDER BY doc_id""".stripMargin,

    // p99-clip replay: the same 50-char binned cumulative and clip.
    "q253_p99_length_clip" ->
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
        |ORDER BY doc_id""".stripMargin,

    // novelty-sweep replay: q189's distinct-gram CTE per n, existence
    // joins, same 3-row algebra.
    "q254_novelty_sweep" ->
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
        |FROM j ORDER BY n""".stripMargin,

    // unseen-mass replay: same (source, word) rollup.
    "q255_unseen_mass_card" ->
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
        |FROM wc GROUP BY source ORDER BY source""".stripMargin,

    // composed-emit replay: q252's collapse, q253's cutoff on the
    // collapsed length, q188's gate on the clipped text.
    "q256_clean_emit" ->
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
        |FROM t2 ORDER BY doc_id""".stripMargin,

    // char-coverage replay: same alphabet-grain cumulative.
    "q257_char_coverage" ->
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
        |GROUP BY target_bp ORDER BY target_bp""".stripMargin,

    // dup-quality replay: q244's simhash CC CTEs + the same bucket
    // algebra with exact integer means.
    "q258_dup_quality_card" ->
      s"""WITH RECURSIVE toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.s, b.s)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        | UNION ALL SELECT id_b, id_a FROM pairs),
        |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
        | UNION
        | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst),
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
        |FROM j GROUP BY size_bucket ORDER BY size_bucket""".stripMargin,

    // decontaminated-corpus replay: q251's span CTEs + q182's segment
    // stitch, over the train split only.
    "q259_decontaminated_corpus" ->
      """WITH pos AS (
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk),
        |spans AS (
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
        | FROM spans GROUP BY doc_id),
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
        |ORDER BY d.doc_id""".stripMargin,

    // minhash-accuracy replay: the shared signature/bucket CTEs, the
    // same coordinate-match estimate and distinct-shingle exact.
    "q260_minhash_accuracy" ->
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
        |FROM e GROUP BY 1 ORDER BY err_band_bp""".stripMargin,

    // padding-frontier replay: q227's length-sorted rank swept over B.
    "q261_padding_frontier" ->
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
        |FROM g GROUP BY batch_size ORDER BY batch_size""".stripMargin,

    // isotropy replay: same integer-grid quantization and the
    // ‖Σa‖² − Σ‖a‖² identity (HUGEINT sums are exact, as the Spark
    // side's DECIMAL(38,0) accumulators are).
    "q262_isotropy_card" ->
      """WITH q AS (
        | SELECT vec_id, i - 1 AS dim,
        |  CAST(floor(embedding[CAST(i AS INT)]::DOUBLE * 10000 + 0.5)
        |    AS BIGINT) AS vq
        | FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
        |pv AS (SELECT vec_id, sum(vq * vq) AS nrm2 FROM q GROUP BY 1),
        |pd AS (SELECT dim, sum(vq) AS sv FROM q GROUP BY 1),
        |a AS (SELECT count(*) AS n, sum(nrm2) AS sum_nrm2 FROM pv),
        |b AS (SELECT sum(sv * sv) AS nrm2_of_sum FROM pd),
        |d AS (
        | SELECT n, sum_nrm2, nrm2_of_sum - sum_nrm2 AS num,
        |  CAST(n AS HUGEINT) * (n - 1) AS pden,
        |  (n - 1) * sum_nrm2 AS aden
        | FROM a CROSS JOIN b)
        |SELECT CAST(n AS BIGINT) AS n,
        | CAST(sum_nrm2 // n AS BIGINT) AS mean_nrm2_q,
        | CAST(CASE WHEN n > 1 THEN (num + 1000000000000 * pden) // pden
        |   - 1000000000000 END AS BIGINT) AS mean_pair_dot_q,
        | CAST(CASE WHEN n > 1 AND sum_nrm2 > 0 THEN
        |  (2 * num * 10000 + aden + 2000000 * aden) // (2 * aden)
        |   - 1000000 END AS BIGINT) AS anisotropy_bp
        |FROM d""".stripMargin,

    // S-curve replay: the shared signature/bucket CTEs give the
    // candidates; q22's capped co-shingle pairs give the universe.
    "q263_lsh_s_curve" ->
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
        |FROM j GROUP BY 1 ORDER BY jaccard_band_bp""".stripMargin,

    // attribution replay: q21's hash window + the shared minhash
    // clusters + q181's keep-first span CTEs, first-flag precedence.
    "q264_dedup_attribution" ->
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk),
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
        |FROM j GROUP BY removed_by ORDER BY removed_by""".stripMargin,

    // bit-balance replay: q24's signature CTEs, arithmetic-shift bit
    // extraction ((s >> b) & 1 — sign-fill only touches positions
    // above bit 0, so signed shift is exact in both engines).
    "q265_simhash_bit_balance" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
        |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
        |nn AS (SELECT count(*) AS n FROM s2),
        |bits AS (SELECT s, unnest(range(0, 64)) AS bit FROM s2),
        |g AS (SELECT bit, sum((s >> CAST(bit AS INT)) & 1) AS n_ones
        |      FROM bits GROUP BY 1)
        |SELECT CAST(bit AS BIGINT) AS bit, CAST(n_ones AS BIGINT) AS n_ones,
        | CAST(n_ones * 10000 // n AS BIGINT) AS balance_bp,
        | CAST(abs(n_ones * 2 - n) * 10000 // n AS BIGINT) AS bias_bp
        |FROM g CROSS JOIN nn ORDER BY bit""".stripMargin,

    // split-balance replay: same md5 bucket, same source rollup.
    "q266_split_balance_audit" ->
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
        |FROM b GROUP BY source ORDER BY source""".stripMargin,

    // PMI replay: q88's count CTEs + the same log2 ratio.
    "q267_pmi_collocations" ->
      """WITH tok0 AS (
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
        | QUALIFY w2 IS NOT NULL),
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
        |ORDER BY pmi4 DESC, b.w, b.w2 LIMIT 20""".stripMargin,

    // negative-sampling replay: sqrt(sqrt(c³)) weights on the same
    // integer grid, ppm in the same double chain.
    "q268_negative_sampling" ->
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
        |ORDER BY c DESC, w LIMIT 50""".stripMargin,

    // ROC replay: q246's scored+gate CTEs, the same histogram sweep.
    "q269_proxy_roc" ->
      """WITH tok0 AS (
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
        | QUALIFY w2 IS NOT NULL),
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
        | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |        list_transform(regexp_split_to_array(trim(text), '\s+'),
        |          x -> lower(x)) AS lt
        |       FROM documents WHERE length(trim(text)) > 0)),
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
        |ORDER BY ppl10k_threshold""".stripMargin,

    // attention-contamination replay: q226's running-sum/chunk CTEs
    // crossed with the L spine, same closed-form pair algebra.
    "q270_attention_contamination" ->
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
        |FROM c GROUP BY L ORDER BY context_len""".stripMargin,

    // shard-balance replay: q218's CTEs + the same 1-row rollup.
    "q271_shard_balance" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
        |       END AS BIGINT) AS n_toks,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS rk
        | FROM documents),
        |c AS (SELECT doc_id, n_toks,
        |  coalesce(sum(n_toks) OVER (ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
        | FROM d),
        |g AS (SELECT excl // 25000 AS shard, sum(n_toks) AS st
        |      FROM c GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_shards,
        | CAST(min(st) AS BIGINT) AS min_tokens,
        | CAST(max(st) AS BIGINT) AS max_tokens,
        | CAST(sum(st) AS BIGINT) AS total_tokens,
        | CAST(max(st) * 10000 // (sum(st) // count(*)) AS BIGINT)
        |  AS imbalance_bp
        |FROM g""".stripMargin,

    // burden replay: q251's span CTEs collapsed per doc, then the
    // same source rollup over the train split.
    "q272_contamination_by_source" ->
      """WITH pos AS (
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
        |brk AS (
        | SELECT doc_id, p, e,
        |  max(e) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        | FROM fl),
        |isl AS (
        | SELECT doc_id, p, e,
        |  sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY p) AS island
        | FROM brk),
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
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // exposure replay: distinct window STRINGS both sides (the Spark
    // side hashes — q180's accepted hash-vs-string equivalence).
    "q273_bench_exposure" ->
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
        |FROM bw LEFT JOIN tw ON tw.win = bw.win""".stripMargin,

    // simhash-yield replay: q24's signature CTEs, brute all-pairs ≤ 3
    // (the banded engine path is pigeonhole-complete on that range —
    // DedupSpec proves banded == brute), same spine cumulatives.
    "q274_simhash_yield_curve" ->
      s"""WITH toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
        |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
        |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |   list_sum(list_transform(hs, h -> CASE WHEN
        |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
        | FROM th),
        |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
        |   list_transform(range(63, -1, -1), b ->
        |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
        |   (a, bit) -> a * 2 + bit) AS u FROM votes),
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
        |FROM pc JOIN dc USING (t) ORDER BY hamming_le""".stripMargin,

    // agreement replay: the shared minhash candidate CTEs plus a
    // suffixed simhash chain (CTE names must not collide), full-outer
    // joined on the pair key.
    "q275_dedup_family_agreement" ->
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
        |FROM j""".stripMargin,

    // ablation replay: q208's greedy cumsum crossed with the budget
    // spine (count over the LEFT JOIN counts matched docs only).
    "q276_budget_ablation" ->
      """WITH t AS (SELECT doc_id,
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
        | FROM f),
        |bs AS (SELECT unnest([6000, 12000, 25000, 50000]) AS budget)
        |SELECT CAST(budget AS BIGINT) AS budget,
        | CAST(count(o.doc_id) AS BIGINT) AS n_docs,
        | CAST(sum(o.n_tokens) AS BIGINT) AS sel_tokens,
        | CAST(CASE WHEN count(o.doc_id) > 0 THEN
        |   sum(CAST(round(o.q * 10000) AS BIGINT)) // count(o.doc_id)
        |  END AS BIGINT) AS mean_q4
        |FROM bs LEFT JOIN o ON o.cum <= budget
        |GROUP BY budget ORDER BY budget""".stripMargin,

    // mixture-plan replay: same √u ppm ladder, ceil-div epochs, and
    // divide-first decay (q242 + q249 integer algebra composed).
    "q277_mixture_plan" ->
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
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // spectrum replay: the shared minhash clusters + size histogram.
    "q278_cluster_size_spectrum" ->
      s"""$minhashClusterCteSql,
        |cc AS (SELECT id, min(c) AS cluster_id FROM lbl GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS csz FROM cc GROUP BY 1),
        |nd AS (SELECT count(*) AS nd FROM cc)
        |SELECT CAST(csz AS BIGINT) AS cluster_size,
        | CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(csz * count(*) AS BIGINT) AS n_docs,
        | CAST(csz * count(*) * 1000000 // nd AS BIGINT) AS doc_share_ppm
        |FROM sz CROSS JOIN nd GROUP BY csz, nd ORDER BY cluster_size""".stripMargin,

    // PNG replay: the generator's RGBA formula, alpha channel dropped
    // (ch 3), RGB index p*3+ch re-derived for the weighted checksum —
    // the Spark side earns these numbers by actually inflating and
    // defiltering the IDAT bytes.
    "q279_png_image_stats" ->
      """WITH img AS (
        | SELECT doc_id, doc_id % 12 + 4 AS w, (doc_id * 5) % 12 + 4 AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |v AS (
        | SELECT doc_id, w, h, c % 4 AS ch, c // 4 AS p,
        |  (doc_id * 37 + c * 11) % 256 AS val
        | FROM img, unnest(range(0, CAST(w * h * 4 AS BIGINT))) AS r(c))
        |SELECT doc_id,
        | CAST(max(w) AS BIGINT) AS width,
        | CAST(max(h) AS BIGINT) AS height,
        | CAST(sum(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS sum_r,
        | CAST(sum(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN ch <= 2 THEN val * (p * 3 + ch + 1) ELSE 0 END)
        |   AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // cross-container replay: q234's dHash algebra over the q279 RGBA
    // formula (alpha channel skipped: pixel p channel ch lives at RGBA
    // byte p*4+ch). Both containers carry the same pixels, so each
    // phash group holds exactly one p6 and one png row per doc — the
    // 2×/1×/1× counts below only reproduce if the Spark side's PNG
    // inflate+defilter chain is byte-perfect.
    "q280_cross_container_phash" ->
      """WITH img AS (
        | SELECT doc_id, CAST(doc_id % 12 + 4 AS BIGINT) AS w,
        |        CAST(doc_id * 5 % 12 + 4 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |gr AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_transform(range(0::BIGINT, 9::BIGINT), gx ->
        |    ( ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 0)*11) % 256)
        |    + ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 1)*11) % 256)
        |    + ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 2)*11) % 256)) // 3
        |   )) AS g
        | FROM img),
        |bh AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_sum(list_transform(range(0::BIGINT, 8::BIGINT), gx ->
        |    CASE WHEN g[gy+1][gx+2] > g[gy+1][gx+1] THEN 1<<gx ELSE 0 END))) AS bands
        | FROM gr),
        |hs AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(bands,
        |    b -> printf('%02x', CAST(b AS INT))), '') AS phash
        | FROM bh)
        |SELECT phash, CAST(2 * count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_p6,
        | CAST(count(*) AS BIGINT) AS n_png,
        | min(doc_id) AS rep_doc
        |FROM hs GROUP BY phash ORDER BY phash""".stripMargin,

    // img_stats replay: both containers' channel sums from their
    // generator pixel formulas (P6: (d*31 + i*7) mod 256 over RGB index
    // i; PNG: (d*37 + c*11) mod 256 over RGBA index c, alpha dropped).
    "q281_img_stats_sql" ->
      """WITH d6 AS (
        | SELECT doc_id,
        |  CAST(doc_id % 16 + 4 AS BIGINT) * CAST(doc_id * 7 % 16 + 4
        |    AS BIGINT) AS np
        | FROM documents WHERE doc_id % 3 = 0),
        |p6v AS (
        | SELECT doc_id, unnest(range(0, np)) AS p FROM d6),
        |p6a AS (
        | SELECT sum((doc_id*31 + (p*3+0)*7) % 256) AS sr,
        |        sum((doc_id*31 + (p*3+1)*7) % 256) AS sg,
        |        sum((doc_id*31 + (p*3+2)*7) % 256) AS sb
        | FROM p6v),
        |p6n AS (SELECT count(*) AS n_imgs, sum(np) AS n_pixels FROM d6),
        |dp AS (
        | SELECT doc_id,
        |  CAST(doc_id % 12 + 4 AS BIGINT) * CAST(doc_id * 5 % 12 + 4
        |    AS BIGINT) AS np
        | FROM documents WHERE doc_id % 3 = 0),
        |pgv AS (
        | SELECT doc_id, unnest(range(0, np)) AS p FROM dp),
        |pga AS (
        | SELECT sum((doc_id*37 + (p*4+0)*11) % 256) AS sr,
        |        sum((doc_id*37 + (p*4+1)*11) % 256) AS sg,
        |        sum((doc_id*37 + (p*4+2)*11) % 256) AS sb
        | FROM pgv),
        |pgn AS (SELECT count(*) AS n_imgs, sum(np) AS n_pixels FROM dp)
        |SELECT 'p6' AS container, CAST(n_imgs AS BIGINT) AS n_imgs,
        | CAST(n_pixels AS BIGINT) AS n_pixels, CAST(sr AS BIGINT) AS sum_r,
        | CAST(sg AS BIGINT) AS sum_g, CAST(sb AS BIGINT) AS sum_b
        |FROM p6n CROSS JOIN p6a
        |UNION ALL
        |SELECT 'png', CAST(n_imgs AS BIGINT), CAST(n_pixels AS BIGINT),
        | CAST(sr AS BIGINT), CAST(sg AS BIGINT), CAST(sb AS BIGINT)
        |FROM pgn CROSS JOIN pga
        |ORDER BY container""".stripMargin,

    // gzip replay: the oracle reads the ORIGINAL text — the Spark side
    // only matches if deflate→inflate reproduced every byte.
    "q282_gzip_text_roundtrip" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // detok replay: the full 20-iteration BPE SQL replay gives the
    // piece counts (marker pieces count 1-for-1 with plain pieces); the
    // detok md5 is the md5 of the NORMALIZED original (lowercased,
    // single-space words) — the Spark side earns it through
    // segment→merge→reassemble.
    "q283_bpe_detok_roundtrip" -> bpeTokenizeOracle(20, Some(
      """
        |SELECT dd.doc_id,
        | CAST(len(regexp_split_to_array(trim(dd.seg), '\s+')) AS BIGINT)
        |   AS n_pieces,
        | md5(array_to_string(list_filter(
        |   regexp_split_to_array(trim(lower(doc.text)), '\s+'),
        |   x -> x <> ''), ' ')) AS detok_md5
        |FROM d20 dd JOIN documents doc ON doc.doc_id = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin)),

    // streaming funnel replay: the ONE-SHOT batch run over the streamed
    // third (doc_id % 3 = 0), every frozen artifact derived from the
    // historical corpus (% 3 <> 0). Stage replays are q187 (repetition),
    // q188 (quality), q183's window logic with corp = historical windows
    // and the batch-min rule over ALL streamed docs (≡ probe-then-append
    // over ascending-id days), q189 (3-gram decontamination, eval = the
    // historical % 97 = 0 slice), q191 (DSIR, ratio from history only).
    "q284_streaming_funnel" ->
      """WITH tok0 AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT * FROM tok0 WHERE doc_id % 3 = 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
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
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
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
        |FROM flags ORDER BY doc_id""".stripMargin,

    // byte-grain detok replay: piece counts from the byte-level merge
    // replay; detok md5 = md5 of the CASE-PRESERVING single-space-joined
    // original words — the Spark side earns it byte-for-byte through
    // segment→merge→reassemble→bijection-inverse→UTF-8-decode.
    "q285_byte_bpe_roundtrip" -> bpeByteTokenizeOracle(20,
      """
        |SELECT dd.doc_id,
        | CAST(len(regexp_split_to_array(trim(dd.seg), '\s+')) AS BIGINT)
        |   AS n_pieces,
        | md5(array_to_string(list_filter(
        |   regexp_split_to_array(trim(doc.text), '\s+'),
        |   x -> x <> ''), ' ')) AS detok_md5
        |FROM d20 dd JOIN documents doc ON doc.doc_id = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin),

    // PNG decode-arm replay: every value from the generator formulas —
    // palette indirection, 16-bit high byte (integer // 256), and the
    // Adam7 arm's natural-order bytes (de-interlacing must reproduce
    // them exactly or wsum moves).
    "q286_png_decode_arms" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |pd AS (SELECT doc_id, (doc_id % 10 + 3) AS w,
        |  (doc_id * 3 % 10 + 3) AS h, (2 + doc_id % 14) AS n FROM d),
        |ppx AS (SELECT doc_id, n, p
        | FROM pd, unnest(range(0, w * h)) AS r(p)),
        |pv AS (SELECT doc_id, p,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17) % 256 AS v0,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17 + 5) % 256 AS v1,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17 + 10) % 256 AS v2
        | FROM ppx),
        |pa AS (SELECT doc_id, sum(v0) AS sr, sum(v1) AS sg,
        |  sum(v2) AS sb,
        |  sum(v0*(3*p+1) + v1*(3*p+2) + v2*(3*p+3)) AS ws
        | FROM pv GROUP BY 1),
        |sd AS (SELECT doc_id, (doc_id % 9 + 3) AS w,
        |  (doc_id * 7 % 9 + 3) AS h FROM d),
        |spx AS (SELECT doc_id, s
        | FROM sd, unnest(range(0, w * h * 3)) AS r(s)),
        |sv AS (SELECT doc_id, s,
        |  ((doc_id*37 + s*257) % 65536) // 256 AS v FROM spx),
        |sa AS (SELECT doc_id,
        |  sum(CASE WHEN s % 3 = 0 THEN v ELSE 0 END) AS sr,
        |  sum(CASE WHEN s % 3 = 1 THEN v ELSE 0 END) AS sg,
        |  sum(CASE WHEN s % 3 = 2 THEN v ELSE 0 END) AS sb,
        |  sum(v * (s + 1)) AS ws FROM sv GROUP BY 1),
        |ad AS (SELECT doc_id, (doc_id % 11 + 9) AS w,
        |  (doc_id * 3 % 11 + 9) AS h FROM d),
        |apx AS (SELECT doc_id, c
        | FROM ad, unnest(range(0, w * h * 3)) AS r(c)),
        |av AS (SELECT doc_id, c, (doc_id*41 + c*13) % 256 AS v FROM apx),
        |aa AS (SELECT doc_id,
        |  sum(CASE WHEN c % 3 = 0 THEN v ELSE 0 END) AS sr,
        |  sum(CASE WHEN c % 3 = 1 THEN v ELSE 0 END) AS sg,
        |  sum(CASE WHEN c % 3 = 2 THEN v ELSE 0 END) AS sb,
        |  sum(v * (c + 1)) AS ws FROM av GROUP BY 1)
        |SELECT ad.doc_id, 'adam7' AS arm, CAST(ad.w AS BIGINT) AS width,
        | CAST(ad.h AS BIGINT) AS height, CAST(aa.sr AS BIGINT) AS sum_r,
        | CAST(aa.sg AS BIGINT) AS sum_g, CAST(aa.sb AS BIGINT) AS sum_b,
        | CAST(aa.ws AS BIGINT) AS wsum
        |FROM ad JOIN aa ON aa.doc_id = ad.doc_id
        |UNION ALL
        |SELECT pd.doc_id, 'palette', CAST(pd.w AS BIGINT),
        | CAST(pd.h AS BIGINT), CAST(pa.sr AS BIGINT),
        | CAST(pa.sg AS BIGINT), CAST(pa.sb AS BIGINT), CAST(pa.ws AS BIGINT)
        |FROM pd JOIN pa ON pa.doc_id = pd.doc_id
        |UNION ALL
        |SELECT sd.doc_id, 'rgb16', CAST(sd.w AS BIGINT),
        | CAST(sd.h AS BIGINT), CAST(sa.sr AS BIGINT),
        | CAST(sa.sg AS BIGINT), CAST(sa.sb AS BIGINT), CAST(sa.ws AS BIGINT)
        |FROM sd JOIN sa ON sa.doc_id = sd.doc_id
        |ORDER BY doc_id, arm""".stripMargin,

    // FLAC replay: every value from the wavPayload-family noise formula
    // — the Spark side only matches if encode→decode reproduced every
    // PCM sample in order.
    "q287_flac_roundtrip" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |fd AS (SELECT doc_id, (8000 + (doc_id % 7) * 1000) AS rate,
        |  (1 + doc_id % 2) AS ch,
        |  (1 + doc_id % 2) * (3000 + (doc_id * 17) % 6000) AS ns FROM d),
        |fs AS (SELECT doc_id, j,
        |  (doc_id*31 + j*7919) % 65536 - 32768 AS v
        | FROM fd, unnest(range(0, ns)) AS r(j)),
        |fa AS (SELECT doc_id, sum(v) AS ss, sum(v * (j + 1)) AS ws
        | FROM fs GROUP BY 1)
        |SELECT fd.doc_id, CAST(fd.ch AS BIGINT) AS channels,
        | CAST(fd.rate AS BIGINT) AS rate, CAST(fd.ns AS BIGINT) AS n_samples,
        | CAST(fa.ss AS BIGINT) AS sum_s, CAST(fa.ws AS BIGINT) AS wsum
        |FROM fd JOIN fa ON fa.doc_id = fd.doc_id
        |ORDER BY fd.doc_id""".stripMargin,

    // canonical-URL replay: the oracle computes the canonical key
    // DIRECTLY from the variant generator's formula (doc_id div 4 is
    // the logical page); the Spark side earns the same key by parsing
    // and normalizing the four messy surface forms.
    "q288_url_canonical_dedup" ->
      """WITH c AS (SELECT doc_id, doc_id // 4 AS g FROM documents)
        |SELECT 'http://www.site' || (g % 97) || '.example.com/p/' || g
        |   || '?a=1&b=' || (g % 7) AS canonical_url,
        | CAST(count(*) AS BIGINT) AS n_dups,
        | min(doc_id) AS min_doc_id
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // WARC round-trip: fields read straight off the table — the Spark
    // side must reproduce them through serialize -> concat -> split.
    // Content-Length counts BYTES, so n_bytes is octet_length.
    "q289_warc_roundtrip" ->
      """SELECT doc_id,
        | 'http://docs.example.com/d/' || doc_id AS uri,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // NFC replay via DuckDB's nfc_normalize/strip_accents/lower over
    // the SAME decomposed construction (chr codes are the combining
    // marks: 769 acute, 776 diaeresis, 771 tilde, 807 cedilla,
    // 778 ring above).
    "q290_unicode_normalize" ->
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
        |FROM px ORDER BY doc_id""".stripMargin,

    // registered-domain replay: the oracle computes eTLD+1 from the
    // generator formula; the Spark side earns it by longest-suffix
    // matching the host against a list containing both `uk`/`co.uk`
    // and `io`/`github.io` (shortest-match would change the key).
    "q291_registered_domain" ->
      """WITH h AS (SELECT doc_id, doc_id // 3 AS k,
        |  CAST(doc_id % 3 AS INT) AS v FROM documents),
        |f AS (SELECT doc_id,
        |  (CASE v WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'cdn.a.' END)
        |    || 'site' || (k % 53) || '.' ||
        |    (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'com'
        |      WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
        |      ELSE 'github.io' END) AS host,
        |  'site' || (k % 53) || '.' ||
        |    (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'com'
        |      WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
        |      ELSE 'github.io' END) AS rd
        | FROM h)
        |SELECT rd AS registered_domain,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        | min(doc_id) AS min_doc_id
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // blocklist replay: each pattern counted INDEPENDENTLY by position
    // scan (overlaps and nested matches included) — the semantics the
    // one-pass automaton must reproduce across its failure-output
    // links.
    "q292_blocklist_scan" ->
      """WITH p(pat) AS (VALUES ('scan'), ('can'), ('an'), ('table'),
        |  ('tab'), ('ab'), ('le'), ('order'), ('rde'), ('value'),
        |  ('al'), ('fast sort'), ('zebra')),
        |c AS (SELECT doc_id, pat,
        |  len(list_filter(range(1, length(text) - length(pat) + 2),
        |    i -> substr(text, i, length(pat)) = pat)) AS n
        | FROM documents, p)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_matches,
        | CAST(count(*) FILTER (n > 0) AS BIGINT) AS n_patterns
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // CDC replay: boundary positions are position-independent (no
    // min/max clamps), so the oracle computes them per position with
    // the exact FNV emulation, rebuilds chunks by list indexing, and
    // dedups on chunk content.
    "q293_cdc_chunk_dedup" ->
      s"""$cdcChunkCteSql,
        |g AS (SELECT chunk, count(*) AS c FROM ch GROUP BY 1),
        |per AS (SELECT ch.doc_id, ch.chunk, g.c
        | FROM ch JOIN g ON g.chunk = ch.chunk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(count(*) FILTER (c > 1) AS BIGINT) AS n_dup_chunks,
        | CAST(coalesce(sum(octet_length(encode(chunk)))
        |   FILTER (c > 1), 0) AS BIGINT) AS dup_bytes
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // robots replay: verdicts stated from the path-shape formula (v0
    // no rule matches -> allow; v1 Disallow prefix -> deny; v2 longer
    // Allow beats shorter Disallow -> allow; v3 wildcard+anchor
    // matches -> deny; v4 anchor blocks the suffix -> allow).
    "q294_robots_gate" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT)
        |  WHEN 0 THEN '/public/' || (doc_id // 5)
        |  WHEN 1 THEN '/private/' || (doc_id // 5)
        |  WHEN 2 THEN '/private/public' || (doc_id // 5)
        |  WHEN 3 THEN '/data/' || (doc_id // 5) || '.json'
        |  ELSE '/data/' || (doc_id // 5) || '.json2' END AS path,
        | (CAST(doc_id % 5 AS INT) IN (0, 2, 4)) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // CDC containment replay: distinct chunks per doc, df-capped
    // chunk-equality pairs, shared bytes over own bytes in integer
    // basis points, best partner by (cont_bp DESC, partner ASC) —
    // a total order, so row_number picks the same winner everywhere.
    "q295_cdc_containment" ->
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
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // boilerplate replay: the generator wraps each doc's two word
    // halves in a fixed 5-block page; the oracle states the keep
    // decision per half from its word count (the >= 10 rule; the
    // nav/ads/footer blocks fail it or the link-density rule by
    // construction) and md5s the newline-joined kept text.
    "q296_boilerplate_extract" ->
      """WITH ws AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |h AS (SELECT doc_id, w, len(w) AS n,
        |  (len(w) + 1) // 2 AS k FROM ws),
        |parts AS (SELECT doc_id,
        |  array_to_string(w[1:k], ' ') AS h1,
        |  array_to_string(w[k+1:n], ' ') AS h2,
        |  k, n - k AS k2 FROM h),
        |sel AS (SELECT doc_id,
        |  CASE WHEN k >= 10 AND k2 >= 10 THEN h1 || chr(10) || h2
        |       WHEN k >= 10 THEN h1
        |       WHEN k2 >= 10 THEN h2 ELSE '' END AS kept,
        |  (CASE WHEN k >= 10 THEN 1 ELSE 0 END
        |    + CASE WHEN k2 >= 10 THEN 1 ELSE 0 END) AS n_kept
        | FROM parts)
        |SELECT doc_id, CAST(5 AS BIGINT) AS n_blocks,
        | CAST(n_kept AS BIGINT) AS n_kept, md5(kept) AS kept_md5
        |FROM sel ORDER BY doc_id""".stripMargin,

    // tar replay: fields straight off the table — earned through
    // serialize -> concat -> block-grid split with checksum + octal
    // validation on the Spark side.
    "q297_tar_roundtrip" ->
      """SELECT doc_id,
        | 'docs/doc' || doc_id || '.txt' AS name,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // funnel replay: stage survivors stated from the three parent
    // queries' pinned formulas — url-unique = each div-4 group's min
    // (contiguous ids => doc_id % 4 = 0), robots-allowed = path shape
    // in (0,2,4), content = at least one half clears the 10-word bar;
    // stage-4 bytes are the kept halves joined by newline.
    "q298_crawl_funnel" ->
      """WITH w AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |f AS (SELECT doc_id, text, ws, len(ws) AS n,
        |  (len(ws) + 1) // 2 AS k,
        |  len(ws) - (len(ws) + 1) // 2 AS k2,
        |  doc_id % 4 = 0 AS u1,
        |  (doc_id % 4 = 0)
        |    AND (CAST(doc_id % 5 AS INT) IN (0, 2, 4)) AS u2
        | FROM w),
        |sel AS (SELECT doc_id, u1, u2,
        |  CASE WHEN k >= 10 AND k2 >= 10
        |    THEN array_to_string(ws[1:k], ' ') || chr(10)
        |      || array_to_string(ws[k+1:n], ' ')
        |   WHEN k >= 10 THEN array_to_string(ws[1:k], ' ')
        |   WHEN k2 >= 10 THEN array_to_string(ws[k+1:n], ' ')
        |   ELSE '' END AS kept,
        |  (CASE WHEN k >= 10 THEN 1 ELSE 0 END
        |    + CASE WHEN k2 >= 10 THEN 1 ELSE 0 END) AS n_kept,
        |  octet_length(encode(text)) AS tb
        | FROM f)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS stage, 'fetched' AS name,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) AS n_bytes FROM sel
        | UNION ALL
        | SELECT 2, 'url_unique', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) FROM sel WHERE u1
        | UNION ALL
        | SELECT 3, 'robots_allowed', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) FROM sel WHERE u2
        | UNION ALL
        | SELECT 4, 'content_extracted', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(octet_length(encode(kept))), 0) AS BIGINT)
        | FROM sel WHERE u2 AND n_kept >= 1
        |) ORDER BY stage""".stripMargin,

    // charset replay: the oracle states each arm's decoded string from
    // the generator formula — arm 2/3 append cp1252 " euro rsquo
    // mdash eacute" (chr 8364/8217/8212/233), arm 3 keeps its meta
    // prefix, arm 5 appends curly-quoted q (chr 8220/8221); arms
    // 0/1/4 decode back to the text itself
    "q299_charset_decode" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 6 AS INT)
        |  WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8' WHEN 4 THEN 'utf-16le'
        |  ELSE 'windows-1252' END AS charset,
        | CAST(length(dec) AS BIGINT) AS n_chars,
        | md5(dec) AS text_md5
        |FROM (SELECT doc_id,
        | CASE CAST(doc_id % 6 AS INT)
        |  WHEN 2 THEN text || ' ' || chr(8364) || chr(8217)
        |    || chr(8212) || chr(233)
        |  WHEN 3 THEN '<meta charset="latin1">' || text || ' '
        |    || chr(8364) || chr(8217) || chr(8212) || chr(233)
        |  WHEN 5 THEN text || chr(8220) || 'q' || chr(8221)
        |  ELSE text END AS dec
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // entity replay: all four raw variants of a div-4 group decode to
    // 'doc group G caf(e-acute) & bar'; raw forms stay distinct
    "q300_entity_dedup" ->
      """WITH g AS (SELECT doc_id, doc_id // 4 AS g FROM documents)
        |SELECT md5('doc group ' || CAST(g AS VARCHAR) || ' caf'
        |   || chr(233) || ' & bar') AS content_md5,
        | count(*) AS n_dups,
        | CAST(count(DISTINCT CAST(doc_id % 4 AS INT)) AS BIGINT)
        |   AS n_raw_forms,
        | min(doc_id) AS min_doc_id
        |FROM g GROUP BY g ORDER BY min_doc_id""".stripMargin,

    // sitemap replay: every host advertises pages 0-8 (9 urls via the
    // two children); the crawl holds the host's ACTUAL docs with
    // j in {0..5, 9}; both = advertised AND crawled = docs with j<=5
    "q301_sitemap_coverage" ->
      """WITH docs AS (SELECT doc_id, doc_id // 10 AS h,
        |  CAST(doc_id % 10 AS INT) AS j FROM documents),
        |hosts AS (SELECT DISTINCT h FROM docs),
        |cr AS (SELECT h, j FROM docs WHERE j <= 5 OR j = 9),
        |agg AS (SELECT h, count(*) AS n_crawled,
        |  count(*) FILTER (WHERE j <= 5) AS n_both,
        |  count(*) FILTER (WHERE j = 9) AS n_crawl_only
        | FROM cr GROUP BY h)
        |SELECT hosts.h AS host_id,
        | CAST(9 AS BIGINT) AS n_advertised,
        | CAST(coalesce(agg.n_crawled, 0) AS BIGINT) AS n_crawled,
        | CAST(coalesce(agg.n_both, 0) AS BIGINT) AS n_both,
        | CAST(9 - coalesce(agg.n_both, 0) AS BIGINT) AS n_sitemap_only,
        | CAST(coalesce(agg.n_crawl_only, 0) AS BIGINT) AS n_crawl_only,
        | '2024-01-09' AS last_lastmod
        |FROM hosts LEFT JOIN agg ON hosts.h = agg.h
        |ORDER BY host_id""".stripMargin,

    // decode-chain replay: content stated from the generator formula —
    // cp1252 0x80/0x92 AND the entity refs both land as the final
    // unicode punctuation; the nav block never reaches the content
    "q302_decode_chain" ->
      """WITH c AS (SELECT doc_id,
        |  text || ' caf' || chr(233) || ' & bar ' || chr(8220) || 'ok'
        |    || chr(8221) || ' ' || chr(8364) || chr(8217) AS content
        | FROM documents)
        |SELECT doc_id, CAST(1 AS BIGINT) AS n_kept,
        | CAST(length(content) AS BIGINT) AS n_chars,
        | md5(content) AS content_md5,
        | md5(lower(strip_accents(nfc_normalize(content)))) AS fold_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // directives replay: counts/values stated from the generator —
    // global sitemap collection order, per-group delay selection, the
    // two permission verdicts
    "q303_robots_directives" ->
      """WITH hosts AS (SELECT DISTINCT doc_id // 5 AS h FROM documents)
        |SELECT h AS host_id,
        | CAST(CASE WHEN h % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |   AS n_sitemaps,
        | 'https://s' || CAST(h AS VARCHAR) || '.example.com/sitemap.xml'
        |   AS first_sitemap,
        | CAST(1500 AS BIGINT) AS bot_delay_ms,
        | CAST(10000 AS BIGINT) AS other_delay_ms,
        | true AS bot_allowed,
        | false AS other_allowed
        |FROM hosts ORDER BY host_id""".stripMargin,

    // redirect replay: arm a in 1..3 walks a hops down to the group
    // terminal; arm 4 is a self-loop -> NULL + unresolved
    "q304_redirect_resolve" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS a
        |  FROM documents)
        |SELECT doc_id,
        | CASE WHEN a = 4 THEN NULL ELSE doc_id - a END AS final_id,
        | a = 4 AS unresolved
        |FROM d ORDER BY doc_id""".stripMargin,

    // schedule replay: per-host serial slots at the host's delay,
    // merged into 1-second waves
    "q305_fetch_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id // 10 AS h,
        |  ((doc_id // 10) % 4 + 1) * 500 AS delay_ms FROM documents),
        |r AS (SELECT h, (row_number() OVER
        |  (PARTITION BY h ORDER BY doc_id) - 1) * delay_ms AS start_ms
        | FROM d)
        |SELECT start_ms // 1000 AS wave,
        | count(*) AS n_fetches,
        | CAST(count(DISTINCT h) AS BIGINT) AS n_hosts
        |FROM r GROUP BY 1 ORDER BY wave""".stripMargin,

    // identity replay: arms 0-3 of a group share one canonical key
    // (the terminal page's canonical URL); arm 4 quarantines as NULL
    "q306_frontier_identity" ->
      """WITH d AS (SELECT doc_id, doc_id // 5 AS g,
        |  CAST(doc_id % 5 AS INT) AS a FROM documents)
        |SELECT * FROM (
        | SELECT 'http://www.site' || CAST(g % 53 AS VARCHAR)
        |   || '.example.com/p/' || CAST(g AS VARCHAR) || '?a=1'
        |   AS canonical_url,
        |  count(*) AS n_merged, min(doc_id) AS min_doc_id
        | FROM d WHERE a <= 3 GROUP BY g
        | UNION ALL
        | SELECT NULL, count(*), min(doc_id) FROM d WHERE a = 4
        |) ORDER BY canonical_url""".stripMargin,

    // envelope replay: statuses/framing/decoded content stated from
    // the generator arms — arm 2's body is empty, arm 3's cp1252
    // bytes decode to the euro/rsquo punctuation, arms 0/1 carry the
    // document text through either framing unchanged
    "q307_http_envelope" ->
      """SELECT doc_id,
        | CAST(CASE CAST(doc_id % 4 AS INT) WHEN 2 THEN 301
        |   WHEN 3 THEN 404 ELSE 200 END AS INT) AS status,
        | doc_id % 4 = 1 AS chunked,
        | CASE WHEN doc_id % 4 = 2 THEN 'http://www.example.com/final/'
        |   || CAST(doc_id // 4 AS VARCHAR) END AS location,
        | CASE WHEN doc_id % 4 = 3 THEN 'windows-1252'
        |   ELSE 'utf-8' END AS charset,
        | CAST(length(dec) AS BIGINT) AS n_chars,
        | md5(dec) AS content_md5
        |FROM (SELECT doc_id,
        | CASE CAST(doc_id % 4 AS INT)
        |  WHEN 2 THEN ''
        |  WHEN 3 THEN 'not found ' || chr(8364) || chr(8217)
        |  ELSE text END AS dec
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // frontier replay: each link's resolved+canonical form stated from
    // the RFC 3986 merge rules and the canon rules the parent specs
    // pin (lowercased host, default port stripped, fragment dropped,
    // params sorted); only the /private/ link is robots-blocked
    "q308_outlink_frontier" ->
      """WITH d AS (SELECT doc_id,
        |  'http://www.site' || CAST(doc_id % 31 AS VARCHAR)
        |    || '.example.com' AS h FROM documents),
        |l AS (
        | SELECT doc_id, 1 AS link_no, h || '/a/b/c/d.html' AS url,
        |   true AS allowed FROM d
        | UNION ALL SELECT doc_id, 2, h || '/a/up.html', true FROM d
        | UNION ALL SELECT doc_id, 3, h || '/rooted?a=1&b=2', true FROM d
        | UNION ALL SELECT doc_id, 4, 'http://cdn.example.com/lib.js',
        |   true FROM d
        | UNION ALL SELECT doc_id, 5, 'https://abs.example.com/y',
        |   true FROM d
        | UNION ALL SELECT doc_id, 6, h || '/a/b/page.html?q='
        |   || CAST(doc_id AS VARCHAR), true FROM d
        | UNION ALL SELECT doc_id, 7, h || '/private/p'
        |   || CAST(doc_id AS VARCHAR), false FROM d)
        |SELECT doc_id, CAST(link_no AS INT) AS link_no, url, allowed
        |FROM l ORDER BY doc_id, link_no""".stripMargin,

    // planner replay: per group, arms 0-2 merge to one /p/ page and
    // arm 3 is one blocked /private/ page (arm 4 quarantines), so a
    // host with n groups has 2n candidates, n allowed, n blocked;
    // slots step by the host's delay, so makespan = (n-1)*delay and
    // the wave count is the distinct count of (slot-1)*delay // 1000
    "q309_frontier_planner" ->
      """WITH grp AS (SELECT DISTINCT doc_id // 5 AS g,
        |  (doc_id // 5) % 7 AS k FROM documents),
        |h AS (SELECT k, count(*) AS n FROM grp GROUP BY k)
        |SELECT k AS host_id,
        | CAST(2 * n AS BIGINT) AS n_candidates,
        | CAST(n AS BIGINT) AS n_allowed,
        | CAST(n AS BIGINT) AS n_blocked,
        | CAST((k % 4 + 1) * 500 AS BIGINT) AS delay_ms,
        | CAST((n - 1) * (k % 4 + 1) * 500 AS BIGINT) AS makespan_ms,
        | CAST(len(list_distinct(list_transform(range(0, n),
        |   s -> (s * (k % 4 + 1) * 500) // 1000))) AS BIGINT) AS n_waves
        |FROM h ORDER BY host_id""".stripMargin,

    // recrawl replay: stale iff lastmod day j+1 exceeds fetch day
    // (j%3)*3+2 (j in {3,6,7,8,9}); slots rank lastmod DESC per host,
    // waves step by the host's delay
    "q310_recrawl_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id // 10 AS h,
        |  CAST(doc_id % 10 AS INT) AS j FROM documents),
        |st AS (SELECT doc_id, h, j FROM d
        |  WHERE j + 1 > (j % 3) * 3 + 2),
        |r AS (SELECT doc_id, h, j, row_number() OVER
        |  (PARTITION BY h ORDER BY j DESC, doc_id) AS slot FROM st)
        |SELECT doc_id, h AS host_id,
        | '2024-01-' || lpad(CAST(j + 1 AS VARCHAR), 2, '0') AS lastmod,
        | CAST(slot AS BIGINT) AS slot,
        | ((slot - 1) * (h % 4 + 1) * 500) // 1000 AS wave
        |FROM r ORDER BY doc_id""".stripMargin,

    // round replay: host k's discoveries are its own pages' self/new/
    // blocked links plus the neighbor host's ext links; the self link
    // collapses onto the crawl state (known), the new set schedules
    // at the host's delay
    "q311_frontier_round" ->
      """WITH d AS (SELECT doc_id, doc_id % 13 AS k FROM documents),
        |c AS (SELECT k, count(*) AS n FROM d GROUP BY k),
        |j AS (SELECT a.k, a.n AS n_own, coalesce(b.n, 0) AS n_ext
        |  FROM c a LEFT JOIN c b ON b.k = (a.k + 12) % 13)
        |SELECT k AS host_id,
        | CAST(3 * n_own + n_ext AS BIGINT) AS n_discovered,
        | CAST(n_own AS BIGINT) AS n_known,
        | CAST(n_own AS BIGINT) AS n_new_blocked,
        | CAST(n_own + n_ext AS BIGINT) AS n_new_allowed,
        | CAST((n_own + n_ext - 1) * (k % 4 + 1) * 500 AS BIGINT)
        |   AS makespan_ms
        |FROM j ORDER BY host_id""".stripMargin,

    // location replay: arms 0-2 land on the group terminal (doc 4g =
    // doc_id - a), the self-Location arm quarantines
    "q312_location_redirects" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN a = 0 THEN 200 ELSE 301 END AS INT) AS status,
        | CASE WHEN a = 3 THEN NULL ELSE
        |  'http://www.h' || CAST(g % 11 AS VARCHAR) || '.example.com/u/'
        |    || CAST(doc_id - a AS VARCHAR) END AS final_url,
        | a = 3 AS unresolved
        |FROM d ORDER BY doc_id""".stripMargin,

    // priority replay: edges from the link formula (arms 1-4 -> hub
    // 5g, hub -> 5g+1), two fixed-point iterations in exact integer
    // arithmetic (the q125 replay shape), then the global priority
    // rank
    "q313_frontier_priority" ->
      """WITH d AS (SELECT doc_id, doc_id // 5 AS g,
        |  CAST(doc_id % 5 AS INT) AS a FROM documents),
        |edges AS (
        | SELECT doc_id AS src, g * 5 AS dst FROM d WHERE a >= 1
        | UNION ALL
        | SELECT doc_id, doc_id + 1 FROM d WHERE a = 0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 // (SELECT n FROM nn)
        |  AS BIGINT) AS pr FROM nodes),
        |tp AS (SELECT CAST(((1000000000000 // (SELECT n FROM nn)) * 15)
        |  // 100 AS BIGINT) AS t),
        |r1 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r0 r ON e.src = r.id
        |   JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id),
        |r2 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r1 r ON e.src = r.id
        |   JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id)
        |SELECT id, pr,
        | CAST(row_number() OVER (ORDER BY pr DESC, id) AS BIGINT)
        |   AS priority
        |FROM r2 ORDER BY id""".stripMargin,

    // revalidation replay: outcome and final content per arm
    "q314_conditional_revalidation" ->
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 304 ELSE 200 END AS INT)
        |   AS status,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'revalidated'
        |   WHEN 1 THEN 'updated' ELSE 'wasted' END AS outcome,
        | md5(CASE WHEN doc_id % 3 = 1 THEN text || ' v2' ELSE text END)
        |   AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dispatch replay: per-modality stats from the generator formulas
    "q315_content_dispatch" ->
      """WITH d AS (SELECT doc_id, text,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents)
        |SELECT doc_id,
        | CASE a WHEN 0 THEN 'text/html; charset=utf-8'
        |  WHEN 1 THEN 'image/x-portable-pixmap'
        |  WHEN 2 THEN 'audio/wav'
        |  ELSE 'application/octet-stream' END AS content_type,
        | CASE a WHEN 0 THEN 'text' WHEN 1 THEN 'image'
        |  WHEN 2 THEN 'audio' ELSE 'unknown' END AS kind,
        | CAST(CASE a WHEN 0 THEN length(text)
        |  WHEN 1 THEN (2 + doc_id % 3) * 2
        |  WHEN 2 THEN 4 END AS BIGINT) AS units,
        | CAST(CASE a WHEN 0 THEN 0 WHEN 1 THEN doc_id % 256
        |  WHEN 2 THEN doc_id % 100 END AS BIGINT) AS value,
        | CASE WHEN a = 0 THEN md5(text) END AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,

    // encoding replay: gzip and identity arms carry the text through,
    // the lying-header arm quarantines NULL
    "q316_content_encoding" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 1 THEN 'identity' ELSE 'gzip' END
        |   AS encoding,
        | doc_id % 3 <> 2 AS decoded,
        | CASE WHEN doc_id % 3 <> 2 THEN CAST(length(text) AS BIGINT) END
        |   AS n_chars,
        | CASE WHEN doc_id % 3 <> 2 THEN md5(text) END AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q317_training_shards" ->
      """WITH corpus AS (
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
        |toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM inj WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
        |rep AS (
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
        | FROM toks),
        |gated AS (SELECT i.doc_id, i.text FROM inj i
        | JOIN rep ON rep.doc_id = i.doc_id
        | JOIN qual ON qual.doc_id = i.doc_id
        | WHERE rep.k1 AND qual.k2),
        |scrub AS (SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
        | CAST(length(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + length(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
        |  + length(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_pii
        | FROM gated),
        |kept AS (SELECT doc_id, n_pii, clean FROM (
        |  SELECT doc_id, n_pii, clean,
        |   row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
        |  FROM scrub) WHERE rn = 1),
        |d AS (SELECT doc_id, n_pii,
        |  CAST(CASE WHEN length(trim(clean)) = 0 THEN 0
        |    ELSE array_length(regexp_split_to_array(trim(clean), '\s+'))
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
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q319_web_to_shards" ->
      """WITH corpus AS (
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
        |toks AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    x -> lower(x)) AS lt
        | FROM inj WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
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
        | FROM g3 GROUP BY 1),
        |rep AS (
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
        | FROM toks),
        |gated AS (SELECT i.doc_id, i.text FROM inj i
        | JOIN rep ON rep.doc_id = i.doc_id
        | JOIN qual ON qual.doc_id = i.doc_id
        | WHERE rep.k1 AND qual.k2),
        |scrub AS (SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
        | CAST(length(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + length(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
        |  + length(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_pii
        | FROM gated),
        |kept AS (SELECT doc_id, n_pii, clean FROM (
        |  SELECT doc_id, n_pii, clean,
        |   row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn
        |  FROM scrub) WHERE rn = 1),
        |d AS (SELECT doc_id, n_pii,
        |  CAST(CASE WHEN length(trim(clean)) = 0 THEN 0
        |    ELSE array_length(regexp_split_to_array(trim(clean), '\s+'))
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
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q320_incremental_shards" ->
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
        |FROM u GROUP BY 1, 2 ORDER BY shard""".stripMargin,

    "q318_context_windows" ->
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
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    // CDX replay: every member's byte extent restated from the WARC
    // framing arithmetic — 104 fixed framing bytes (magic + 3 fixed
    // headers + separators + trailing CRLFCRLF) plus the id digits,
    // the uri length, the Content-Length digits, and the payload
    // itself; offsets are the running sum. The urlkey states the SURT
    // collapse: both /p/ spellings key identically.
    "q321_cdx_index" ->
      """WITH m AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |   octet_length(encode(text)) AS pl0, text
        | FROM documents),
        |l AS (
        | SELECT g, n, text, pl0,
        |  104 + length(CAST(g*3 AS VARCHAR))
        |      + length('https://www.site' || n || '.example.com:443/p/'
        |          || CAST(g AS VARCHAR) || '?b=2&a=1')
        |      + length(CAST(pl0 AS VARCHAR)) + pl0 AS len0,
        |  104 + length(CAST(g*3+1 AS VARCHAR))
        |      + length('http://site' || n || '.example.com/p/'
        |          || CAST(g AS VARCHAR) || '?a=1&b=2')
        |      + length(CAST(pl0+3 AS VARCHAR)) + pl0 + 3 AS len1,
        |  104 + length(CAST(g*3+2 AS VARCHAR))
        |      + length('https://site' || n || '.example.com/q/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(6 + length(CAST(g AS VARCHAR)) AS VARCHAR))
        |      + 6 + length(CAST(g AS VARCHAR)) AS len2
        | FROM m),
        |x AS (SELECT unnest([0, 1, 2]) AS k)
        |SELECT g*3 + k AS cdx_id,
        | CASE WHEN k = 2
        |   THEN 'com,example,site' || n || ')/q/' || CAST(g AS VARCHAR)
        |   ELSE 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |     || '?a=1&b=2' END AS urlkey,
        | CAST(CASE k WHEN 0 THEN 0 WHEN 1 THEN len0
        |   ELSE len0 + len1 END AS BIGINT) AS rec_offset,
        | CAST(CASE k WHEN 0 THEN len0 WHEN 1 THEN len1
        |   ELSE len2 END AS BIGINT) AS rec_len,
        | CASE k WHEN 0 THEN md5(text) WHEN 1 THEN md5(text || ' v2')
        |   ELSE md5('other ' || CAST(g AS VARCHAR)) END AS digest
        |FROM l, x
        |ORDER BY cdx_id""".stripMargin,

    // latest/revisit replay: the /p/ key always has 2 captures whose
    // second is a revisit exactly when g%3=0 (payload unchanged); the
    // /q/ key has one capture, never a revisit.
    "q322_cdx_latest" ->
      """WITH m AS (SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  text FROM documents)
        |SELECT 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |   || '?a=1&b=2' AS urlkey,
        | CAST(2 AS BIGINT) AS n_captures,
        | CAST(CASE WHEN g % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |   AS n_revisits,
        | g*3 + 1 AS latest_id,
        | CASE WHEN g % 3 = 0 THEN md5(text)
        |   ELSE md5(text || ' v2') END AS latest_digest
        |FROM m
        |UNION ALL
        |SELECT 'com,example,site' || n || ')/q/' || CAST(g AS VARCHAR),
        | CAST(1 AS BIGINT), CAST(0 AS BIGINT), g*3 + 2,
        | md5('other ' || CAST(g AS VARCHAR))
        |FROM m
        |ORDER BY urlkey""".stripMargin,

    // epoch-delta replay: membership and digests stated from the
    // generator arms — a=4 absent from epoch 1 (new), a=0 absent from
    // epoch 2 (gone), a=1 re-captured with changed content.
    "q323_crawl_delta" ->
      """WITH d AS (SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text FROM documents)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CASE WHEN a = 4 THEN NULL ELSE md5(text) END AS e1_digest,
        | CASE WHEN a = 0 THEN NULL WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS e2_digest,
        | CASE WHEN a = 4 THEN 'new' WHEN a = 0 THEN 'gone'
        |   WHEN a = 1 THEN 'changed' ELSE 'unchanged' END AS status
        |FROM d ORDER BY urlkey""".stripMargin,

    // anchor-index replay: each doc's four anchors restated as
    // (target, text) contributions — t gets 'next page'+'continue'
    // from t-1 (the utm spelling collapses onto the same key),
    // 'skip & go' from t-2, 'bold link' from t-3.
    "q324_anchor_index" ->
      """WITH d AS (SELECT doc_id AS g FROM documents),
        |c AS (
        | SELECT g, g + 1 AS t, 'next page' AS txt FROM d
        | UNION ALL SELECT g, g + 1, 'continue' FROM d
        | UNION ALL SELECT g, g + 2, 'skip & go' FROM d
        | UNION ALL SELECT g, g + 3, 'bold link' FROM d)
        |SELECT 'com,example)/p/' || CAST(t AS VARCHAR) AS urlkey,
        | count(*) AS n_anchors,
        | CAST(count(DISTINCT g) AS BIGINT) AS n_linkers,
        | string_agg(DISTINCT txt, '|' ORDER BY txt) AS texts
        |FROM c GROUP BY t ORDER BY urlkey""".stripMargin,

    // archive-section replay: member lengths from the WARC framing
    // arithmetic, offsets as per-shard running sums in id order (the
    // packing order the generator uses), site-7 membership from the
    // uri formula. The Spark side reads these THROUGH the connector's
    // sidecar + seek path; this restates them from documents alone.
    "q325_archive_section" ->
      """WITH m AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |   CAST(doc_id % 16 AS INT) AS shard,
        |   octet_length(encode(text)) AS pl, text
        | FROM documents),
        |l AS (
        | SELECT g, n, shard, pl, text,
        |  104 + length(CAST(g AS VARCHAR))
        |      + length('https://site' || n || '.example.com/p/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(pl AS VARCHAR)) + pl AS len
        | FROM m),
        |o AS (
        | SELECT g, n, len, text,
        |  COALESCE(SUM(len) OVER (PARTITION BY shard ORDER BY g
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS rec_offset
        | FROM l)
        |SELECT g AS doc_id,
        | 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CAST(rec_offset AS BIGINT) AS rec_offset,
        | CAST(len AS BIGINT) AS rec_len,
        | md5(text) AS body_md5
        |FROM o WHERE n = '7'
        |ORDER BY doc_id""".stripMargin,

    // negotiation replay: arms 0-2 decode to the text, the corrupt
    // frame and the zstd-under-gzip-header arm both NULL out.
    "q326_encoding_negotiation" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT)
        |  WHEN 1 THEN 'gzip' WHEN 4 THEN 'gzip'
        |  WHEN 2 THEN 'identity' ELSE 'zstd' END AS encoding,
        | CAST(doc_id % 5 AS INT) <= 2 AS decoded,
        | CASE WHEN CAST(doc_id % 5 AS INT) <= 2
        |   THEN CAST(length(text) AS BIGINT) ELSE NULL END AS n_chars,
        | CASE WHEN CAST(doc_id % 5 AS INT) <= 2
        |   THEN md5(text) ELSE NULL END AS content_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // refresh replay: status arms from the q323 formula; the next
    // latest state keeps the epoch-1 id for unchanged (the 304 —
    // nothing appended), takes the offset-appended id for
    // new/changed, and tombstones gone with NULLs.
    "q327_archive_refresh" ->
      """WITH d AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text FROM documents)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CASE WHEN a = 4 THEN 'new' WHEN a = 0 THEN 'gone'
        |   WHEN a = 1 THEN 'changed' ELSE 'unchanged' END AS status,
        | a IN (4, 1) AS fetched,
        | CASE WHEN a = 0 THEN NULL
        |   WHEN a IN (4, 1) THEN g + 10000000 ELSE g END AS latest_id,
        | CASE WHEN a = 0 THEN NULL
        |   WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS latest_digest
        |FROM d ORDER BY urlkey""".stripMargin,

    // WET replay: conversion text stated from the generator formula
    // (nav dropped by link density, the <p> block kept verbatim,
    // entities decoded) — the Spark side reads it back out of
    // round-tripped conversion members.
    "q328_wet_derivation" ->
      """WITH c AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  text || ' x & y' AS content FROM documents)
        |SELECT g AS doc_id,
        | 'https://site' || n || '.example.com/p/' || CAST(g AS VARCHAR)
        |   AS uri,
        | CAST(length(content) AS BIGINT) AS n_chars,
        | md5(content) AS text_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // change-rate replay: the four deterministic patterns (never /
    // always / once / twice) state n_changes directly.
    "q329_change_rate" ->
      """WITH d AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents),
        |c AS (SELECT g, n,
        |  CASE a WHEN 0 THEN 0 WHEN 1 THEN 3 WHEN 2 THEN 1
        |    ELSE 2 END AS n_changes
        | FROM d)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CAST(4 AS BIGINT) AS n_captures,
        | CAST(n_changes AS BIGINT) AS n_changes,
        | CAST(n_changes * 10000 // 3 AS BIGINT) AS rate_bp,
        | CASE WHEN n_changes >= 2 THEN 'hot'
        |   WHEN n_changes = 1 THEN 'warm' ELSE 'cold' END AS bucket
        |FROM c ORDER BY urlkey""".stripMargin,

    // param-mining replay: per host with cnt pages, `sid` yields two
    // clean varying groups per page (p=1 and p=2 contexts), `p` one
    // dirty varying group (only sid=aaa pairs across p values).
    "q330_param_mining" ->
      """WITH h AS (SELECT CAST(doc_id % 50 AS BIGINT) AS host,
        |  count(*) AS cnt FROM documents GROUP BY 1)
        |SELECT host, 'p' AS param, CAST(cnt AS BIGINT) AS n_varying,
        | CAST(0 AS BIGINT) AS n_clean, false AS strippable FROM h
        |UNION ALL
        |SELECT host, 'sid', CAST(2 * cnt AS BIGINT),
        | CAST(2 * cnt AS BIGINT), true FROM h
        |ORDER BY host, param""".stripMargin,

    // repack replay: kept set = non-tombstoned pages at their latest
    // capture; every post-repack extent restated from the framing
    // arithmetic with offsets as per-shard (g%8) running sums in
    // kept-id order — the order repack packs.
    "q331_archive_repack" ->
      """WITH k AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text,
        |  octet_length(encode(text)) AS pl0
        | FROM documents WHERE CAST(doc_id % 5 AS INT) <> 0),
        |m AS (
        | SELECT g, n, a, text,
        |  CASE WHEN a IN (1, 4) THEN g + 10000000 ELSE g END AS kept_id,
        |  CASE WHEN a = 1 THEN pl0 + 3 ELSE pl0 END AS pl
        | FROM k),
        |l AS (
        | SELECT g, n, a, text, kept_id, pl,
        |  104 + length(CAST(kept_id AS VARCHAR))
        |      + length('https://site' || n || '.example.com/d/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(pl AS VARCHAR)) + pl AS len
        | FROM m),
        |o AS (
        | SELECT g, n, a, text, kept_id, len,
        |  COALESCE(SUM(len) OVER (PARTITION BY g % 8 ORDER BY kept_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS rec_offset
        | FROM l)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | kept_id,
        | CAST(rec_offset AS BIGINT) AS rec_offset,
        | CAST(len AS BIGINT) AS rec_len,
        | CASE WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS digest
        |FROM o ORDER BY kept_id""".stripMargin,
  )
}
