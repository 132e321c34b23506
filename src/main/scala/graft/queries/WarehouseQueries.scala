package graft
package queries

import graft.dedup.Dedup
import graft.dims.{CoalesceMerge, Scd2}
import graft.enrich.Geocode
import graft.graph.Graph
import graft.operators.Skyline
import graft.parse.Parsers
import graft.parse.Parsers.cents
import graft.pipeline.{Pipeline, SyntheticStaging}
import graft.plans.{AsOfJoin, RangeJoin, SpatialJoin}
import graft.serve.Serving
import graft.text.TextFunctions
import graft.vector.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Warehouse queries: the relational core, the loader's parse / merge /
  * quarantine stages, joins (as-of, range, spatial, salted, bucketed),
  * the SQL surface, stored sketches, storage layouts and the corpus-grain
  * versioning and data-quality checks. */
private[graft] object WarehouseQueries {

  /** Typed row for the q110 Dataset-API demonstration. */
  final case class DocRow(doc_id: Long, source: String, n_chars: Long)

  /** The 256-bin histogram-quantile sketch over `events.value` in
    * [0, 500): per-type bin counts, cumulative counts and the first bin
    * `hit` reaching rank ceil(q * n) for q in {0.5, 0.95}. */
  private lazy val histQuantileCteSql: String =
    """params AS (SELECT 0.0 AS lo, 500.0 AS hi, 256 AS bins),
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
      | FROM ranked WHERE cumc >= rank)""".stripMargin

  /** Each purchase joined to the user's latest view at or before it
    * (ties on the timestamp keep the highest view id). */
  private lazy val asofLastViewSql: String =
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
      |ORDER BY p.p_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- relational core (SURVEY §2.4, §2.5) ----
    QuerySpec("q01_pricing_summary", (s, d) => {
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
    }, oracle =
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
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q02_top_customers", (s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(10)
    }, oracle =
      """SELECT c_custkey, c_name,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 10""".stripMargin),

    QuerySpec("q03_region_rollup", (s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_revenue_cents"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracle =
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_revenue_cents
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    QuerySpec("q04_inactive_customers", (s, d) => {
      // anti-join: customers with no high-value order (A4/J3 existence
      // check shape — left_anti replaces the reference's per-row
      // SELECT-then-INSERT exists test)
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("n_name"))
    }, oracle =
      """SELECT n_name, count(*) AS n_inactive
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    QuerySpec("q05_parts_in_lineitem", (s, d) => {
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
    }, oracle =
      """SELECT p_brand, count(*) AS n_parts,
        | CAST(floor(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |   * 1 / count(*) + 0.5) AS BIGINT) AS avg_price_cents
        |FROM part WHERE p_size > 30
        | AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // ---- dedup by natural key (D3) ----
    QuerySpec("q06_dedup_natural_key", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("kept_event_id"),
          unix_micros(col("ts")).as("kept_us"))
        .orderBy(col("user_id"), col("event_type"))
    }, oracle =
      """SELECT user_id, event_type, event_id AS kept_event_id, epoch_us(ts) AS kept_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts), event_id) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // ---- aggregations (A-agg3) ----
    QuerySpec("q09_per_date_counts", (s, d) => Serving.perDateCounts(Tables.events(s, d)), oracle =
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin),

    // ---- TTL tiers (C5) ----
    QuerySpec("q10_ttl_tiers", (s, d) => {
      Tables.events(s, d)
        .withColumn("ttl_s", Parsers.ttlSeconds(to_date(col("ts")), to_date(lit(Today))))
        .groupBy(col("ttl_s")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("ttl_s"))
    }, oracle =
      """SELECT CAST(CASE WHEN dd < 0 THEN 604800 WHEN dd = 0 THEN 3600
        |  WHEN dd <= 7 THEN 43200 ELSE 86400 END AS BIGINT) AS ttl_s,
        | count(*) AS n_events
        |FROM (SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd
        |      FROM events)
        |GROUP BY ttl_s ORDER BY ttl_s""".stripMargin),

    // ---- bucketing (P8) ----
    QuerySpec("q11_price_bucket", (s, d) => {
      t(s, d, "orders")
        .withColumn("bucket", Parsers.capacityBucket(col("o_totalprice") / 1000.0))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_price_cents"))
        .orderBy(col("bucket"))
    }, oracle =
      """SELECT CASE WHEN o_totalprice / 1000.0 < 100 THEN 'intimate'
        |  WHEN o_totalprice / 1000.0 < 500 THEN 'medium' ELSE 'large' END AS bucket,
        | count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_price_cents
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin),

    // ---- upsert merge with COALESCE rules (A2/A1, D3) ----
    QuerySpec("q12_merge_coalesce", (s, d) => {
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
    }, oracle =
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
        |ORDER BY c_custkey""".stripMargin),

    // ---- distinct via explode (D2) ----
    QuerySpec("q13_distinct_tokens", (s, d) => {
      t(s, d, "part")
        .select(explode(split(col("p_type"), " ")).as("word"))
        .distinct().orderBy(col("word"))
    }, oracle =
      """SELECT word FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin),

    // ---- S3-key date-extract regex cascade (P9) ----
    QuerySpec("q14_key_date_extract", (s, d) => {
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
    }, oracle =
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
        |FROM k ORDER BY o_orderkey""".stripMargin),

    // ---- embedding-text composition (M2/M3 + P8) ----
    QuerySpec("q15_embed_text_compose", (s, d) => {
      t(s, d, "part")
        .withColumn("embed_text", Parsers.composeEmbedText(Seq(
          "" -> col("p_name"),
          "Type" -> col("p_type"),
          "Brand" -> col("p_brand"),
          "Size" -> Parsers.capacityBucket(col("p_size") * 10))))
        .select(col("p_partkey"), col("embed_text"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey,
        | concat_ws('. ', p_name, 'Type: ' || p_type, 'Brand: ' || p_brand,
        |   'Size: ' || CASE WHEN p_size * 10 < 100 THEN 'intimate'
        |     WHEN p_size * 10 < 500 THEN 'medium' ELSE 'large' END) AS embed_text
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- full loader pipeline end-to-end (§3.3: P10→A1→A2→A3→J2/J3→A4) ----
    QuerySpec("q28_pipeline_e2e", (s, d) => {
      val staged = SyntheticStaging.fromOrders(s, d)
      val w = Pipeline.run(s, staged, Pipeline.emptyWarehouse(s), today = Today)
      w.events.select(col("wwoz_event_href"), col("artist_name"),
          col("venue_name"), col("description"),
          unix_micros(col("performance_time")).as("perf_us"))
        .orderBy(col("wwoz_event_href"))
    }, oracle =
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
        |ORDER BY wwoz_event_href""".stripMargin),

    // ---- rollup (free from Spark SQL; §2.5 note) ----
    QuerySpec("q29_rollup", (s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_revenue_cents"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }, oracle =
      """SELECT r_name, n_name, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_revenue_cents
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    // ---- set operations (§2.7) ----
    QuerySpec("q30_setops", (s, d) => {
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
    }, oracle =
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
        |ORDER BY user_id""".stripMargin),

    // ---- as-of join (point-in-time enrichment) ----
    QuerySpec("q31_asof_join", (s, d) => {
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
    }, oracle =
      asofLastViewSql),

    // ---- self-join pairs (J3 graph shape) ----
    QuerySpec("q32_customer_pairs", (s, d) => {
      val c = t(s, d, "customer")
      val a = c.select(col("c_custkey").as("a_key"),
        col("c_nationkey").as("nk"))
      val b = c.select(col("c_custkey").as("b_key"),
        col("c_nationkey").as("nk"))
      a.join(b, Seq("nk")).filter(col("a_key") < col("b_key"))
        .join(broadcast(t(s, d, "nation")), col("nk") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_name"))
    }, oracle =
      """SELECT n_name, count(*) AS n_pairs
        |FROM customer a
        | JOIN customer b ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        | JOIN nation ON a.c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // ---- geocode enrichment (J5) ----
    QuerySpec("q34_geocode", (s, d) => {
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
    }, oracle =
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
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    // ---- validation quarantine split (P10/A7) ----
    QuerySpec("q35_quarantine", (s, d) => {
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
    }, oracle =
      """SELECT 'quarantined' AS status, count(*) AS n FROM part WHERE p_size < 5
        |UNION ALL
        |SELECT 'valid' AS status, count(*) AS n FROM part WHERE p_size >= 5
        |ORDER BY status""".stripMargin),

    // ---- CUBE over order status × priority ----
    QuerySpec("q43_cube", (s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("total_price_cents"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS total_price_cents
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---- exact percentiles per group (free from Spark SQL) ----
    QuerySpec("q41_percentiles", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(floorBp(expr("percentile(value, 0.5)"), 2).as("p50_cents"),
          floorBp(expr("percentile(value, 0.95)"), 2).as("p95_cents"),
          // mean over exact per-row cents: no summation-order float luck
          ratioBp(sum(cents(col("value"))), count(lit(1)), 0)
            .as("avg_value_cents"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type,
        | CAST(floor(quantile_cont(value, 0.5) * 100 + 0.5) AS BIGINT)
        |   AS p50_cents,
        | CAST(floor(quantile_cont(value, 0.95) * 100 + 0.5) AS BIGINT)
        |   AS p95_cents,
        | CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1
        |   / count(*) + 0.5) AS BIGINT) AS avg_value_cents,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- SQL surface: spark.sql over registered views (TPC-H Q3 shape) ----
    QuerySpec("q40_sql_surface", (s, d) => {
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
    }, oracle =
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
        |ORDER BY revenue_cents DESC, o_orderkey LIMIT 20""".stripMargin),

    // ---- per-group top-k via custom TypedImperativeAggregate ----
    QuerySpec("q38_topk_per_group", (s, d) => {
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
    }, oracle =
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
        |WHERE rn <= 5 ORDER BY label, rank""".stripMargin),

    // ---- date fan-out + TTL + per-date counts (C1/C5/A-agg3 join) ----
    QuerySpec("q37_date_fanout", (s, d) => {
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
    }, oracle =
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
        |ORDER BY event_date""".stripMargin),

    // ---- interval join (J6 generalized to pairwise range form) ----
    QuerySpec("q44_range_join", (s, d) => {
      val e = Tables.events(s, d)
      val l = e.select(col("user_id"), col("event_id").as("l_id"),
        col("ts").as("l_ts"))
      val r = e.select(col("user_id"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      RangeJoin.within(l, r, "user_id", "l_ts", "r_ts", windowSec = 300)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }, oracle =
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),

    // ---- deterministic stratified sampling (per-class rates) ----
    QuerySpec("q45_stratified_sample", (s, d) => {
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
    }, oracle =
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin),

    // ---- forward as-of join (next purchase at-or-after each click) ----
    QuerySpec("q47_asof_forward", (s, d) => {
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
    }, oracle =
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
        |ORDER BY c.c_id""".stripMargin),

    // ---- HLL distinct sketch vs exact, per language ----
    QuerySpec("q49_hll_distinct", (s, d) => {
      import graft.sketch.HllSketch.hll_distinct
      val toks = tSpread(s, d, "documents")
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      toks.groupBy(col("lang"))
        .agg(hll_distinct(col("token"), 9).as("est_tokens"),
          countDistinct(col("token")).as("exact_tokens"))
        .orderBy(col("lang"))
    }, oracle =
      // HLL replay: same FNV hash, bucket = u mod 512, rho from the binary
      // length of u div 512, registers max-merged per (lang, bucket), then
      // the exact-integer indicator sum S = Σ 2^(56 - rho) so the estimate
      // is one deterministic double divide on both engines.
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
        |ORDER BY e.lang""".stripMargin),

    // ---- optimizer-rewritten interval join: the user writes the NATURAL
    // theta predicate; RangeJoinRule plans the bucketed equi-join ----
    QuerySpec("q50_range_join_rule", (s, d) => {
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
    }, oracle =
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),

    // ---- skew-salted join (manual AQE-skew-join form, row-identical) ----
    QuerySpec("q53_salted_join", (s, d) => {
      import graft.plans.SaltedJoin
      val o = t(s, d, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
      SaltedJoin.join(o, c, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }, oracle =
      """SELECT c_mktsegment,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin),

    // ---- bloom-pruned semi-join (explicit runtime-filter pattern) ----
    QuerySpec("q54_bloom_semijoin", (s, d) => {
      import graft.sketch.BloomPrune
      val small = t(s, d, "part").filter(col("p_size") === 1)
      val big = t(s, d, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
      BloomPrune.semiJoin(big, small.select(col("p_partkey")), "p_partkey")
        .groupBy(col("p_partkey"))
        .agg(sum(col("l_quantity")).cast("bigint").as("total_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT l_partkey AS p_partkey,
        | CAST(sum(l_quantity) AS BIGINT) AS total_qty, count(*) AS n_lines
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
        |GROUP BY 1 ORDER BY p_partkey""".stripMargin),

    // ---- as-of join through the CUSTOM PHYSICAL OPERATOR (logical node
    // + strategy + merge exec) — same semantics as q31's compositional
    // window form, planned as one shuffle+sort per side ----
    QuerySpec("q62_asof_physical", (s, d) => {
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
    }, oracle =
      asofLastViewSql),

    // ---- mergeable histogram-quantile sketch (fixed 256-bin state per
    // group; the 100 TB alternative to q41's exact sort-based percentile)
    QuerySpec("q63_hist_quantile", (s, d) => {
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
    }, oracle =
      // bit-for-bit histogram-sketch replay: identical IEEE binning
      // ((v-lo)/w floor, clamp), identical rank math in DOUBLE (the ::DOUBLE
      // on the quantile literals matters — DECIMAL×BIGINT would round
      // differently from the engine's double multiply at rank edges), and
      // identical interpolation expression shape.
      s"""WITH $histQuantileCteSql,
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
        |ORDER BY e1.event_type""".stripMargin),

    // ---- two-level distinct rollup over STORED sketches: fine
    // (source, lang) HLL sketches merged per source — the 100 TB
    // pre-aggregation pattern (daily sketch tables → monthly rollup
    // without rescanning; register-max is associative, so the merged
    // estimate is bit-identical to a direct per-source sketch) ----
    QuerySpec("q67_sketch_rollup", (s, d) => {
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
    }, oracle =
      // the rollup oracle replays registers PER SOURCE directly — valid
      // because register-wise max is associative, so merging (source, lang)
      // sub-sketches gives bit-identical registers (the property under test)
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
        |ORDER BY e.source""".stripMargin),

    // ---- Z-order (Morton) multi-dimensional clustering: a 2D box query
    // prefiltered by the z-range [z(lo corner), z(hi corner)] — sound
    // because the interleave is monotone per dimension (ZOrderSpec
    // proves the bound and the file-skipping effect of z-clustered
    // layout; here the oracle proves the prefilter never drops a row) ----
    QuerySpec("q70_zorder", (s, d) => {
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
    }, oracle =
      // the z prefilter is a strict superset of the box, so the oracle is
      // the PLAIN box query — any row the z-range wrongly excluded would
      // hash-mismatch
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events
        |WHERE value BETWEEN 50.0 AND 300.0 AND user_id BETWEEN 2 AND 90
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // ---- distinct-set overlap from SKETCHES ONLY (inclusion-exclusion
    // over stored HLL bytes): pairwise union/intersection estimates of
    // per-source token vocabularies without re-touching raw text — the
    // audience-overlap / cross-source-contamination screen at 100 TB ----
    QuerySpec("q71_hll_overlap", (s, d) => {
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
    }, oracle =
      // register replay per source, then PAIRWISE register max in SQL —
      // the same bytes the scalar HllUnionEst merges; estimates replay the
      // identical closed-form (exact integer indicator sum)
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
        |ORDER BY u.src_a, u.src_b""".stripMargin),

    // ---- KV cache sink round-trip THROUGH the DataSourceV2 connector
    // (S7 write w/ two-phase commit, S6/S8 read back): per-date payloads
    // flushed to the cache table, then served FROM it — the oracle sees
    // only the read-back, so a lost/duplicated task file would mismatch ----
    QuerySpec("q74_kv_sink_roundtrip", (s, d) => {
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
    }, oracle =
      """WITH d AS (
        | SELECT CAST(ts AS DATE) AS date, count(*) AS n_events
        | FROM events GROUP BY 1)
        |SELECT 'events:' || strftime(date, '%Y-%m-%d') AS cache_key,
        | CAST(CASE WHEN date_diff('day', DATE '2024-01-01', date) < 0 THEN 604800
        |   WHEN date_diff('day', DATE '2024-01-01', date) = 0 THEN 3600
        |   WHEN date_diff('day', DATE '2024-01-01', date) <= 7 THEN 43200
        |   ELSE 86400 END AS BIGINT) AS ttl_s,
        | n_events
        |FROM d ORDER BY cache_key""".stripMargin),

    // ---- pivot (conditional aggregation with explicit value list —
    // implicit pivot would need an extra distinct pass to discover
    // columns; at 100 TB the list is part of the job contract) ----
    QuerySpec("q76_pivot", (s, d) => {
      Tables.events(s, d)
        .select(to_date(col("ts")).cast("string").as("event_date"),
          col("event_type"))
        .groupBy(col("event_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("event_date"))
    }, oracle =
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin),

    // ---- MapType end-to-end: per-source language histogram built as a
    // MAP column (map_from_entries), pruned with map_filter, consumed
    // via explode back to rows ----
    QuerySpec("q79_map_ops", (s, d) => {
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
    }, oracle =
      """WITH h AS (
        | SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
        |nl AS (SELECT source, count(*) AS n_langs FROM h GROUP BY 1)
        |SELECT h.source, nl.n_langs, h.lang, CAST(h.n AS BIGINT) AS n_docs
        |FROM h JOIN nl ON nl.source = h.source
        |WHERE h.n >= 2
        |ORDER BY h.source, h.lang""".stripMargin),

    // ---- explicit GROUPING SETS + grouping_id (the general form of
    // q29's ROLLUP / q43's CUBE) through the SQL surface ----
    QuerySpec("q80_grouping_sets", (s, d) => {
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
    }, oracle =
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        | CAST(GROUPING(strftime(ts, '%Y-%m-%d')) * 2
        |   + GROUPING(event_type) AS BIGINT) AS gid
        |FROM events
        |GROUP BY GROUPING SETS ((strftime(ts, '%Y-%m-%d'), event_type),
        |  (event_type), ())
        |ORDER BY gid, event_date ASC NULLS FIRST,
        | event_type ASC NULLS FIRST""".stripMargin),

    // ---- unpivot: melt q76's wide per-type counts back to long form
    // (pivot and its inverse round-trip through the engine) ----
    QuerySpec("q82_unpivot", (s, d) => {
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
    }, oracle =
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
        | count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_date, event_type""".stripMargin),

    // ---- ordered string aggregation (listagg): deterministic because
    // the list is sorted before joining — the only form that is stable
    // under distributed aggregation ----
    QuerySpec("q83_string_agg", (s, d) => {
      tSpread(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("lang")))).as("langs"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }, oracle =
      """SELECT source,
        | string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        | count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- correlated subqueries through the SQL surface: EXISTS with a
    // nested uncorrelated scalar + a correlated scalar in the SELECT —
    // Catalyst decorrelates both into joins (no per-row re-execution) ----
    QuerySpec("q84_correlated_subquery", (s, d) => {
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
    }, oracle =
      """SELECT c.c_custkey, c.c_name,
        | CAST((SELECT sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS total_cents
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
        |    (SELECT avg(o2.o_totalprice) FROM orders o2))
        |ORDER BY c.c_custkey""".stripMargin),

    // ---- CSV sink/source round-trip with explicit schema (no
    // inference pass — at 100 TB schema inference is a full extra scan):
    // quoting/escaping handled by the format, oracle sees only the
    // read-back aggregate ----
    QuerySpec("q94_csv_roundtrip", (s, d) => {
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
    }, oracle =
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_doc
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin),

    // ---- schema evolution: two parquet batches with different columns
    // (a new `quality` column appears mid-stream) read as ONE table via
    // mergeSchema; old rows surface NULL for the new column — the
    // rolling-upgrade contract of a long-lived ingest ----
    QuerySpec("q95_schema_evolution", (s, d) => {
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
    }, oracle =
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
        |FROM q GROUP BY source ORDER BY source""".stripMargin),

    // ---- DayTimeInterval arithmetic (the reference's `Interval`
    // typical_set_length type, SURVEY §1.3): activity within
    // signup_ts + 2h via interval addition. Per-user equi-join first;
    // at fact×fact scale the same predicate routes through
    // plans.RangeJoin (q44/q50) ----
    QuerySpec("q96_interval_arithmetic", (s, d) => {
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
    }, oracle =
      """WITH s AS (
        | SELECT user_id, event_id AS s_id, ts AS s_ts FROM events
        | WHERE event_type = 'signup'),
        |a AS (
        | SELECT user_id, event_id AS a_id, ts AS a_ts FROM events
        | WHERE event_type <> 'signup')
        |SELECT s.user_id, s.s_id, count(*) AS n_follow
        |FROM s JOIN a ON a.user_id = s.user_id
        | AND a.a_ts >= s.s_ts AND a.a_ts < s.s_ts + INTERVAL 2 HOUR
        |GROUP BY 1, 2 ORDER BY s.user_id, s.s_id""".stripMargin),

    // ---- semi-structured ELT: rows carry a JSON payload (built here
    // from the relational base), parsed back with an EXPLICIT schema
    // (from_json — no inference scan) and exploded; the schema-on-read
    // half of the S4 boundary generalized to nested arrays ----
    QuerySpec("q97_json_elt", (s, d) => {
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
    }, oracle =
      """SELECT o_custkey AS cust, count(*) AS n_orders,
        | CAST(sum(CAST(floor(round(o_totalprice, 2) * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_t_cents
        |FROM orders GROUP BY 1 ORDER BY cust""".stripMargin),

    // ---- aggregate variants: FILTER clause + boolean aggregates
    // through the SQL surface ----
    QuerySpec("q98_filtered_aggs", (s, d) => {
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
    }, oracle =
      """SELECT event_type,
        | count(*) FILTER (WHERE value > 250) AS n_high,
        | bool_or(value > 400) AS any_gt400,
        | bool_and(value >= 0) AS all_nonneg,
        | CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |     FILTER (WHERE user_id % 2 = 0) * 1
        |   / count(*) FILTER (WHERE user_id % 2 = 0) + 0.5) AS BIGINT)
        |   AS avg_even_users_cents
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ---- error-tolerant casting under ANSI mode: try_cast turns
    // malformed values into NULL instead of failing the job — the
    // production contract for parsing untrusted staging fields (ANSI is
    // Spark 4's default, so a bare CAST here would throw) ----
    QuerySpec("q101_try_cast", (s, d) => {
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
    }, oracle =
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN TRY_CAST(
        |    regexp_split_to_array(trim(text), '\s+')[1] AS DOUBLE)
        |   IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric_lead,
        | CAST(sum(CASE WHEN TRY_CAST(lang AS DOUBLE) IS NOT NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric_lang,
        | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_div_by_zero
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- fuzzy entity matching (Levenshtein): the J3 related-artist /
    // A2 artist-name resolution generalized to near-matches. Blocked by
    // nation BEFORE the pairwise pass — an unblocked n² over names is
    // the classic entity-resolution scale mistake ----
    QuerySpec("q102_fuzzy_names", (s, d) => {
      // SymSpell deletion-neighborhood blocking — EXACT for distance ≤1
      // (the oracle declares the blocked n² semantics; the engine runs
      // n·len variant rows + one shuffle instead of the n² scan: 9M
      // candidate pairs → ~30k at sf0.1, 5.5 s → sub-second)
      Dedup.editNeighborPairs(t(s, d, "customer"),
          "c_name", "c_custkey", "c_nationkey")
        .orderBy(col("id_a"), col("id_b"))
    }, oracle =
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- unionByName with missing columns: the API-side schema
    // evolution (q95 is the storage side) — position-blind, null-filled ----
    QuerySpec("q103_union_by_name", (s, d) => {
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
    }, oracle =
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
        |FROM u GROUP BY source ORDER BY source""".stripMargin),

    // ---- exact decimal money arithmetic: quantize the double price to
    // integer cents with deterministic IEEE754 math (floor(x*100+0.5) is
    // bit-identical across engines, unlike each engine's own
    // double->decimal tie-rounding) and sum exactly as BIGINT. The output
    // is presented AS integer cents (BIGINT): exact decimal semantics with
    // an engine-agnostic representation — a DECIMAL output column hashes
    // differently per driver even when every value is identical. ----
    QuerySpec("q105_decimal_money", (s, d) => {
      t(s, d, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).as("cents"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("cents")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .filter(col("revenue_cents") > lit(50000000L)) // 500000.00 in cents
        .orderBy(col("o_custkey"))
    }, oracle =
      """SELECT o_custkey,
        | CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |   AS BIGINT) AS revenue_cents,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |   > 50000000
        |ORDER BY o_custkey""".stripMargin),

    // ---- bit aggregates over per-event capability flags ----
    QuerySpec("q106_bit_aggs", (s, d) => {
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
    }, oracle =
      """SELECT user_id,
        | CAST(bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |   WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
        |   AS INT) AS type_mask,
        | CAST(bit_and(CAST(event_id % 4 AS INT) + 4) AS INT) AS and_mask,
        | CAST(bit_xor(CAST(event_id AS INT)) AS INT) AS xor_ids
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- array set algebra: per-source language sets intersected /
    // unioned / subtracted against a reference set ----
    QuerySpec("q107_array_setops", (s, d) => {
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
    }, oracle =
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
        |FROM langs ORDER BY source""".stripMargin),

    // ---- typed Dataset surface (SURVEY §1.1: Dataset[T] where type
    // safety helps): case-class encoder, typed filter/map lambdas. The
    // lambdas are OPAQUE to Catalyst (no pushdown through them) — kept
    // to one narrow stage, with the relational tail back in DataFrame
    // space ----
    QuerySpec("q110_typed_dataset", (s, d) => {
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
    }, oracle =
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 200
        |GROUP BY source ORDER BY source""".stripMargin),

    // ---- explode vs explode_outer: the outer form keeps zero-element
    // parents as null rows (a dropped-silently bug class in fan-outs) ----
    QuerySpec("q111_explode_outer", (s, d) => {
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
    }, oracle =
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
        |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // ---- sketch-derived bucketing: q63's mergeable hist_quantile
    // cut-points (p50/p95 per type) broadcast back over the fact to
    // label rows low/mid/high — the promised 100 TB replacement for
    // q73's global-ntile sort: two scans + a broadcast, NO global
    // ordering anywhere ----
    QuerySpec("q112_sketch_bucketing", (s, d) => {
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
    }, oracle =
      // the same register replay as q63, with the rounded estimates used
      // as bucket cut-points over the fact
      s"""WITH $histQuantileCteSql,
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
        |GROUP BY 1, 2 ORDER BY ev.event_type, bucket""".stripMargin),

    // ---- as-of join with TOLERANCE (pandas merge_asof semantics): the
    // matched view counts only when it lies within 30 minutes before
    // the purchase — q31's single-shuffle carry with the gap test
    // applied after the match ----
    QuerySpec("q113_asof_tolerance", (s, d) => {
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
    }, oracle =
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
        |ORDER BY p.p_id""".stripMargin),

    // ---- SCD Type-2 history build (dims.Scd2): per-user event_type
    // version intervals from the change stream — one shuffle on the
    // entity key shared by the change-collapse lag and the interval
    // lead (same partitioning + sort ⇒ one exchange, one sort) ----
    QuerySpec("q121_scd2_history", (s, d) => {
      Scd2.fromChanges(Tables.events(s, d), Seq("user_id"), "ts",
          "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("from_us"))
    }, oracle =
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
        |ORDER BY user_id, from_us""".stripMargin),

    // ---- gap-fill / forward-fill: dense per-user daily spine (span
    // derived from the data, 1-row agg cross join — broadcast nested
    // loop, never a shuffle), left join of the real daily totals, then
    // last(ignoreNulls) carries the latest observation forward. The
    // standard time-series densification before any rolling metric ----
    QuerySpec("q122_gap_fill", (s, d) => {
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
    }, oracle =
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
        |FROM j ORDER BY user_id, day""".stripMargin),

    // ---- point-in-time (PIT) join: each purchase fact joined to the
    // SCD2 version of the user's activity state that was current AT the
    // purchase timestamp — the feature-store correctness pattern (no
    // future leakage). The interval probe is the as-of merge operator
    // (AsOfJoinExec): one shuffle+sort per side, constant-state merge;
    // never an interval cross product ----
    QuerySpec("q123_pit_join", (s, d) => {
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
    }, oracle =
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
        |ORDER BY p_id""".stripMargin),

    // ---- distributed connected components (graph.Graph): min-label
    // propagation over the simhash near-dup pair graph — the cluster-
    // scale replacement for driver-side union-find (one join+groupBy
    // shuffle per superstep, localCheckpoint truncates lineage) ----
    QuerySpec("q124_cc_labelprop", (s, d) => {
      val docs = tSpread(s, d, "documents")
      val pairs = Dedup.simhashHammingPairs(docs, "text", "doc_id")
        .select(col("id_a"), col("id_b"))
      Graph.connectedComponents(
          docs.select(col("doc_id").as("id")), pairs)
        .orderBy(col("id"))
    }, oracle =
      // simhash signature (q61's replay) → near-dup pair graph → recursive
      // min-label closure (q23's replay tail): component = min reachable id
      s"""WITH RECURSIVE $simhashClusterCteSql
        |SELECT id, CAST(min(c) AS BIGINT) AS cluster_id FROM lbl GROUP BY id
        |ORDER BY id""".stripMargin),

    // ---- PageRank in integer fixed-point (graph.Graph): exact bigint
    // arithmetic makes the iterative rank bit-reproducible across
    // engines and partitionings (double addition isn't associative;
    // long addition is). Customer→supplier bipartite graph from
    // orders⋈lineitem; 3 supersteps ----
    QuerySpec("q125_pagerank", (s, d) => {
      val edges = t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      Graph.pageRankFixedPoint(edges, iterations = 3)
        .select(col("id"), col("rank").as("pr"))
        .orderBy(col("id"))
    }, oracle =
      // 3 unrolled fixed-point iterations: integer div + long sums make
      // the replay exact (no float-addition-order divergence)
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
        |SELECT id, pr FROM r3 ORDER BY id""".stripMargin),

    // ---- skyline / Pareto frontier (operators.Skyline): best-price-
    // per-capacity parts. Two-phase distributive form — per-y min-x
    // aggregate collapses the input, then a tiny running-min sweep;
    // never the O(n²) NOT-EXISTS self-join the oracle runs ----
    QuerySpec("q126_skyline", (s, d) => {
      Skyline.pareto2d(t(s, d, "part"), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_size"),
          cents(col("p_retailprice")).as("price_cents"))
        .orderBy(col("p_partkey"))
    }, oracle =
      """SELECT p_partkey, p_size,
        | CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        | WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |   AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin),

    // ---- incremental aggregate maintenance: a delta batch's partial
    // states (sum/count per month×priority) merge with the STORED
    // partials — the merge step touches only partial-state rows, never
    // the raw history; the final report re-aggregates from partials.
    // The decomposition every 100 TB daily pipeline relies on ----
    QuerySpec("q129_incr_agg", (s, d) => {
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
    }, oracle =
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
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin),

    // ---- typed Aggregator (functions.Aggregators.WeightedMean): the
    // Dataset-native custom aggregate through udaf() — Encoder-managed
    // two-double buffer, map-side combine, shuffle carries partials
    // only. Weight derived from the key so the oracle replays it ----
    QuerySpec("q130_typed_aggregator", (s, d) => {
      val wm = udaf(graft.functions.Aggregators.WeightedMean)
      Tables.events(s, d)
        .withColumn("w", (col("user_id") % 5 + 1).cast("double"))
        .groupBy(col("event_type"))
        .agg(floorBp(wm(col("value"), col("w")), 4).as("wmean_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type,
        | CAST(floor(sum(value * (user_id % 5 + 1)) / sum(user_id % 5 + 1)
        |   * 10000 + 0.5) AS BIGINT) AS wmean_bp,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- spatial radius join (plans.SpatialJoin): grid-cell bucketed
    // equi-join + exact distance filter — the 2D RangeJoin; never the
    // BroadcastNestedLoopJoin a naive distance theta-join plans.
    // Coordinates derived deterministically from the keys so the oracle
    // replays them exactly (integer-modulo lattice) ----
    QuerySpec("q131_spatial_join", (s, d) => {
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
    }, oracle =
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
        |ORDER BY c_custkey, s_suppkey""".stripMargin),

    // ---- recursive CTE (Spark 4.1): ancestor walk over the implicit
    // binary-tree hierarchy parent(k) = k DIV 2 — the same iterative
    // fixpoint Graph.connectedComponents runs as DataFrame loops, here
    // as the declarative SQL form ----
    QuerySpec("q85_recursive_cte", (s, d) => {
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
    }, oracle =
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS start, c_custkey AS node,
        |         CAST(0 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey < 32
        |  UNION ALL
        |  SELECT start, node // 2 AS node, depth + 1 AS depth
        |  FROM anc WHERE node > 0)
        |SELECT start, node, depth FROM anc
        |ORDER BY start, depth""".stripMargin),

    // ---- corpus data card (multi-dimensional rollup for the dataset
    // datasheet: totals by language × length band, each margin, and
    // the grand total): GROUP BY CUBE compiles to ONE Expand +
    // aggregate — a single shuffle at 4× row multiplicity, not four
    // scans of a 100 TB corpus. grouping() drives the sentinel columns
    // so real values can never collide with the ALL rows ----
    QuerySpec("q211_corpus_cube", (s, d) => {
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
    }, oracle =
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
        |ORDER BY lang, band""".stripMargin),

    // ---- corpus snapshot diff (dataset versioning: what changed
    // between corpus v1 and v2 — the release-notes sheet every
    // training-data drop ships with): v2 is derived deterministically
    // from v1 in-query (md5-parity removes ~1/16, revises ~1/16, adds
    // ~1/16 under shifted ids) so both engines build the identical
    // pair. The diff itself is the scale pattern: ONE full-outer
    // shuffle join on the id comparing md5 CONTENT HASHES — text never
    // crosses the wire twice, and the status sheet is bounded by
    // sources × 4 ----
    QuerySpec("q214_snapshot_diff", (s, d) => {
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
    }, oracle =
      // v2 derived by md5-parity from v1 so both engines diff the same
      // snapshot pair; the diff compares content hashes, not text
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
        |GROUP BY source, status ORDER BY source, status""".stripMargin),

    // ---- join-key skew advisor (the salting decision input q53's
    // SaltedJoin consumes, computed instead of guessed): per-key
    // counts (one shuffle — the frame is bounded by DISTINCT keys),
    // then a scalar stats row + the deterministic hottest key
    // (smallest id among the max-count ties). skew_ppm and the
    // suggested salt factor are exact integer arithmetic so both
    // engines emit identical rows. Run over both demo join keys;
    // output grain = analyzed columns ----
    QuerySpec("q215_skew_advisor", (s, d) => {
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
    }, oracle =
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
        |FROM u ORDER BY key_col""".stripMargin),

    // ---- bucketed co-located join (the fact-table layout decision at
    // 100 TB: bucket both sides on the join key at write time and the
    // daily join never shuffles again): both tables saved via
    // BucketedStore.saveBucketed(8 buckets on the order key), and the
    // query REQUIRES at plan time that the join has no
    // hashpartitioning exchange — the gate fails if the bucketed
    // layout stops being exchange-free, so the property is verified on
    // every run, not assumed from the spec. Money in exact cents ----
    QuerySpec("q220_bucketed_join", (s, d) => {
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
    }, oracle =
      // the oracle checks the JOIN RESULT; the exchange-free property is
      // require()d inside the engine query itself at plan time
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |    + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- event burst collapse (streaming windowed dedup in its batch
    // replay form — dropDuplicatesWithinWatermark's semantics: within
    // a (user, event_type) stream, events ≤600 s after their
    // predecessor are the same burst; keep the first of each burst):
    // ONE window exchange on the composite key, gap test in exact
    // microsecond integers, then a bounded per-type sheet. The
    // streaming twin runs the same lag logic inside
    // flatMapGroupsWithState; batch and stream agree because the gap
    // rule only looks backward ----
    QuerySpec("q221_event_burst_dedup", (s, d) => {
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
    }, oracle =
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
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- data-quality constraint suite (Deequ's analyzer-batching
    // shape: EVERY rule's violation count from ONE corpus scan — eight
    // assertions fused into a single map-side-combined aggregate, so a
    // 100 TB contract check costs one pass; uniqueness is the only
    // rule needing a shuffle and rides the same aggregate as a
    // countDistinct). Two thresholds fail by design on this corpus so
    // the violation path is live, not vacuous ----
    QuerySpec("q230_data_contract", (s, d) => {
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
    }, oracle =
      // contract replay: the same eight rules from one aggregate.
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
        |FROM r ORDER BY rule""".stripMargin),

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
    QuerySpec("q231_dataset_fingerprint", (s, d) => {
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
    }, oracle =
      // fingerprint replay: same 60-bit md5 fold (NULL text -> 'nil'
      // sentinel), same XOR aggregate.
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |   || ':' || coalesce(md5(text), 'nil')), 1, 15))::BIGINT)
        |   AS BIGINT) AS fingerprint
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
  )
}
