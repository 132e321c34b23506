package graft
package queries

import graft.operators.GlobalOrder
import graft.parse.Parsers.cents
import graft.serve.Serving
import graft.streaming.StreamingIngest
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Serving queries: the reference's per-date serving shapes and the
  * event-grain reports served off the warehouse — sessions, funnels,
  * cohorts, time series and customer analytics. */
private[graft] object ServingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- windows (O1) ----
    QuerySpec("q07_window_running", (s, d) => {
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
    }, oracle =
      """SELECT event_id, user_id,
        | row_number() OVER w AS rn,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin),

    QuerySpec("q08_sessionize", (s, d) =>
      Serving.sessionize(Tables.events(s, d), gapMinutes = 30), oracle =
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
        |ORDER BY user_id, session_id""".stripMargin),

    // ---- serving queries (J4/J6/O1/A-agg4/C5) ----
    QuerySpec("q16_serve_events_by_date", (s, d) =>
      Serving.eventsByDate(Tables.eventsBetween(s, d, "2024-01-05", "2024-01-06"),
        date = "2024-01-05", today = Today), oracle =
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
        |ORDER BY perf_us, event_id""".stripMargin),

    QuerySpec("q17_user_day_digest", (s, d) =>
      Serving.userDayDigest(Tables.eventsBetween(s, d, "2024-01-10", "2024-01-11"),
        date = "2024-01-10"), oracle =
      """SELECT user_id, count(*) AS n_events,
        | array_to_string(list_sort(list(event_type)), ',') AS event_types,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_cents,
        | min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- tumbling-window aggregation (streaming-shape, batch-run) ----
    QuerySpec("q33_hourly_windows", (s, d) => {
      StreamingIngest.windowedCounts(Tables.events(s, d))
        .orderBy(col("window_start_us"), col("event_type"))
    }, oracle =
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin),

    // ---- NATIVE session_window operator (vs q08's compositional
    // lag/sum form): one aggregation, no window-function pass; in
    // streaming the same expression runs over the session state store.
    // Spark semantics: window = [first, last+gap), so an event at
    // exactly last+gap opens a NEW session (oracle replays with >=) ----
    QuerySpec("q75_session_window", (s, d) => {
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
    }, oracle =
      // >= gap (not >) opens a new session: Spark's window is [first,
      // last+gap), so an event AT last+gap falls outside it
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
        |ORDER BY user_id, start_us""".stripMargin),

    // ---- event-time RANGE window frame (sliding trailing hour) +
    // lead/lag neighbors: the frame is defined in VALUE space (micros),
    // so ties and gaps behave identically across engines ----
    QuerySpec("q81_range_window", (s, d) => {
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
    }, oracle =
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS hour_sum_cents,
        | lag(event_id, 1) OVER w AS prev_id,
        | lead(event_id, 1) OVER w AS next_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, us, event_id""".stripMargin),

    // ---- ingest data-profiling pass: per-source fill rates and length
    // distribution — the first query any 100 TB onboarding runs (one
    // scan, all metrics as conditional aggregates) ----
    QuerySpec("q92_profile_sources", (s, d) => {
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
    }, oracle =
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
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // ---- argmax aggregates (max_by/min_by): per user, WHICH event had
    // the extreme value — without a self-join back to the fact. Ordering
    // keys are zero-padded sortable strings (value ties broken by
    // event_id) so both engines compare the identical scalar ----
    QuerySpec("q93_argmax", (s, d) => {
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
    }, oracle =
      """SELECT user_id,
        | arg_max(event_id, printf('%015d|%010d',
        |   CAST(round(value * 100) AS BIGINT), event_id))
        |   AS top_value_event,
        | arg_min(event_id, printf('%020d|%010d', epoch_us(ts), event_id))
        |   AS first_event,
        | arg_max(event_type, printf('%020d|%010d', epoch_us(ts), event_id))
        |   AS last_type,
        | CAST(floor(max(value) * 100 + 0.5) AS BIGINT) AS top_value_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- relative-rank window trio: percent_rank / cume_dist / ntile
    // over a deterministic (value, event_id) order ----
    QuerySpec("q99_relative_ranks", (s, d) => {
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
    }, oracle =
      """SELECT event_type, event_id,
        | CAST(floor((percent_rank() OVER w) * 10000 + 0.5) AS BIGINT)
        |   AS pr_bp,
        | CAST(floor((cume_dist() OVER w) * 10000 + 0.5) AS BIGINT) AS cd_bp,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin),

    // ---- date_trunc weekly rollup (Monday-start ISO weeks in both
    // engines) ----
    QuerySpec("q104_weekly_rollup", (s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("WEEK", col("ts")).cast("date").cast("string")
          .as("week_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sum_value_cents"))
        .orderBy(col("week_start"), col("event_type"))
    }, oracle =
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY week_start, event_type""".stripMargin),

    // ---- statistical aggregates: correlation / covariance / stddev
    // (sample forms — identical definitions in both engines) ----
    QuerySpec("q108_stats_aggs", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(floorBp(corr(col("value"), col("user_id").cast("double")), 4)
            .as("corr_vu_bp"),
          floorBp(covar_samp(col("value"), col("user_id").cast("double")), 2)
            .as("covar_vu_c"),
          floorBp(stddev_samp(col("value")), 4).as("sd_value_bp"),
          floorBp(var_samp(col("value")), 2).as("var_value_c"))
        .orderBy(col("event_type"))
    }, oracle =
      """SELECT event_type,
        | CAST(floor(corr(value, CAST(user_id AS DOUBLE)) * 10000 + 0.5)
        |   AS BIGINT) AS corr_vu_bp,
        | CAST(floor(covar_samp(value, CAST(user_id AS DOUBLE)) * 100 + 0.5)
        |   AS BIGINT) AS covar_vu_c,
        | CAST(floor(stddev_samp(value) * 10000 + 0.5) AS BIGINT)
        |   AS sd_value_bp,
        | CAST(floor(var_samp(value) * 100 + 0.5) AS BIGINT) AS var_value_c
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- first_value / last_value / nth_value over explicit frames ----
    QuerySpec("q114_value_windows", (s, d) => {
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
    }, oracle =
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        | first_value(event_id) OVER w AS first_ev,
        | last_value(event_id) OVER w AS last_ev,
        | nth_value(event_id, 3) OVER w AS third_ev
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, us, event_id""".stripMargin),

    // ---- rolling 3-day distinct actives (the WAU/DAU family): windowed
    // COUNT(DISTINCT) is unsupported in both engines' window frames, so
    // the rolling set is a day×day range join over the PRE-DISTINCTED
    // (day, user) frame — at 100 TB that frame is tiny next to the fact ----
    QuerySpec("q115_rolling_actives", (s, d) => {
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
    }, oracle =
      """WITH du AS (
        | SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d FROM du)
        |SELECT strftime(d.d, '%Y-%m-%d') AS day,
        | count(DISTINCT du.user_id) AS active_3d
        |FROM days d JOIN du
        |  ON du.day BETWEEN d.d - 2 AND d.d
        |GROUP BY 1 ORDER BY day""".stripMargin),

    // ---- retention cohorts: users grouped by first-seen day; D1/D7
    // retention as conditional distinct counts over one (user, day)
    // activity frame ----
    QuerySpec("q116_retention_cohorts", (s, d) => {
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
    }, oracle =
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
        |GROUP BY f.cohort ORDER BY cohort""".stripMargin),

    // ---- behavior transition matrix: per-user consecutive event-type
    // pairs (first-order Markov counts) from one lag pass ----
    QuerySpec("q117_transitions", (s, d) => {
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
    }, oracle =
      """WITH seq AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS next_type
        | FROM events)
        |SELECT event_type AS from_type, next_type AS to_type,
        | count(*) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin),

    // ---- robust statistics: median absolute deviation per type (two
    // exact percentile passes — outlier-resistant spread, the robust
    // complement to q108's stddev) ----
    QuerySpec("q118_mad", (s, d) => {
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
    }, oracle =
      """WITH med AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS med
        | FROM events GROUP BY 1)
        |SELECT e.event_type,
        | CAST(floor(any_value(m.med) * 10000 + 0.5) AS BIGINT) AS median_bp,
        | CAST(floor(quantile_cont(abs(e.value - m.med), 0.5) * 10000 + 0.5)
        |   AS BIGINT) AS mad_bp,
        | count(*) AS n
        |FROM events e JOIN med m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    // ---- activity-gap profiling: per user, span days vs active days
    // (the freshness/completeness check of an event feed) ----
    QuerySpec("q119_activity_gaps", (s, d) => {
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg((datediff(max(col("day")), min(col("day"))) + 1)
            .cast("bigint").as("span_days"),
          countDistinct(col("day")).as("active_days"))
        .withColumn("gap_days", col("span_days") - col("active_days"))
        .filter(col("user_id") < 50)
        .orderBy(col("user_id"))
    }, oracle =
      """WITH days AS (
        | SELECT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT user_id,
        | CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
        |   AS span_days,
        | count(DISTINCT day) AS active_days,
        | CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
        |   - count(DISTINCT day) AS gap_days
        |FROM days WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- Benford leading-digit profile of the value column (the
    // classic data-forensics scan); digit extracted from the string
    // form so both engines agree on every rendering ----
    QuerySpec("q120_benford", (s, d) => {
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
    }, oracle =
      """WITH digits AS (
        | SELECT regexp_extract(CAST(value AS VARCHAR), '[1-9]', 0) AS digit
        | FROM events WHERE value > 0),
        |counts AS (
        | SELECT digit, count(*) AS n FROM digits
        | WHERE digit <> '' GROUP BY 1)
        |SELECT digit, n,
        | CAST(floor(n * 10000 / (SELECT sum(n) FROM counts) + 0.5) AS BIGINT)
        |   AS frac_bp
        |FROM counts ORDER BY digit""".stripMargin),

    // ---- OHLC bars (time-series candle rollup): open/close via
    // min_by/max_by on a sortable (us, event_id) string key — one hash
    // aggregate, no window sort; the argmax tie rule is engine-identical
    // by construction ----
    QuerySpec("q128_ohlc", (s, d) => {
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
    }, oracle =
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
        |GROUP BY user_id, day ORDER BY user_id, day""".stripMargin),

    // ---- lag-1 autocorrelation of per-type daily totals (time-series
    // diagnostic): one shuffle to daily grain, one window lag sharing
    // that partitioning, one corr aggregate ----
    QuerySpec("q132_autocorr", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("pv", lag(col("v"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(floorBp(corr(col("v"), col("pv")), 4).as("lag1_corr_bp"),
          count(lit(1)).as("n_days"))
        .orderBy(col("event_type"))
    }, oracle =
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
        |FROM lagged GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- label-distribution entropy per source (training-data
    // diagnostics): two-level aggregate, all map-side-combinable ----
    QuerySpec("q133_entropy", (s, d) => {
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
    }, oracle =
      """WITH counts AS (
        | SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c) AS tot FROM counts GROUP BY 1)
        |SELECT counts.source,
        | CAST(floor(-sum((c / tot) * ln(c / tot)) * 10000 + 0.5) AS BIGINT)
        |   AS entropy_bp,
        | count(DISTINCT lang) AS n_langs
        |FROM counts JOIN tot ON counts.source = tot.source
        |GROUP BY counts.source ORDER BY counts.source""".stripMargin),

    // ---- Gini concentration of value per event_type: rank-formula
    // form G = (2·Σ(i·xᵢ) − (n+1)·Σxᵢ) / (n·Σxᵢ) over a deterministic
    // (value, event_id) total order — one window pass, one aggregate,
    // no pairwise |xᵢ−xⱼ| cross product ----
    QuerySpec("q134_gini", (s, d) => {
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
    }, oracle =
      """WITH r AS (
        | SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS i
        | FROM events)
        |SELECT event_type,
        | CAST(floor((2 * sum(i * value) - (count(*) + 1) * sum(value))
        |   / (count(*) * sum(value)) * 10000 + 0.5) AS BIGINT) AS gini_bp,
        | count(*) AS n
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- A/B comparison (Welch's t): deterministic assignment from
    // the key (user parity), group moments from one aggregate pass ----
    QuerySpec("q135_ab_test", (s, d) => {
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
    }, oracle =
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
        |ORDER BY a.event_type""".stripMargin),

    // ---- gaps-and-islands: contiguous active-day runs per user via
    // the day − row_number() grouping constant — one shuffle on user,
    // window + re-aggregate share it ----
    QuerySpec("q136_gaps_islands", (s, d) => {
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
    }, oracle =
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
        |GROUP BY user_id, grp ORDER BY user_id, run_start""".stripMargin),

    // ---- period-over-period growth: monthly revenue + MoM delta and
    // ratio from one lag over the month rollup ----
    QuerySpec("q137_mom_growth", (s, d) => {
      val monthly = t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.orderBy(col("month"))
      monthly.withColumn("prev", lag(col("rev"), 1).over(w))
        .select(col("month"), cents(col("rev")).as("revenue_cents"),
          cents(col("rev") - col("prev")).as("mom_delta_cents"),
          floorBp(col("rev") / col("prev"), 4).as("mom_ratio_bp"))
        .orderBy(col("month"))
    }, oracle =
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
        |FROM m ORDER BY month""".stripMargin),

    // ---- cumulative distinct users (growth curve): first-seen day per
    // user, then a running count over the day spine — the sort-free
    // cumulative-distinct decomposition ----
    QuerySpec("q138_cumulative_users", (s, d) => {
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
    }, oracle =
      """WITH fs AS (
        | SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        | FROM events GROUP BY 1),
        |nd AS (SELECT first_day AS day, count(*) AS new_users
        | FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM nd ORDER BY day""".stripMargin),

    // ---- market-basket association (support/confidence/lift): brand
    // pairs co-occurring in an order. Pair generation is MAP-SIDE from
    // each order's sorted brand list (one shuffle on the order key,
    // higher-order transform — no self-join of the exploded frame);
    // frequency tables broadcast back ----
    QuerySpec("q139_basket_lift", (s, d) => {
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
    }, oracle =
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
        |ORDER BY b1, b2""".stripMargin),

    // ---- RFM segmentation: one customer-grain aggregate, then ntile
    // quartiles over the COLLAPSED frame (1 row per customer — the
    // single-partition window sits above the aggregate, never the raw
    // orders); deterministic tie order by customer key ----
    QuerySpec("q140_rfm", (s, d) => {
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
    }, oracle =
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
        |FROM sc WHERE o_custkey < 200 ORDER BY o_custkey""".stripMargin),

    // ---- CUSUM change-point detection: per-type cumulative deviation
    // from the type mean, peak |cusum| day = the change point. One
    // shuffle on type shared by the mean window, the running sum, and
    // the argmax row_number ----
    QuerySpec("q141_cusum", (s, d) => {
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
    }, oracle =
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
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // ---- daily percentile bands (P10/P50/P90 time series): exact
    // per-group percentiles in one aggregate pass ----
    QuerySpec("q142_percentile_bands", (s, d) => {
      Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(floorBp(percentile(col("value"), lit(0.1)), 4).as("p10_bp"),
          floorBp(percentile(col("value"), lit(0.5)), 4).as("p50_bp"),
          floorBp(percentile(col("value"), lit(0.9)), 4).as("p90_bp"),
          count(lit(1)).as("n"))
        .orderBy(col("day"))
    }, oracle =
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        | CAST(floor(quantile_cont(value, 0.1) * 10000 + 0.5) AS BIGINT)
        |   AS p10_bp,
        | CAST(floor(quantile_cont(value, 0.5) * 10000 + 0.5) AS BIGINT)
        |   AS p50_bp,
        | CAST(floor(quantile_cont(value, 0.9) * 10000 + 0.5) AS BIGINT)
        |   AS p90_bp,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),

    // ---- mutual information between event type and a user cohort
    // (feature-signal screening): joint/marginal counts from one
    // aggregate, MI from the broadcast-joined contingency table ----
    QuerySpec("q143_mutual_info", (s, d) => {
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
    }, oracle =
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
        | JOIN my ON joint.y = my.y""".stripMargin),

    // ---- Pareto 80/20 concentration: customers covering 80% of
    // revenue. Running share over the COLLAPSED customer grain (the
    // single-partition window sits above the aggregate); the float
    // cumulative sum is order-identical in both engines, so the >=
    // threshold cliff is consistent ----
    QuerySpec("q144_pareto_8020", (s, d) => {
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
    }, oracle =
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
        |FROM rk""".stripMargin),

    // ---- rolling z-score anomaly flags: trailing-week mean/stddev per
    // type (frame excludes the current day), flag |z| > 1.5 — the ops
    // monitoring sweep; one shuffle on type for both window stats ----
    QuerySpec("q145_rolling_zscore", (s, d) => {
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
    }, oracle =
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
        |ORDER BY event_type, day""".stripMargin),

    // ---- order→ship latency histogram (supply-chain distribution):
    // explicit floor() bucketing (floor semantics match the oracle's
    // // on negatives; integer div truncation would not) ----
    QuerySpec("q146_latency_histogram", (s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .withColumn("bucket", floor(datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))) / 10.0).cast("bigint"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
        .orderBy(col("bucket"))
    }, oracle =
      """SELECT CAST(floor(datediff('day', CAST(o_orderdate AS DATE),
        |   CAST(l_shipdate AS DATE)) / 10.0) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS sum_price_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY bucket""".stripMargin),

    // ---- top brands per nation with TIES (dense_rank ≤ 3 — the
    // ties-kept complement of q38's row_number top-k) ----
    QuerySpec("q147_dense_rank_ties", (s, d) => {
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
    }, oracle =
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
        |ORDER BY n_name, dr, p_brand""".stripMargin),

    // ---- LTV-by-order-number curve: avg order value at the customer's
    // nth order — one shuffle on customer for the sequence window, then
    // a tiny re-aggregate on order_no ----
    QuerySpec("q148_clv_curve", (s, d) => {
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
    }, oracle =
      """WITH seq AS (
        | SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS order_no
        | FROM orders)
        |SELECT order_no, count(*) AS n_customers,
        | CAST(floor(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) * 1
        |   / count(*) + 0.5) AS BIGINT) AS avg_order_value_cents
        |FROM seq WHERE order_no <= 10 GROUP BY 1 ORDER BY order_no""".stripMargin),

    // ---- share-of-wallet: top-3 customers per nation with their
    // revenue share — ratio-to-report window over the collapsed
    // customer grain ----
    QuerySpec("q149_share_of_wallet", (s, d) => {
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
    }, oracle =
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
        |FROM sw WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin),

    // ---- weekday×hour activity heatmap (long form): ISO weekday so
    // both engines agree on day numbering ----
    QuerySpec("q150_activity_heatmap", (s, d) => {
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
    }, oracle =
      """WITH cell AS (
        | SELECT isodow(ts) AS isodow, CAST(hour(ts) AS INT) AS hr,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS tot FROM cell)
        |SELECT CAST(isodow AS INT) AS isodow, hr, n,
        | CAST(floor(n * 10000 / (SELECT tot FROM tot) + 0.5) AS BIGINT)
        |   AS share_bp
        |FROM cell ORDER BY isodow, hr""".stripMargin),

    // ---- linear trend per type (regr_* aggregate family): slope /
    // intercept / R² of daily totals against the day index — one
    // aggregate pass, moments combined map-side ----
    QuerySpec("q151_regr_slope", (s, d) => {
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
    }, oracle =
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
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- winsorized mean (robust stats family, with q118's MAD): P5/P95
    // clamps broadcast back over the fact — two aggregate passes, no
    // sort of the raw data ----
    QuerySpec("q152_winsorized_mean", (s, d) => {
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
    }, oracle =
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
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    // ---- nearest-in-time join: each purchase matched to its CLOSEST
    // view in either direction — composed from the backward and forward
    // as-of merges (two shuffle+sort passes), then a per-purchase pick;
    // never the per-user cross product the oracle brute-forces. View
    // ties at equal timestamp and equal-distance direction ties both
    // resolve to the smaller view id, matching the oracle's rule ----
    QuerySpec("q153_nearest_event", (s, d) => {
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
    }, oracle =
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
        |FROM cand WHERE rn = 1 ORDER BY p_id""".stripMargin),

    // ---- marketing attribution, first-touch vs last-touch: last-touch
    // is the as-of merge (AsOfJoinExec); first-touch is a per-user
    // min-struct aggregate broadcast back — neither side builds the
    // per-user (views × purchases) cross product the oracle brute-
    // forces. Channel derived from the props JSON ----
    QuerySpec("q154_attribution", (s, d) => {
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
    }, oracle =
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
        |FROM l FULL OUTER JOIN f ON l.ch = f.ch ORDER BY channel""".stripMargin),

    // ---- repeat-purchase latency distribution: per-user lag over
    // purchases, day-bucketed gaps — the retention-curve input ----
    QuerySpec("q155_repeat_latency", (s, d) => {
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
    }, oracle =
      """WITH p AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events WHERE event_type = 'purchase')
        |SELECT CAST(floor((us - prev) / 86400000000.0) AS BIGINT) AS gap_days,
        | count(*) AS n
        |FROM p WHERE prev IS NOT NULL GROUP BY 1 ORDER BY gap_days""".stripMargin),

    // ---- clamped running balance (floor-at-zero cumulative sum): NOT
    // window-expressible — the clamp makes each row depend on the full
    // clamped prefix, so it runs as a per-key ORDERED stateful scan via
    // flatMapSortedGroups (one shuffle on user, sorted iterator, O(1)
    // state — the typed-Dataset analog of the as-of merge exec). The
    // oracle replays it as a recursive CTE walk ----
    QuerySpec("q157_clamped_balance", (s, d) => {
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
    }, oracle =
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
        |FROM walk ORDER BY user_id, event_id""".stripMargin),

    // ---- sequential pattern mining: frequent 3-step behavior
    // sequences with a support floor (q117's transition matrix extended
    // to trigrams) — one user-shuffle for both leads, then a tiny
    // support aggregate ----
    QuerySpec("q158_trigram_mining", (s, d) => {
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
    }, oracle =
      """WITH seq AS (
        | SELECT user_id, event_type AS a,
        |  lead(event_type, 1) OVER w AS b, lead(event_type, 2) OVER w AS c
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT a, b, c, count(*) AS support
        |FROM seq WHERE c IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5
        |ORDER BY support DESC, a, b, c""".stripMargin),

    // ---- order backlog via sweep-line: +1 at open, −1 at close (last
    // ship date), running sum over the ±1 event stream — the interval-
    // stabbing count without any interval join; sampled at month
    // starts ----
    QuerySpec("q159_backlog_sweep", (s, d) => {
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
    }, oracle =
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
        |FROM run WHERE dayofmonth(d) = 1 ORDER BY day""".stripMargin),

    // ---- ordered funnel (view → click → purchase): each stage's first
    // qualifying time is a windowed conditional min over the PREVIOUS
    // stage's — three Window nodes over ONE user-partitioned exchange
    // (Spark reuses the shuffle across same-partitioning windows) ----
    QuerySpec("q87_funnel", (s, d) => {
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
    }, oracle =
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
        |FROM staged3""".stripMargin),
  )
}
