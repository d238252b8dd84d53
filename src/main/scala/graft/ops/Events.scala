package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics over `events.parquet` (SURVEY.md §2.7 JSON gap +
  * §2.9): JSON extraction, tumbling / sliding / session event-time
  * windows — expressed as batch aggregations (DuckDB-checkable); the
  * Structured Streaming wrapper over the same tumbling agg lives in
  * graft.streaming and is equality-tested against this batch version.
  *
  * All timestamps flow through Tables.events (ns → µs TIMESTAMP_NTZ), so
  * comparisons/truncations agree exactly with DuckDB's TIMESTAMP cast.
  */
object Events {

  /** JSON extraction (`from_json` with explicit schema — codegen-friendly,
    * no schema inference pass) + bucketed aggregate. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_type"), col("value"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .groupBy((col("k") % 10).as("k_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("value"))).cast("double").as("sum_value"),
        max(col("k")).as("max_k"))
  }

  /** Tumbling 1-hour event-time window via Spark's `window()` generator —
    * the idiomatic streaming-compatible form (group keys shuffle-partition
    * the aggregate; partial aggregation happens map-side). */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Tables.dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding 10-minute window, 5-minute slide: each event lands in 2
    * windows. Same generator, same scale properties as tumbling. */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Tables.dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Session windows (30-minute gap) per user via `session_window` —
    * Spark merges overlapping [ts, ts+gap) ranges per group key. Session
    * bounds: start = first event, end = last event + gap (exclusive). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.dec(col("value"))).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
  }

  /** MapType surface: parse the REAL `props` JSON column as
    * map<string,long> (schema-on-read dynamic keys — the path the
    * fixed-schema q15 from_json struct can't express), merge with a
    * natively-built map (`create_map`, no JSON synthesis round-trip —
    * the round-2 version string-concatenated a JSON object per row and
    * immediately re-parsed it, paying serialize+parse for nothing),
    * explode entries, aggregate per key. A malformed props row keeps its
    * native entries (coalesce to an empty map), mirroring the oracle's
    * per-key union semantics. The parsed side drops any key colliding
    * with the native ones BEFORE map_concat — Spark's default
    * mapKeyDedupPolicy=EXCEPTION would otherwise throw at runtime the
    * day a props object carries "uid"/"eid". (The oracle enumerates the
    * fixture's key set — a regenerated fixture with new keys fails the
    * gate loudly, which is the intended behavior for schema drift.) */
  def mapExplode(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_type"),
        explode(map_concat(
          map(lit("uid"), col("user_id"), lit("eid"), col("event_id")),
          expr("""map_filter(
                 |  coalesce(from_json(props, 'map<string,bigint>'),
                 |           CAST(map() AS MAP<STRING, BIGINT>)),
                 |  (k, v) -> k NOT IN ('uid', 'eid'))""".stripMargin))))
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        max(col("value")).as("max_v"))
  }

  /** Time-series resample + forward fill (pandas `resample('1h').mean()
    * .ffill()` parity): per user, a dense hourly grid from first to last
    * event, hourly means where data exists, previous hour's value carried
    * forward into gaps. The grid generates from per-user bounds (one
    * aggregate), the fill is one `last(ignoreNulls)` running window —
    * single shuffle on user_id, no per-gap joins. */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("hr", date_trunc("hour", col("ts")).cast(TimestampNTZType))
    val hourly = e.groupBy(col("user_id"), col("hr"))
      .agg(Tables.dec(sum(Tables.dec(col("value")))).as("sumv"),
        count(lit(1)).as("n"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("user_id"),
        explode(expr("sequence(lo, hi, INTERVAL 1 HOUR)")).as("hr"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("user_id"))
      .orderBy(col("hr")).rowsBetween(W.unboundedPreceding, W.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      // double division of exact inputs (scale-6 sum, unscaled < 2^53 per
      // hour) — identical in both engines; decimal division would round
      // at engine-specific derived scales
      .withColumn("hour_mean", col("sumv").cast("double") / col("n"))
      .withColumn("filled_mean", last(col("hour_mean"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("n").isNull)
      .select(col("user_id"), col("hr"), col("filled_mean"), col("is_gap"))
  }

  /** Ordered funnel: signup → view → click → purchase, each stage's
    * first occurrence strictly after the previous stage's. Per-stage
    * user counts — one filtered min-aggregate per stage, joined on
    * user_id (all equi-joins; no window over event history). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def stage(etype: String): DataFrame = e.filter(col("event_type") === etype)
    // r22: s1–s3 are user-slivers consumed by BOTH the next stage's join
    // and the final union — un-materialized, stage k's subtree
    // re-executed in every later branch (s1 four times, s2 three … — a
    // triangular 10 scans of the event log per invocation). One
    // checkpoint per REUSED stage makes each filtered scan run once;
    // s4 feeds only the union and stays lazy.
    val s1 = stage("signup").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      .transform(Materialize)
    val s2 = stage("view").join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      .transform(Materialize)
    val s3 = stage("click").join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      .transform(Materialize)
    val s4 = stage("purchase").join(s3, "user_id").filter(col("ts") > col("t3"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t4"))
    s1.select(lit("1_signup").as("stage"), col("user_id"))
      .unionByName(s2.select(lit("2_view").as("stage"), col("user_id")))
      .unionByName(s3.select(lit("3_click").as("stage"), col("user_id")))
      .unionByName(s4.select(lit("4_purchase").as("stage"), col("user_id")))
      .groupBy(col("stage")).agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** q123: click-path transition mining — the free-form complement to
    * q70's fixed funnel: the top event-type transition edges across all
    * users, i.e. the empirical first-order Markov structure of the
    * product (what sequence-mining over behavioral logs starts from).
    *
    * Scale shape: `lead` windows PER USER (a user's event count bounds
    * the partition — never a global sort), counts combine map-side, and
    * the top-k cut is a bounded TakeOrderedAndProject. Tie-break on
    * (src, dst) makes the cut total and oracle-stable. */
  def clickTransitions(spark: SparkSession, dir: String,
                       topK: Int = 20): DataFrame = {
    require(topK >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("src"), asc("dst"))
      .limit(topK)
  }

  /** q127: robust outlier profile per event type — the data-quality
    * monitor that survives skew: median + MAD (median absolute
    * deviation) instead of mean/stddev, which one hot row can drag
    * arbitrarily. Two aggregate passes, each a single shuffle whose
    * per-type result comes BACK as a broadcast (the q125 shape — no
    * global sort, no window); flagging |x − med| > 3·MAD is map-side.
    * Exact interpolated medians (percentile ≡ quantile_cont) keep both
    * engines' thresholds bit-identical, so the outlier COUNTS — integer
    * sums of exact-double comparisons — match exactly, no tolerance. */
  def robustOutliers(spark: SparkSession, dir: String,
                     k: Double = 3.0): DataFrame = {
    require(k > 0)
    val e = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(d, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("d") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** q132: cohort retention matrix — the classic product-analytics
    * rollup: users grouped by their FIRST-activity week (the cohort),
    * counted in every week they return. Two aggregates (first event per
    * user; distinct user-weeks) and one join on the user key — no
    * window, no self-join; the matrix itself is weeks² rows, tiny at
    * any scale. Week truncation is Monday-start ISO in both engines. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val cohort = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = e.select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_week"), col("week"))
      .agg(count(lit(1)).as("n_users"))
  }

  val oracle: Map[String, String] = Map(
    "q132_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |cohort AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |           FROM e GROUP BY 1),
        |active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM e)
        |SELECT cohort_week, week, count(*) AS n_users
        |FROM active JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q127_robust_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1),
        |dev AS (SELECT e.event_type, value, med, abs(value - med) AS d
        |        FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT dev.event_type, count(*) AS n, min(med) AS med, min(mad) AS mad,
        |  CAST(sum(CASE WHEN d > 3.0e0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1""".stripMargin,
    "q123_transitions" ->
      """SELECT event_type AS src, next_type AS dst, count(*) AS n FROM (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n DESC, src, dst
        |LIMIT 20""".stripMargin,
    "q70_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t3 GROUP BY 1)
        |SELECT stage, count(DISTINCT user_id) AS n_users FROM (
        |  SELECT '1_signup' AS stage, user_id FROM s1
        |  UNION ALL SELECT '2_view', user_id FROM s2
        |  UNION ALL SELECT '3_click', user_id FROM s3
        |  UNION ALL SELECT '4_purchase', user_id FROM s4)
        |GROUP BY 1""".stripMargin,
    "q69_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
        |  FROM events),
        |hourly AS (
        |  SELECT user_id, hr,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sumv,
        |    count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM e GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |  FROM bounds),
        |joined AS (
        |  SELECT g.user_id, g.hr,
        |    CAST(h.sumv AS DOUBLE) / h.n AS hour_mean,
        |    h.n IS NULL AS is_gap
        |  FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hr = g.hr)
        |SELECT user_id, hr,
        |  last_value(hour_mean IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_mean,
        |  is_gap
        |FROM joined""".stripMargin,
    "q53_map_explode" ->
      """SELECT event_type, key, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v, max(v) AS max_v
        |FROM (
        |  SELECT event_type, 'uid' AS key, user_id AS v FROM events
        |  UNION ALL
        |  SELECT event_type, 'eid' AS key, event_id AS v FROM events
        |  UNION ALL
        |  SELECT event_type, 'k' AS key,
        |    CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS v
        |  FROM events WHERE regexp_matches(props, '"k":\s*[0-9]+'))
        |GROUP BY 1, 2""".stripMargin,
    "q15_json_extract" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS INT) % 10 AS k_bucket,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  max(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS INT)) AS max_k
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q17_sliding_window" ->
      """SELECT make_timestamp(((epoch_ms(CAST(ts AS TIMESTAMP)) // 300000) - g.i) * 300000000) AS ws,
        |  event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS i) g
        |GROUP BY 1, 2""".stripMargin,
    "q18_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
        |y AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM y GROUP BY user_id, sid""".stripMargin,
  )
}
