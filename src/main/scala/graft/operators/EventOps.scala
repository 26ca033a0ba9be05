package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Op
import graft.sources.Tables
import graft.syntax._

/** Batch operator surface over the `events` table — the batch analog of the
  * reference's weather stream (reference: logging-server/server.py:63-70
  * record shape; flink/sql/weather-aggregation.sql:38-49 flagship agg;
  * README.md:460-498 Trino/psql serving queries; visualization-server/
  * server.js:35-104 serving filters). `events.ts/event_type/value` play
  * `ts/city/temperature`.
  *
  * Scale notes (100 TB): every op here is a single declarative plan —
  * filters and projections push down to the parquet scan, aggregations run
  * partial→final (map-side combine), window functions shuffle once on the
  * partition key. No collects, no driver-side loops.
  *
  * Determinism for the DuckDB oracle: money-like doubles in this dataset
  * are exactly 2-decimal, so averages go through exact integer cents
  * (order-independent) and a fixed IEEE division order — bit-identical
  * between Spark's parallel partial aggregation and DuckDB's sequential
  * fold, with no rounding at compare boundaries.
  */
object EventOps {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Exact integer cents of a ≤2dp double column. */
  private def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * 100).cast("long")

  /** Exact order-independent average of a ≤2dp double column, bit-
    * identical across engines: integer cent sum (exact, any aggregation
    * order) → two correctly-rounded IEEE divisions in a fixed order.
    * No trailing round() — rounding a converted double can flip at a
    * half boundary when the other engine's conversion is 1 ulp away
    * (bitten at sf0.1 by DuckDB's scaled-int128 → double double-rounding).
    */
  private def exactAvg(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0 / count(lit(1))

  /** DuckDB rendering of [[exactAvg]] — identical operation order. */
  private def sqlExactAvg(c: String): String =
    s"CAST(CAST(sum(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 / count(*)"

  /** 5-second tumbling window start/end, the reference's TUMBLE grid
    * (weather-aggregation.sql:42). DuckDB mirrors Spark's epoch-floor.
    */
  private val sqlWinStart =
    "make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 5000000) * 5000000)"
  private val sqlWinEnd =
    "make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 5000000) * 5000000 + 5000000)"

  /** Flagship: batch form of the reference's streaming windowed aggregation
    * (weather-aggregation.sql:38-49): 5 s tumble × key → AVG + COUNT.
    */
  def tumbleAvg(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window($"ts", "5 seconds"), $"event_type")
      .agg(exactAvg($"value").as("avg_value"), count(lit(1)).as("cnt"))
      .select(
        $"window.start".as("window_start"),
        $"window.end".as("window_end"),
        $"event_type", $"avg_value", $"cnt")
      .orderBy($"window_start", $"event_type")

  def ops: Seq[Op] = Seq(

    // ── P1: the load-bearing string→double cast (weather-aggregation.sql:41)
    Op("cast_str_double",
      (s, d) => ev(s, d)
        .select($"event_id",
          $"value".cast("string").as("value_str"),
          $"value".cast("string").cast("double").as("value_d"))
        .orderBy($"event_id"),
      """SELECT event_id, CAST(value AS VARCHAR) AS value_str,
        |       CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value_d
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P2: string→timestamp parse (weather-aggregation.sql:6)
    Op("parse_timestamp",
      (s, d) => ev(s, d)
        .select($"event_id",
          to_timestamp(date_format($"ts", "yyyy-MM-dd HH:mm:ss"),
            "yyyy-MM-dd HH:mm:ss").as("parsed_ts"))
        .orderBy($"event_id"),
      """SELECT event_id,
        |       strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
        |                '%Y-%m-%d %H:%M:%S') AS parsed_ts
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P3: timestamp format (server.py:67 strftime)
    Op("format_timestamp",
      (s, d) => ev(s, d)
        .select($"event_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy($"event_id"),
      """SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events ORDER BY event_id""".stripMargin),

    // ── Full-table scan baseline (README.md:468 `SELECT * FROM weather`)
    //    — also the raw scan-throughput number in the bench.
    Op("scan_full",
      (s, d) => ev(s, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .orderBy($"event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P5: hour-extract filter, partition-aligned (README.md:471)
    Op("filter_hour",
      (s, d) => ev(s, d)
        .where(hour($"ts") === 14)
        .select($"event_id", $"ts", $"event_type", $"value")
        .orderBy($"event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE hour(CAST(ts AS TIMESTAMP)) = 14 ORDER BY event_id""".stripMargin),

    // ── P6: timestamp range predicate (README.md:479-481)
    Op("filter_ts_range",
      (s, d) => ev(s, d)
        .where($"ts" >= to_timestamp(lit("2024-01-10 00:00:00"))
          && $"ts" < to_timestamp(lit("2024-01-20 00:00:00")))
        .select($"event_id", $"ts", $"event_type", $"value")
        .orderBy($"event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin),

    // ── P7: IN-list membership (server.js:37-42 city = ANY($1))
    Op("filter_in_list",
      (s, d) => ev(s, d)
        .where($"event_type".isin("click", "purchase", "signup"))
        .select($"event_id", $"event_type", $"value")
        .orderBy($"event_id"),
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type IN ('click','purchase','signup') ORDER BY event_id""".stripMargin),

    // ── P8: incremental "since" predicate (server.js:77-78)
    Op("filter_since",
      (s, d) => ev(s, d)
        .where($"ts" > to_timestamp(lit("2024-01-25 12:00:00")))
        .select($"event_id", $"ts", $"event_type")
        .orderBy($"event_id"),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-25 12:00:00'
        |ORDER BY event_id""".stripMargin),

    // ── P9: not-null validation (server.py:54-61)
    Op("filter_notnull",
      (s, d) => ev(s, d)
        .where($"event_type".isNotNull && $"value".isNotNull)
        .select($"event_id", $"event_type", $"value")
        .orderBy($"event_id"),
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL ORDER BY event_id""".stripMargin),

    // ── P10: rounding (producer.py:38 round(x,2))
    Op("round_2dp",
      (s, d) => ev(s, d)
        .select($"event_id", round($"value", 2).as("r2"), round($"value", 0).as("r0"))
        .orderBy($"event_id"),
      """SELECT event_id, round(value, 2) AS r2, round(value, 0) AS r0
        |FROM events ORDER BY event_id""".stripMargin),

    // ── P12: JSON decode + canonical re-encode (server.py:70; sql:14-16)
    Op("json_roundtrip",
      (s, d) => ev(s, d)
        .select($"event_id",
          get_json_object($"props", "$.k").cast("int").as("k"),
          to_json(struct(get_json_object($"props", "$.k").cast("int").as("k")))
            .as("json_out"))
        .orderBy($"event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |       CAST(to_json({'k': CAST(json_extract_string(props, '$.k') AS INT)}) AS VARCHAR) AS json_out
        |FROM events ORDER BY event_id""".stripMargin),

    // ── S4: tolerant JSON parse (weather-aggregation.sql:15-16) — malformed
    //       rows yield null struct and are dropped, matching
    //       json.ignore-parse-errors=true.
    Op("json_parse_tolerant",
      (s, d) => ev(s, d)
        .select($"event_id",
          from_json($"props", StructType(Seq(StructField("k", IntegerType)))).as("p"))
        .where($"p".isNotNull && $"p.k".isNotNull)
        .select($"event_id", $"p.k".as("k"))
        .orderBy($"event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE json_valid(props) AND json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin),

    // ── A1: flagship tumbling-window avg+count (weather-aggregation.sql:38-49)
    Op("stream_tumble_avg",
      (s, d) => tumbleAvg(s, d),
      s"""SELECT $sqlWinStart AS window_start, $sqlWinEnd AS window_end,
         |       event_type,
         |       ${sqlExactAvg("value")} AS avg_value,
         |       count(*) AS cnt
         |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin),

    // ── SQL entry path: the reference's Trino acceptance query shape
    //    submitted as SQL text (README.md:474-476 `SELECT city,
    //    AVG(CAST(temperature AS DOUBLE)) … GROUP BY city`) — a reference
    //    user's SQL runs unchanged through spark.sql over the registered
    //    view; same oracle as the DataFrame form.
    Op("sql_groupby_avg",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events_v")
        s.sql(s"""
          |SELECT event_type,
          |       CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 / count(*)
          |         AS avg_value,
          |       count(*) AS cnt
          |FROM events_v GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      s"""SELECT event_type,
         |       ${sqlExactAvg("value")} AS avg_value, count(*) AS cnt
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── SQL-text surface breadth: CTE + ranked window, all in one
    //    spark.sql() statement (the reference's ad-hoc Trino SQL path,
    //    README.md:468-476) — top-3 busiest days per event type.
    Op("sql_cte_window",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events_v")
        s.sql("""
          |WITH daily AS (
          |  SELECT event_type, to_date(ts) AS day, count(*) AS cnt
          |  FROM events_v GROUP BY event_type, to_date(ts))
          |SELECT event_type, day, cnt, rk FROM (
          |  SELECT *, CAST(rank() OVER (PARTITION BY event_type
          |             ORDER BY cnt DESC, day) AS BIGINT) AS rk
          |  FROM daily) t
          |WHERE rk <= 3 ORDER BY event_type, rk, day""".stripMargin)
      },
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, cnt, rk FROM (
        |  SELECT *, CAST(rank() OVER (PARTITION BY event_type
        |             ORDER BY cnt DESC, day) AS BIGINT) AS rk
        |  FROM daily) t
        |WHERE rk <= 3 ORDER BY event_type, rk, day""".stripMargin),

    // ── Explicit GROUPING SETS (the cube/rollup sibling, SQL text).
    Op("grouping_sets_counts",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events_v")
        s.sql("""
          |SELECT event_type, hr, count(*) AS n FROM (
          |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr FROM events_v) t
          |GROUP BY GROUPING SETS ((event_type), (hr))
          |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin)
      },
      """SELECT event_type, hr, count(*) AS n FROM (
        |  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr
        |  FROM events) t
        |GROUP BY GROUPING SETS ((event_type), (hr))
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin),

    // ── A2: batch group-by AVG over cast (README.md:474-476)
    Op("groupby_avg",
      (s, d) => ev(s, d)
        .groupBy($"event_type")
        .agg(exactAvg($"value".cast("string").cast("double")).as("avg_value"),
          count(lit(1)).as("cnt"))
        .orderBy($"event_type"),
      s"""SELECT event_type,
         |       ${sqlExactAvg("CAST(CAST(value AS VARCHAR) AS DOUBLE)")} AS avg_value,
         |       count(*) AS cnt
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── A3: re-aggregation of aggregates (README.md:494-497)
    Op("reagg_avg_sum",
      (s, d) => ev(s, d)
        .groupBy(window($"ts", "5 seconds"), $"event_type")
        .agg(exactAvg($"value").as("avg_value"), count(lit(1)).as("cnt"))
        .groupBy($"event_type")
        .agg(round(avg($"avg_value"), 4).as("overall_avg"), sum($"cnt").as("total_cnt"))
        .orderBy($"overall_avg".desc, $"event_type"),
      s"""WITH w AS (
         |  SELECT $sqlWinStart AS ws, event_type,
         |         ${sqlExactAvg("value")} AS avg_value, count(*) AS cnt
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, round(avg(avg_value), 4) AS overall_avg,
         |       CAST(sum(cnt) AS BIGINT) AS total_cnt
         |FROM w GROUP BY event_type ORDER BY overall_avg DESC, event_type""".stripMargin),

    // ── A4: global stats (index.html:432-449 dashboard stats bar)
    Op("global_stats",
      (s, d) => ev(s, d)
        .agg(count(lit(1)).as("n"),
          exactAvg($"value").as("avg_value"),
          min($"value").as("min_value"),
          max($"value").as("max_value"),
          countDistinct($"user_id").as("n_users")),
      s"""SELECT count(*) AS n, ${sqlExactAvg("value")} AS avg_value,
         |       min(value) AS min_value, max(value) AS max_value,
         |       count(DISTINCT user_id) AS n_users
         |FROM events""".stripMargin),

    // ── A5: last value per key (index.html:378-379 latest badge)
    Op("last_per_key",
      (s, d) => ev(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type").orderBy($"ts".desc, $"event_id".desc)))
        .where($"rn" === 1)
        .select($"event_type", $"event_id", $"value", $"ts")
        .orderBy($"event_type"),
      """SELECT event_type, event_id, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin),

    // ── O1: multi-key sort (server.js:41,79)
    Op("sort_multikey",
      (s, d) => ev(s, d)
        .select($"event_type", $"user_id", $"event_id", $"value")
        .orderBy($"event_type", $"user_id", $"event_id"),
      """SELECT event_type, user_id, event_id, value FROM events
        |ORDER BY event_type, user_id, event_id""".stripMargin),

    // ── O2: top-N sort+limit (README.md:491)
    Op("topn",
      (s, d) => ev(s, d)
        .select($"event_id", $"event_type", $"value")
        .orderBy($"value".desc, $"event_id")
        .limit(10),
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 10""".stripMargin),

    // ── O2 on the serving table: latest aggregated windows
    //    (README.md:491 `SELECT * FROM weather ORDER BY window_start
    //    DESC LIMIT 10` — top-N over the AGGREGATE, not the raw stream).
    Op("topn_windows",
      (s, d) => tumbleAvg(s, d)
        .orderBy($"window_start".desc, $"event_type")
        .limit(10),
      s"""SELECT * FROM (
         |  SELECT $sqlWinStart AS window_start, $sqlWinEnd AS window_end,
         |         event_type, ${sqlExactAvg("value")} AS avg_value,
         |         count(*) AS cnt
         |  FROM events GROUP BY 1, 2, 3)
         |ORDER BY window_start DESC, event_type LIMIT 10""".stripMargin),

    // ── O4: keep-last-100 per key (index.html:336-339 slice(-100))
    Op("keep_last_100",
      (s, d) => ev(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type").orderBy($"ts".desc, $"event_id".desc))
          .cast("long"))
        .where($"rn" <= 100)
        .select($"event_type", $"event_id", $"value", $"rn")
        .orderBy($"event_type", $"rn"),
      """SELECT event_type, event_id, value, rn
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn <= 100 ORDER BY event_type, rn""".stripMargin),

    // ── T7-ext: sliding window (10 s window, 5 s slide) — beyond the
    //    reference's tumble-only surface (SURVEY §2.5 T7).
    Op("sliding_window_avg",
      (s, d) => ev(s, d)
        .groupBy(window($"ts", "10 seconds", "5 seconds"), $"event_type")
        .agg(exactAvg($"value").as("avg_value"), count(lit(1)).as("cnt"))
        .select($"window.start".as("window_start"), $"window.end".as("window_end"),
          $"event_type", $"avg_value", $"cnt")
        .orderBy($"window_start", $"event_type"),
      s"""WITH e AS (
         |  SELECT event_type, value,
         |         (epoch_us(CAST(ts AS TIMESTAMP)) // 5000000) * 5000000 AS b
         |  FROM events),
         |w AS (SELECT event_type, value, unnest([b, b - 5000000]) AS ws FROM e)
         |SELECT make_timestamp(ws) AS window_start,
         |       make_timestamp(ws + 10000000) AS window_end, event_type,
         |       ${sqlExactAvg("value")} AS avg_value, count(*) AS cnt
         |FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin),

    // ── T7-ext: session window (10 min inactivity gap) per key.
    Op("session_window_stats",
      (s, d) => ev(s, d)
        .groupBy(session_window($"ts", "10 minutes"), $"event_type")
        .agg(exactAvg($"value").as("avg_value"), count(lit(1)).as("cnt"))
        .select($"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"),
          $"event_type", $"avg_value", $"cnt")
        .orderBy($"session_start", $"event_type"),
      s"""WITH o AS (
         |  SELECT event_type, value, event_id, CAST(ts AS TIMESTAMP) AS t,
         |         CASE WHEN t - lag(t) OVER (PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)
         |                   >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
         |  FROM events),
         |s AS (
         |  SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY t, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM o)
         |SELECT min(t) AS session_start, max(t) + INTERVAL 10 MINUTE AS session_end,
         |       event_type, ${sqlExactAvg("value")} AS avg_value,
         |       count(*) AS cnt
         |FROM s GROUP BY event_type, sid ORDER BY session_start, event_type""".stripMargin),

    // ── Session-gap parameter sweep: sessionize under FOUR candidate
    //    inactivity gaps in one scan — the tuning loop that picks a gap
    //    parameter normally re-runs sessionization per candidate; here
    //    the lag diff is computed once (one window shuffle), the gap
    //    list is exploded afterwards, and one aggregation counts
    //    session breaks per (type, gap). Break semantics match
    //    session_window_stats (diff >= gap starts a new session).
    Op("session_gap_sweep",
      (s, d) => {
        val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
        val gaps = Seq(1, 5, 10, 30)
        ev(s, d)
          .withColumn("d_us", unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w))
          .select($"event_type", $"d_us",
            explode(array(gaps.map(g => lit(g.toLong)): _*)).as("gap_min"))
          .groupBy($"event_type", $"gap_min")
          .agg(sum(when($"d_us".isNull || $"d_us" >= $"gap_min" * 60000000L, 1L)
            .otherwise(0L)).as("sessions"),
            count(lit(1)).as("events"))
          .orderBy($"event_type", $"gap_min")
      },
      """WITH o AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |               PARTITION BY event_type
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS d_us
        |  FROM events),
        |g AS (SELECT event_type, d_us, unnest([1, 5, 10, 30]) AS gap_min FROM o)
        |SELECT event_type, CAST(gap_min AS BIGINT) AS gap_min,
        |       CAST(sum(CASE WHEN d_us IS NULL OR d_us >= gap_min * 60000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        |       CAST(count(*) AS BIGINT) AS events
        |FROM g GROUP BY 1, 2 ORDER BY event_type, gap_min""".stripMargin),

    // ── Data profiling: one-pass per-column stats — the data-quality
    //    primitive every ingest pipeline runs before training.
    Op("profile_events",
      (s, d) => ev(s, d).agg(
        count(lit(1)).as("n_rows"),
        count($"event_type").as("type_nonnull"),
        countDistinct($"event_type").as("type_distinct"),
        countDistinct($"user_id").as("user_distinct"),
        min($"value").as("value_min"),
        max($"value").as("value_max"),
        exactAvg($"value").as("value_avg"),
        min($"ts").as("ts_min"),
        max($"ts").as("ts_max")),
      s"""SELECT count(*) AS n_rows,
         |  count(event_type) AS type_nonnull,
         |  count(DISTINCT event_type) AS type_distinct,
         |  count(DISTINCT user_id) AS user_distinct,
         |  min(value) AS value_min, max(value) AS value_max,
         |  ${sqlExactAvg("value")} AS value_avg,
         |  min(CAST(ts AS TIMESTAMP)) AS ts_min,
         |  max(CAST(ts AS TIMESTAMP)) AS ts_max
         |FROM events""".stripMargin),

    // ── Dead-letter pattern: tolerant parse with quarantine — rows whose
    //    (deterministically corrupted) payload fails JSON parsing are
    //    split out instead of dropped, with per-disposition counts.
    Op("quarantine_split",
      (s, d) => {
        val dirty = ev(s, d).withColumn("props2",
          when($"event_id" % 97 === 0, lit("{corrupt")).otherwise($"props"))
        dirty
          .withColumn("parsed",
            from_json($"props2", StructType(Seq(StructField("k", IntegerType)))))
          .withColumn("disposition",
            when($"parsed".isNotNull && $"parsed.k".isNotNull, "ok")
              .otherwise("quarantined"))
          .groupBy($"disposition")
          .agg(count(lit(1)).as("n"))
          .orderBy($"disposition")
      },
      """SELECT CASE WHEN event_id % 97 != 0 AND json_valid(props)
        |            AND json_extract_string(props, '$.k') IS NOT NULL
        |       THEN 'ok' ELSE 'quarantined' END AS disposition, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY disposition""".stripMargin),

    // ── Set operation: (user, day) pairs with a click but no purchase
    //    (EXCEPT — anti-join shaped at scale, one shuffle per side).
    Op("except_users",
      (s, d) => {
        val ev0 = ev(s, d)
        def pairs(t: String) = ev0.where($"event_type" === t)
          .select($"user_id", to_date($"ts").as("day")).distinct()
        pairs("click").except(pairs("purchase")).orderBy($"user_id", $"day")
      },
      """SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin),

    // ── Incremental aggregation: a materialized pre-cutoff aggregate
    //    merged with the post-cutoff delta must equal the full recompute
    //    (the incremental-view-maintenance pattern behind P8's "since"
    //    polling — only the delta is scanned on refresh). The oracle IS
    //    the full recompute, so the merge algebra is what's checked.
    Op("incremental_agg",
      (s, d) => {
        val cutoff = to_timestamp(lit("2024-01-20 00:00:00"))
        def partial(df: DataFrame) = df.groupBy($"event_type")
          .agg(sum(cents($"value")).as("pc"), count(lit(1)).as("pn"))
        val base  = partial(ev(s, d).where($"ts" <  cutoff))
        val delta = partial(ev(s, d).where($"ts" >= cutoff))
        base.unionByName(delta)
          .groupBy($"event_type")
          .agg((sum($"pc").cast("double") / 100.0 / sum($"pn")).as("avg_value"),
            sum($"pn").as("cnt"))
          .orderBy($"event_type")
      },
      s"""SELECT event_type, ${sqlExactAvg("value")} AS avg_value,
         |       count(*) AS cnt
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── INTERSECT: (user, day) pairs active in both click AND purchase.
    Op("intersect_users",
      (s, d) => {
        val ev0 = ev(s, d)
        def pairs(t: String) = ev0.where($"event_type" === t)
          .select($"user_id", to_date($"ts").as("day")).distinct()
        pairs("click").intersect(pairs("purchase")).orderBy($"user_id", $"day")
      },
      """SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin),

    // ── CUBE: event counts with all (type × hour-of-day) subtotal combos.
    Op("cube_counts",
      (s, d) => ev(s, d)
        .withColumn("hr", hour($"ts").cast("long"))
        .cube($"event_type", $"hr")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type".asc_nulls_first, $"hr".asc_nulls_first),
      """SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |       count(*) AS n
        |FROM events GROUP BY CUBE (event_type, hr)
        |ORDER BY event_type ASC NULLS FIRST, hr ASC NULLS FIRST""".stripMargin),

    // ── PIVOT: per-day counts pivoted to one column per event type
    //    (portable CASE-aggregation form on the oracle side).
    Op("pivot_daily_counts",
      (s, d) => ev(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day")
        .pivot("event_type", Seq("click", "purchase", "signup", "view", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"day"),
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),

    // ── UNPIVOT/melt: the pivoted daily counts back to long form
    //    (wide→long reshaping; oracle via portable UNION ALL).
    Op("unpivot_daily_counts",
      (s, d) => ev(s, d)
        .withColumn("day", to_date($"ts"))
        .groupBy($"day")
        .pivot("event_type", Seq("click", "purchase"))
        .agg(count(lit(1))).na.fill(0L)
        .unpivot(Array($"day"), Array($"click", $"purchase"), "event_type", "n")
        .orderBy($"day", $"event_type"),
      """WITH p AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) FILTER (WHERE event_type = 'click') AS click,
        |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase
        |  FROM events GROUP BY 1)
        |SELECT day, event_type, n FROM (
        |  SELECT day, 'click' AS event_type, click AS n FROM p
        |  UNION ALL
        |  SELECT day, 'purchase' AS event_type, purchase AS n FROM p)
        |ORDER BY day, event_type""".stripMargin),

    // ── Window analytics: per-key delta vs previous event (lag) — the
    //    change-detection primitive of the serving layer.
    Op("lag_delta",
      (s, d) => {
        val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
        ev(s, d)
          .select($"event_type", $"event_id", $"value",
            round($"value" - lag($"value", 1).over(w), 4).as("delta"))
          .orderBy($"event_type", $"event_id")
      },
      """SELECT event_type, event_id, value,
        |  round(value - lag(value, 1) OVER (PARTITION BY event_type
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id), 4) AS delta
        |FROM events ORDER BY event_type, event_id""".stripMargin),

    // ── Window analytics: trailing moving average over the last 4 events
    //    per key (frame-bounded window aggregation).
    Op("moving_avg",
      (s, d) => {
        val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
          .rowsBetween(-3, 0)
        ev(s, d)
          .select($"event_type", $"event_id",
            round(avg($"value").over(w), 4).as("ma4"))
          .orderBy($"event_type", $"event_id")
      },
      """SELECT event_type, event_id,
        |  round(avg(value) OVER (PARTITION BY event_type
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma4
        |FROM events ORDER BY event_type, event_id""".stripMargin),

    // ── Time-based window frame: RANGE BETWEEN over microsecond offsets
    //    (trailing 1-hour per-key average) — the frame is value-defined,
    //    not row-count-defined, so late-sparse and dense regions get the
    //    same time horizon. Both engines frame on integer epoch-µs, so
    //    boundaries are exact; the cents sum + single division keeps the
    //    average bit-identical.
    Op("moving_avg_time",
      (s, d) => {
        val w = Window.partitionBy($"event_type").orderBy(unix_micros($"ts"))
          .rangeBetween(-3600L * 1000000L, 0L)
        ev(s, d)
          .select($"event_id", $"event_type",
            (sum(cents($"value")).over(w).cast("double") / 100.0
              / count(lit(1)).over(w)).as("win_avg"),
            count(lit(1)).over(w).as("win_n"))
          .orderBy($"event_id")
      },
      """SELECT event_id, event_type,
        |       CAST(win_cents AS DOUBLE)/100.0/win_n AS win_avg, win_n
        |FROM (
        |  SELECT event_id, event_type,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) OVER w AS BIGINT) AS win_cents,
        |         count(*) OVER w AS win_n
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |ORDER BY event_id""".stripMargin),

    // ── Rank-family window analytics: ntile deciles, percent_rank,
    // cume_dist per key (deterministic via the event_id tie-break; the
    // rank→double math is identical IEEE on both engines given unique
    // ordering). One window shuffle on event_type.
    Op("rank_analytics",
      (s, d) => {
        val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
        ev(s, d)
          .select($"event_type", $"event_id", $"value",
            ntile(10).over(w).cast("long").as("decile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy($"event_type", $"event_id")
      },
      """SELECT event_type, event_id, value,
        |  CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin),

    // ── Exact median per key (percentile_cont 0.5, linear interpolation).
    Op("median_value",
      (s, d) => ev(s, d)
        .groupBy($"event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("median_v"),
          count(lit(1)).as("cnt"))
        .orderBy($"event_type"),
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_v,
        |       count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── Skew pattern: salted two-phase aggregation — same result as the
    //    direct groupBy (proved by the oracle) but the hot key's rows
    //    spread over 8 shuffle partitions first. The decimal sums make
    //    the two-phase recombination exact, not approximately equal.
    Op("salted_agg",
      (s, d) => ev(s, d)
        .withColumn("salt", pmod(hash($"event_id"), lit(8)))
        .groupBy($"event_type", $"salt")
        .agg(sum(cents($"value")).as("psum"), count(lit(1)).as("pcnt"))
        .groupBy($"event_type")
        .agg((sum($"psum").cast("double") / 100.0 / sum($"pcnt")).as("avg_value"),
          sum($"pcnt").as("cnt"))
        .orderBy($"event_type"),
      s"""SELECT event_type, ${sqlExactAvg("value")} AS avg_value,
         |       count(*) AS cnt
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ── Skew pattern: SALTED shuffle join — the build side (per-type
    //    stats, too hot-keyed to shuffle-join raw at scale) is replicated
    //    once per salt so the probe side's hot key spreads over 8
    //    partitions. SHUFFLE_HASH hint keeps the demonstration honest
    //    (no auto-broadcast); the oracle is the UNSALTED join — the
    //    rewrite must be result-identical, only the partitioning moves.
    //    (With a genuinely small build side, broadcast wins; this is the
    //    fallback shape next to AQE skew-join for mid-size build sides.)
    Op("salted_join",
      (s, d) => {
        val dim = ev(s, d).groupBy($"event_type")
          .agg((sum(cents($"value")).cast("double") / 100.0 / count(lit(1)))
            .as("type_avg"))
        val saltedDim = dim.select($"event_type", $"type_avg",
          explode(expr("sequence(0, 7)")).as("salt"))
        ev(s, d)
          .withColumn("salt", pmod(hash($"event_id"), lit(8)))
          .join(saltedDim.hint("shuffle_hash"), Seq("event_type", "salt"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when($"value" > $"type_avg", 1L).otherwise(0L)).as("n_above"),
            max($"type_avg").as("type_avg"))
          .orderBy($"event_type")
      },
      s"""WITH dim AS (
         |  SELECT event_type, ${sqlExactAvg("value")} AS type_avg
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type, count(*) AS n_events,
         |       CAST(sum(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |       max(d.type_avg) AS type_avg
         |FROM events e JOIN dim d ON e.event_type = d.event_type
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    // ── O4 at scale: same keep-last-100 semantics through a bounded-heap
    //    typed Aggregator — partial aggregation caps each key at 100 rows
    //    per partition BEFORE the shuffle (see functions/BoundedTopK).
    //    The heap ranks (key desc, id asc), so the id is -event_id:
    //    (ts desc, event_id desc), the window's order. Same oracle as
    //    keep_last_100.
    Op("keep_last_100_agg",
      (s, d) => {
        val topk = udaf(graft.functions.BoundedTopK.agg(100))
        ev(s, d)
          .groupBy($"event_type")
          .agg(topk(unix_micros($"ts"), -$"event_id", $"value").as("top"))
          .select($"event_type", posexplode($"top").as(Seq("pos", "r")))
          .select($"event_type", (-$"r.id").as("event_id"),
            $"r.payload".as("value"), ($"pos" + 1).cast("long").as("rn"))
          .orderBy($"event_type", $"rn")
      },
      """SELECT event_type, event_id, value, rn
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn <= 100 ORDER BY event_type, rn""".stripMargin),

    // ── O5: collect per-key series (server.js:45-57 regroup per city).
    //    The collected list is emitted CSV-serialized (sorted as longs
    //    first, then stringified) — the driver's pandas harness can't
    //    sort top-level array columns, and a joined string carries the
    //    identical information with the same row/hash semantics.
    Op("collect_per_key",
      (s, d) => ev(s, d)
        .groupBy($"event_type")
        .agg(
          array_join(
            transform(sort_array(collect_list($"event_id")),
              x => x.cast("string")), ",").as("ids"),
          count(lit(1)).as("cnt"))
        .orderBy($"event_type"),
      """SELECT event_type,
        |       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids,
        |       count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Table profiling — the first query every pipeline runs against an
    // unfamiliar table: per-column row count, null count, EXACT distinct
    // count, and min/max (strings in *_str, numerics in *_num — double
    // formatting is not engine-portable, so numerics never stringify).
    // One global pass computes count/nulls/min/max; each exact distinct
    // is its own column-pruned hash aggregate (see the in-op comment);
    // `stack` unpivots the joined 1-row result into a row per column.
    // `ts` is excluded here (its profile lives in the metadata path:
    // MetadataOnlyCount answers min/max/count from manifest bounds
    // without any scan).
    //
    // 100 TB: exact COUNT(DISTINCT) is the oracle-exact tier; at cluster
    // scale the profiling default is the sketch tier
    // (approx_distinct_kmv / quantile_tdigest ops) and this exact form
    // is for bounded slices.
    Op("profile_table",
      (s, d) => {
        // r15 rework (guide §1.2 "the distributed algorithm first"): the
        // former single Expand-based multi-distinct aggregate multiplied
        // every row ×6 and — because min/max over STRING columns make
        // the aggregation buffer immutable — planned as THREE
        // SortAggregates over the expanded width with full sorts
        // (measured 1.8 s at sf0.1). Split instead into (a) ONE global
        // pass for count/nulls/min/max — no grouping keys, so no sort —
        // and (b) one column-pruned hash-distinct per column, each
        // shuffling only its own column's map-side-deduped values. At
        // 100 TB this is strictly less work too: 5 single-column
        // shuffles instead of a 6×-multiplied full-width sort-aggregate
        // chain. Each 1-row distinct count broadcast-joins back.
        val e = ev(s, d)
        def nullsOf(c: String) =
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(c + "_nulls")
        val base = e.agg(
          count(lit(1)).as("n"),
          nullsOf("event_id"),
          min($"event_id").cast("double").as("event_id_min"),
          max($"event_id").cast("double").as("event_id_max"),
          nullsOf("user_id"),
          min($"user_id").cast("double").as("user_id_min"),
          max($"user_id").cast("double").as("user_id_max"),
          nullsOf("value"),
          min($"value").as("value_min"), max($"value").as("value_max"),
          nullsOf("event_type"),
          min($"event_type").as("event_type_min"),
          max($"event_type").as("event_type_max"),
          nullsOf("props"),
          min($"props").as("props_min"), max($"props").as("props_max"))
        // count(DISTINCT c) semantics exactly: nulls excluded
        def distOf(c: String) =
          e.select(col(c)).where(col(c).isNotNull).distinct()
            .agg(count(lit(1)).as(c + "_dist"))
        val agg = base
          .crossJoin(broadcast(distOf("event_id")))
          .crossJoin(broadcast(distOf("user_id")))
          .crossJoin(broadcast(distOf("value")))
          .crossJoin(broadcast(distOf("event_type")))
          .crossJoin(broadcast(distOf("props")))
        agg.select(expr(
          """stack(5,
            |'event_id',   n, event_id_nulls,   event_id_dist,
            |  CAST(NULL AS STRING), CAST(NULL AS STRING), event_id_min, event_id_max,
            |'event_type', n, event_type_nulls, event_type_dist,
            |  event_type_min, event_type_max, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            |'props',      n, props_nulls,      props_dist,
            |  props_min, props_max, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            |'user_id',    n, user_id_nulls,    user_id_dist,
            |  CAST(NULL AS STRING), CAST(NULL AS STRING), user_id_min, user_id_max,
            |'value',      n, value_nulls,      value_dist,
            |  CAST(NULL AS STRING), CAST(NULL AS STRING), value_min, value_max)
            | AS (col_name, n, n_null, n_distinct, min_str, max_str, min_num, max_num)
            |""".stripMargin))
          .orderBy($"col_name")
      },
      """SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
        |  CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT),
        |  min(event_type), max(event_type),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'props', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT props) AS BIGINT),
        |  min(props), max(props),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |  CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'value', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(count(DISTINCT value) AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |  min(value), max(value)
        |FROM events
        |ORDER BY col_name""".stripMargin)
  )
}
