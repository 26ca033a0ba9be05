package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.sources.Tables
import graft.syntax._

/** Temporal join operators Spark lacks natively — as-of join and range
  * join — composed Spark-first from existing relational algebra (the (a)
  * tier of the custom-operator ladder) with scale-safe shapes:
  *
  * - As-of: union + keyed last-non-null window — ONE shuffle on the key,
  *   no inequality join, no per-row probing. The classic distributed
  *   merge-asof.
  * - Range: bucketized equi-join on coarse time buckets + exact filter —
  *   turns an inequality join (cartesian-per-key in naive engines) into
  *   an equi-join whose cost is Σ bucket-pair sizes.
  */
object TemporalJoins {

  /** For each left event (clicks), attach the most recent right event
    * (errors) of the same user with r.ts <= l.ts (inclusive). Inner
    * semantics: clicks with no prior error are dropped — matching DuckDB
    * `ASOF JOIN`.
    */
  def asofJoin(s: SparkSession, d: String,
      leftType: String = "click", rightType: String = "error"): DataFrame = {
    val ev = Tables.events(s, d)
    // dedupe right on (user_id, ts): keep max event_id so equal-ts rows
    // are deterministic on both engines
    val rWin = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val r = ev.where($"event_type" === rightType)
      .withColumn("rn", row_number().over(rWin)).where($"rn" === 1)
      .select($"user_id", $"ts", $"event_id", $"value", lit(0).as("side"))
    val l = ev.where($"event_type" === leftType)
      .select($"user_id", $"ts", $"event_id", $"value", lit(1).as("side"))
    // union ordered by (ts, side): right rows at equal ts sort first →
    // inclusive r.ts <= l.ts
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"side", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The matched right row travels as ONE struct through a single
    // last(ignoreNulls) so r_ts/r_value always come from the same row —
    // a right row whose value is NULL still wins the match (ASOF JOIN
    // matches on time, not value non-nullness).
    l.unionByName(r)
      .withColumn("r_match",
        last(when($"side" === 0, struct($"ts", $"value")),
          ignoreNulls = true).over(w))
      .where($"side" === 1 && $"r_match".isNotNull)
      .select($"event_id", $"user_id", $"ts", $"value",
        $"r_match.ts".as("r_ts"), $"r_match.value".as("r_value"))
      .orderBy($"event_id")
  }

  /** Same as-of semantics through the NATIVE custom operator
    * ([[graft.plans.AsOfJoin]]: LogicalPlan + Strategy + SparkPlan,
    * single-pass sorted merge, O(1) retained state per partition).
    */
  def asofJoinNative(s: SparkSession, d: String,
      leftType: String = "click", rightType: String = "error"): DataFrame = {
    val ev = Tables.events(s, d)
    val rWin = Window.partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val r = ev.where($"event_type" === rightType)
      .withColumn("rn", row_number().over(rWin)).where($"rn" === 1)
      .select($"user_id".as("r_user_id"), unix_micros($"ts").as("r_t"),
        $"ts".as("r_ts"), $"value".as("r_value"))
    val l = ev.where($"event_type" === leftType)
      .select($"event_id", $"user_id", unix_micros($"ts").as("l_t"), $"ts", $"value")
    graft.plans.AsOfJoin(l, r, "user_id", "r_user_id", "l_t", "r_t")
      .select($"event_id", $"user_id", $"ts", $"value", $"r_ts", $"r_value")
      .orderBy($"event_id")
  }

  /** Events joined to the per-key sessions containing them (interval
    * containment), bucketized: sessions explode to the hour buckets they
    * span, events join on (key, hour bucket) equi-keys, then the exact
    * range predicate filters. Session end is exclusive (Spark
    * session_window semantics: end = last event + gap).
    */
  def rangeJoinSessions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val sessions = ev
      .groupBy(session_window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("sess_n"))
      .select($"event_type".as("s_type"),
        $"session_window.start".as("s_start"),
        $"session_window.end".as("s_end"), $"sess_n")
    val bucket = 3600L // 1 hour in seconds
    val sessB = sessions.withColumn("b",
      explode(sequence(
        floor(unix_timestamp($"s_start") / bucket).cast("long"),
        floor((unix_timestamp($"s_end") - 1) / bucket).cast("long"))))
    val evB = ev.select($"event_id", $"event_type", $"ts")
      .withColumn("b", floor(unix_timestamp($"ts") / bucket).cast("long"))
    evB.join(sessB, evB("event_type") === sessB("s_type") && evB("b") === sessB("b"))
      .where($"ts" >= $"s_start" && $"ts" < $"s_end")
      .select($"event_id", $"event_type", $"s_start", $"s_end", $"sess_n")
      .orderBy($"event_id")
  }

  /** Items `approx_top_k` tracks (and returns) for approx_top_users. */
  private val TopUsersK = 4096

  /** Top-10 users by event count, (cnt desc, user) on the string form. */
  private[graft] def topUsers(events: DataFrame): DataFrame =
    events
      .agg(expr(s"approx_top_k(user_id, $TopUsersK, $TopUsersK)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item".cast("string").as("user"), $"e.count".as("cnt"))
      .orderBy($"cnt".desc, $"user".asc_nulls_last)
      .limit(10)

  /** Per event_type: n, and whether each KLL p50/p95/p99 estimate has
    * rank error ≤ 0.05 against the group's own values.
    */
  private[graft] def quantileRankCheck(events: DataFrame): DataFrame = {
    val est = events
      .groupBy($"event_type")
      .agg(kll_sketch_agg_double($"value").as("sk"))
      .select($"event_type",
        kll_sketch_get_quantile_double($"sk", lit(0.5)).as("q50"),
        kll_sketch_get_quantile_double($"sk", lit(0.95)).as("q95"),
        kll_sketch_get_quantile_double($"sk", lit(0.99)).as("q99"))
    events.join(broadcast(est), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        avg(when($"value" <= $"q50", 1.0).otherwise(0.0)).as("r50"),
        avg(when($"value" <= $"q95", 1.0).otherwise(0.0)).as("r95"),
        avg(when($"value" <= $"q99", 1.0).otherwise(0.0)).as("r99"))
      .select($"event_type", $"n",
        (abs($"r50" - 0.5) <= 0.05).as("p50_rank_ok"),
        (abs($"r95" - 0.95) <= 0.05).as("p95_rank_ok"),
        (abs($"r99" - 0.99) <= 0.05).as("p99_rank_ok"))
      .orderBy($"event_type")
  }

  def ops: Seq[Op] = Seq(

    Op("asof_join",
      (s, d) => asofJoin(s, d),
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |          ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'error')
        |  WHERE rn = 1),
        |l AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS r_ts, r.value AS r_value
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    Op("asof_join_native",
      (s, d) => asofJoinNative(s, d),
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |          ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'error')
        |  WHERE rn = 1),
        |l AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS r_ts, r.value AS r_value
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    Op("range_join_sessions",
      (s, d) => rangeJoinSessions(s, d),
      """WITH w AS (
        |  SELECT event_type, value, CAST(ts AS TIMESTAMP) AS t, event_id,
        |         CASE WHEN t - lag(t) OVER (PARTITION BY event_type ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |              >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sid AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY t, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM w),
        |sess AS (
        |  SELECT event_type AS s_type, min(t) AS s_start,
        |         max(t) + INTERVAL 10 MINUTE AS s_end, count(*) AS sess_n
        |  FROM sid GROUP BY event_type, sid)
        |SELECT e.event_id, e.event_type, s.s_start, s.s_end, s.sess_n
        |FROM events e JOIN sess s
        |  ON e.event_type = s.s_type
        | AND CAST(e.ts AS TIMESTAMP) >= s.s_start
        | AND CAST(e.ts AS TIMESTAMP) < s.s_end
        |ORDER BY e.event_id""".stripMargin),

    // Distinct-count sketch: HLL++ estimate vs exact. Sketch INTERNALS
    // differ across engines, but the estimate is DETERMINISTIC for a
    // given input — so the error-bound check itself is oracle-exact: the
    // op emits the exact count plus a boolean |hll−exact|/exact ≤ 5%
    // (2.5× the configured 2% rsd), and the oracle recomputes the exact
    // side with TRUE. A hash match PROVES the bound held on every group;
    // the raw estimate remains spec-tested (KmvSketchSpec rel-error vs
    // KMV ground truth).
    Op("approx_distinct_users",
      (s, d) => Tables.events(s, d)
        .groupBy($"event_type")
        .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"),
          countDistinct($"user_id").as("exact_users"))
        .select($"event_type", $"exact_users",
          (abs($"approx_users" - $"exact_users") <=
            $"exact_users" * lit(0.05)).as("hll_ok"))
        .orderBy($"event_type"),
      Some("""SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Mergeable KMV distinct sketch (native TypedImperativeAggregate,
    // functions/KmvSketch.scala): set-union merge across partitions —
    // merge(sk(A), sk(B)) IS sk(A∪B), proved in KmvSketchSpec. The keyed
    // form runs the PORTABLE hash family (md5-derived 64-bit, exact
    // integer estimator) at k=64 < the ~150 distinct users per type, so
    // the estimator branch itself — k-th order statistic and all — is
    // hash-exact against DuckDB, not just rows-only.
    Op("approx_distinct_kmv",
      (s, d) => Tables.events(s, d)
        .groupBy($"event_type")
        .agg(graft.functions.KmvSketch.kmvDistinctPortable($"user_id", 64)
            .as("kmv_users"),
          countDistinct($"user_id").as("exact_users"))
        .orderBy($"event_type"),
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 16))::UBIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM h),
        |est AS (
        |  SELECT event_type, max(n) AS nh,
        |    max(CASE WHEN rn = 64 THEN h END) AS hk
        |  FROM r GROUP BY event_type),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY event_type)
        |SELECT ex.event_type,
        |  CAST(CASE WHEN est.nh < 64 THEN est.nh
        |       ELSE (63::HUGEINT * 18446744073709551616::HUGEINT)
        |            // est.hk::HUGEINT END AS BIGINT) AS kmv_users,
        |  ex.exact_users
        |FROM ex JOIN est USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    // Mergeable quantile sketch: per-type p50/p95/p99 of value through
    // Spark's built-in KLL sketch (`kll_sketch_agg_double`, default k;
    // one sketch per group, three quantiles read off it). An estimate's
    // VALUE isn't cross-engine comparable — and KLL compaction is
    // randomized, so it is not even stable run to run — but its RANK
    // ERROR is the quantity KLL bounds (~1.7% at k=200). So the op ranks
    // each estimate against the group's own data (fraction of values ≤
    // estimate) and emits booleans |rank − q| ≤ 0.05, which the oracle
    // matches with TRUE. A hash match proves the rank-error bound held
    // on every group (the same bound SketchOpsSpec checks on adversarial
    // inputs over repeated runs).
    Op("quantile_tdigest",
      (s, d) => quantileRankCheck(Tables.events(s, d)),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS p50_rank_ok, TRUE AS p95_rank_ok, TRUE AS p99_rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Heavy hitters: top-10 users by event count through Spark's
    // built-in mergeable `approx_top_k` (DataSketches frequent items).
    // It tracks TopUsersK items, more than the distinct users of every
    // test SF (150 at sf0.01, 1,500 at sf0.1), so no counter is ever
    // purged and every count is exact: the result is oracle-exact. A
    // null user_id counts as one item, as it is one group of the
    // oracle's GROUP BY. The outer sort re-applies the oracle's
    // (cnt desc, user) tie-break on the user's string form, nulls last
    // as in DuckDB.
    Op("approx_top_users",
      (s, d) => topUsers(Tables.events(s, d)),
      """SELECT CAST(user_id AS VARCHAR) AS user,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY cnt DESC, user LIMIT 10""".stripMargin)
  )
}
