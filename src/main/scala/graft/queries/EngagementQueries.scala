package graft
package queries

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._

/** User-engagement analytics on the events table
  * ([[graft.operators.Engagement]]): sessions, funnels, retention,
  * attribution.
  */
object EngagementQueries {

  val entries: Seq[Entry] = Seq(
    Query("q20_sessionize", (s, dir) => {
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        // an event with no timestamp cannot be ordered into a session —
        // and engines disagree on where NULL sorts (Spark first, DuckDB
        // last), so the contract drops it on both sides
        .where(col("ts").isNotNull)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(wo))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("is_new")).over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(wstr(min(col("ts"))).as("session_start"), wstr(max(col("ts"))).as("session_end"),
          count(lit(1)).as("n_events"),
          // NaN is junk, not revenue: summed as NULL on both sides (a NaN
          // would also fail DuckDB's decimal cast outright)
          sum(when(!isnan(col("value")), dec("value"))).cast("double")
            .as("total_value"))
        // null user_id is a real session key; pin its sort to DuckDB's
        // NULLS LAST (Spark ascending default is NULLS FIRST)
        .orderBy(col("user_id").asc_nulls_last, col("session_id"))
    },
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
        |            WHERE ts IS NOT NULL),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
        |m AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
        |SELECT user_id, session_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
        |                AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    Query("q24_session_window", (s, dir) => {
      // Spark's NATIVE session-window operator (vs q20's manual lag-based
      // construction — the oracle mirrors its merge semantics: a gap of
      // exactly 30 min starts a new session)
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(!isnan(col("value")), dec("value"))).cast("double")
            .as("total_value"))
        .select(col("user_id"), wstr(col("sw.start")).as("session_start"),
          wstr(col("sw.end")).as("session_end"), col("n_events"), col("total_value"))
        .orderBy(col("user_id").asc_nulls_last, col("session_start"))
    },
      // WHERE ts IS NOT NULL mirrors Spark's session_window, whose
      // event-time rewrite silently filters null timestamps
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
        |            WHERE ts IS NOT NULL),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
        |m AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                     OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM m)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(CASE WHEN isnan(value) THEN NULL ELSE value END
        |                AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
    // ordered view->click->purchase funnel: per-step hash agg + user-key
    // join fold, no per-user history ever materialized
    Query("q87_funnel", (s, dir) =>
      Engagement.funnel(Tables.events(s, dir), userCol = "user_id",
        tsCol = "ts", typeCol = "event_type",
        steps = Seq("view", "click", "purchase")).orderBy("step_idx"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step_name,
        |       CAST((SELECT count(*) FROM s1) AS BIGINT) AS users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin),
    // weekly cohort retention: (first-activity cohort x week offset)
    // distinct users — two exchanges end-to-end, integral-div offsets
    Query("q88_retention", (s, dir) =>
      Engagement.retention(Tables.events(s, dir), userCol = "user_id",
        tsCol = "ts", periodDays = 7)
        .orderBy("cohort_day", "period_offset"),
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT DISTINCT user_id, d FROM e),
        |c AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY 1)
        |SELECT c.cohort AS cohort_day,
        |       CAST((a.d - c.cohort) // 7 AS INT) AS period_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // view->purchase conversion lag in hour buckets: integer micros div,
    // exact bin edges; bucket dim bounded by the time span
    Query("q90_conversion_lag", (s, dir) =>
      Engagement.conversionLag(Tables.events(s, dir), userCol = "user_id",
        tsCol = "ts", typeCol = "event_type",
        fromStep = "view", toStep = "purchase").orderBy("lag_bucket"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |t0 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN t0 ON e.user_id = t0.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= t0.t GROUP BY 1)
        |SELECT (epoch_us(t1.t) - epoch_us(t0.t)) // 3600000000 AS lag_bucket,
        |       CAST(count(*) AS BIGINT) AS users
        |FROM t1 JOIN t0 ON t1.user_id = t0.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // event-flow transition matrix (Sankey/Markov input): per-user lead
    // window + one pair agg; conditional probability in integer HALF_UP bp
    Query("q95_transitions", (s, dir) =>
      Engagement.transitions(Tables.events(s, dir), userCol = "user_id",
        tsCol = "ts", typeCol = "event_type", tieCol = "event_id")
        .orderBy("from_type", "to_type"),
      // null-filter parity with Engagement.transitions (null users/ts are
      // not a flow); ordering precision is pinned on both sides to micros
      // (DuckDB CAST(TIMESTAMP_NS -> TIMESTAMP) truncates exactly like the
      // engine's `ts div 1000` in Tables.events) with event_id tiebreak.
      // NULL event_type is bucketed as the '<none>' sentinel on BOTH sides:
      // a null output key would sort NULLS FIRST in Spark / NULLS LAST in
      // DuckDB — identical multisets, divergent row order, hash mismatch
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                  coalesce(event_type, '<none>') AS event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |x AS (SELECT event_type AS f,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS t
        |      FROM e),
        |p AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
        |      FROM x WHERE t IS NOT NULL GROUP BY 1, 2)
        |SELECT f AS from_type, t AS to_type, n,
        |       CAST((20000 * n + sum(n) OVER (PARTITION BY f))
        |         // (2 * sum(n) OVER (PARTITION BY f)) AS BIGINT) AS prob_bp
        |FROM p ORDER BY from_type, to_type""".stripMargin),
    // the "convert within 1 day" funnel: same fold as q87 with an
    // integer-micros window gate on each step advance
    Query("q142_windowed_funnel", (s, dir) =>
      Engagement.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxLagSeconds = Some(86400L))
        .orderBy("step_idx"),
      // q87's fold with the 1-day window gate on each advance
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t
        |         AND epoch_us(e.ts) - epoch_us(s1.t) <= 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t
        |         AND epoch_us(e.ts) - epoch_us(s2.t) <= 86400000000 GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step_name,
        |       CAST((SELECT count(*) FROM s1) AS BIGINT) AS users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin),
    // top-10% user share of each type's volume — grid cumsums, exact
    // integer split at the threshold count, HALF_UP bp
    Query("q139_concentration", (s, dir) =>
      Engagement.topDecileConcentration(Tables.events(s, dir), "user_id",
        "event_type").orderBy("event_type"),
      // per-user counts → (type × count) grid → descending cumsums; the
      // threshold row splits integer-exactly among tied users
      """WITH uc AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        |            FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |cells AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS users,
        |                 CAST(c * count(*) AS BIGINT) AS events
        |          FROM uc GROUP BY 1, 2),
        |g AS (SELECT event_type, c, users, events,
        |             CAST(sum(users) OVER (PARTITION BY event_type ORDER BY c DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumu,
        |             CAST(sum(events) OVER (PARTITION BY event_type ORDER BY c DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume,
        |             CAST(sum(users) OVER (PARTITION BY event_type) AS BIGINT) AS nu,
        |             CAST(sum(events) OVER (PARTITION BY event_type) AS BIGINT) AS ne
        |      FROM cells),
        |g2 AS (SELECT *, (nu + 9) // 10 AS k FROM g),
        |thr AS (SELECT event_type, max(c) AS v FROM g2 WHERE cumu >= k GROUP BY 1)
        |SELECT g2.event_type, nu AS n_users, ne AS n_events, k AS top_users,
        |       ((cume - (cumu - k) * v) * 20000 + ne) // (2 * ne) AS top_share_bp
        |FROM g2 JOIN thr ON thr.event_type = g2.event_type AND g2.c = thr.v
        |ORDER BY g2.event_type""".stripMargin),
    // per-type cadence percentiles: same-user consecutive-event gaps
    // in 1-second ticks through the counting-grid quantiles
    Query("q140_gap_quantiles", (s, dir) =>
      Engagement.interEventGapQuantiles(Tables.events(s, dir), "user_id",
        "ts", "event_type", "event_id").orderBy(col("event_type").asc_nulls_last),
      // (user, type)-keyed lag gaps in seconds → q130's counting-grid
      // type-1 percentiles
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |l AS (SELECT event_type,
        |             lag(ts) OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) AS prev_ts, ts
        |      FROM ev),
        |gp AS (SELECT event_type,
        |              (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS gap_s
        |       FROM l WHERE prev_ts IS NOT NULL),
        |c AS (SELECT event_type, CAST(floor(gap_s / 1.0) AS BIGINT) AS v,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM gp GROUP BY 1, 2),
        |w AS (SELECT event_type, v, c,
        |             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS DOUBLE) * 1.0 AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS DOUBLE) * 1.0 AS p90,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS DOUBLE) * 1.0 AS p99
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),
    // top session-opening paths: 30-min gap sessions, first-3-type
    // pivot (no per-session collect), TakeOrdered top-k
    Query("q129_session_paths", (s, dir) =>
      Engagement.sessionPaths(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id").orderBy("rank"),
      // q20's sessionize chain + first-3 pivot + top-k; null users/ts
      // dropped on both sides (the q95 parity lesson)
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev),
        |m AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM l),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rk FROM s),
        |f AS (SELECT user_id, sid,
        |             max(CASE WHEN rk = 1 THEN event_type END) AS s1,
        |             max(CASE WHEN rk = 2 THEN event_type END) AS s2,
        |             max(CASE WHEN rk = 3 THEN event_type END) AS s3
        |      FROM r WHERE rk <= 3 GROUP BY 1, 2),
        |p AS (SELECT concat_ws('>', s1, s2, s3) AS path, CAST(count(*) AS BIGINT) AS n_sessions
        |      FROM f GROUP BY 1),
        |t AS (SELECT path, n_sessions FROM p ORDER BY n_sessions DESC, path LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank,
        |       path, n_sessions
        |FROM t ORDER BY rank""".stripMargin),
    // distinct-user lift per event-type pair — co-adoption vs
    // independence in HALF_UP bp
    Query("q131_event_affinity", (s, dir) =>
      Engagement.eventAffinity(Tables.events(s, dir), "user_id", "event_type")
        .orderBy("type_a", "type_b"),
      // distinct (user, type) adoptions -> pair overlap via user-key
      // self-join; lift against independence in HALF_UP bp
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events
        |            WHERE user_id IS NOT NULL),
        |tot AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |nu AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu FROM ut),
        |p AS (SELECT a.t AS type_a, b.t AS type_b, CAST(count(*) AS BIGINT) AS n_both
        |      FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both, ta.n AS n_a, tb.n AS n_b,
        |       CAST(floor(CAST(p.n_both AS DOUBLE) * (SELECT nu FROM nu)
        |              / ta.n / tb.n * 10000 + 0.5) AS BIGINT) AS lift_bp
        |FROM p JOIN tot ta ON ta.t = p.type_a JOIN tot tb ON tb.t = p.type_b
        |ORDER BY type_a, type_b""".stripMargin),
    // last-touch attribution: purchases credited to the most recent
    // prior non-purchase touch within 1 day — one keyed window pass,
    // "<none>" stays in the share denominator
    Query("q148_last_touch", (s, dir) =>
      Engagement.lastTouchAttribution(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id", target = "purchase",
        maxLagSeconds = 86400L).orderBy("attr_type"),
      // the same strictly-before (ts, event_id) carry: both IGNORE NULLS
      // window reads land on one touch row; "<none>" keeps the
      // denominator honest
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT event_type,
        |             last_value(CASE WHEN event_type <> 'purchase'
        |               THEN event_type END IGNORE NULLS) OVER w AS attr_type,
        |             last_value(CASE WHEN event_type <> 'purchase'
        |               THEN epoch_us(ts) END IGNORE NULLS) OVER w AS attr_us,
        |             epoch_us(ts) AS us
        |      FROM ev
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t AS (SELECT CASE WHEN attr_us IS NOT NULL
        |                   AND us - attr_us <= 86400000000 THEN attr_type
        |             ELSE '<none>' END AS attr_type
        |      FROM a WHERE event_type = 'purchase'),
        |c AS (SELECT attr_type, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
        |SELECT attr_type, n,
        |       CAST(floor(n * 10000.0 / (SELECT sum(n) FROM c) + 0.5) AS BIGINT)
        |         AS share_bp
        |FROM c ORDER BY attr_type""".stripMargin),
    // double-fire audit over planted +500ms client-retry twins
    // (event_id%13): same-user same-type gaps ≤ 1s flag as duplicates
    Query("q151_double_fire", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type")
      val retries = ev.where(pmod(col("event_id"), lit(13)) === 0)
        .select((col("event_id") + 1000000000L).as("event_id"),
          expr("ts + INTERVAL 500 MILLISECOND").as("ts"),
          col("user_id"), col("event_type"))
      Engagement.doubleFire(ev.unionByName(retries), "user_id", "ts",
        "event_type", "event_id", withinSeconds = 1L).orderBy(col("event_type").asc_nulls_last)
    },
      // same-user same-type lag gaps; planted +500ms retries must flag,
      // an event with no predecessor stays out of the denominator
      """WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |              FROM events),
        |all_ev AS (SELECT * FROM base
        |           UNION ALL
        |           SELECT event_id + 1000000000, ts + INTERVAL 500 MILLISECOND,
        |                  user_id, event_type
        |           FROM base WHERE event_id % 13 = 0),
        |ev AS (SELECT * FROM all_ev
        |       WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT event_type, epoch_us(ts) AS us,
        |             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY ts, event_id) AS prev
        |      FROM ev),
        |g AS (SELECT event_type,
        |             CASE WHEN us - prev <= 1000000 THEN 1 ELSE 0 END AS d
        |      FROM l WHERE prev IS NOT NULL),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |             CAST(sum(d) AS BIGINT) AS n_dups
        |      FROM g GROUP BY 1)
        |SELECT event_type, n_gaps, n_dups,
        |       CAST(floor(n_dups * 10000.0 / n_gaps + 0.5) AS BIGINT)
        |         AS dup_rate_bp
        |FROM c ORDER BY event_type""".stripMargin),
    // per-type arrival-lateness percentiles under a deterministic
    // 48-bit md5 arrival shuffle (natural event_id order is time-sorted
    // — lateness would be degenerate); two-phase prefix max, grid
    // quantiles
    Query("q154_watermark_lateness", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("event_id").isNotNull)
        .withColumn("arrival",
          graft.functions.md5_prefix_long(col("event_id").cast("string"), 12))
      Engagement.watermarkLateness(ev, "ts", "arrival", "event_type",
        tieCol = Some("event_id")).orderBy(col("event_type").asc_nulls_last)
    },
      // one flat running max over the md5 arrival order (the engine's
      // bucketed two-phase prefix max must equal it exactly), then the
      // q140 grid-quantile tail
      """WITH ev AS (SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
        |              AS arrival,
        |            event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |            FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |r AS (SELECT event_type, us,
        |             max(us) OVER (ORDER BY arrival, event_id ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |      FROM ev),
        |c AS (SELECT event_type, CAST((rm - us) // 1000000 AS BIGINT) AS v,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM r GROUP BY 1, 2),
        |w AS (SELECT event_type, v, c,
        |             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS DOUBLE) AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS DOUBLE) AS p95,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS DOUBLE) AS p99
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),
    // acquisition mix: each user's (ts, id)-earliest event type —
    // purchase-first users are the broken-attribution signal
    Query("q162_first_touch", (s, dir) =>
      Engagement.firstTouchCensus(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id").orderBy(col("event_type").asc_nulls_last),
      // earliest (ts, id) event per user via one window rank; floor-bp
      // share over all users
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |      FROM ev),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        |      FROM f WHERE rn = 1 GROUP BY 1)
        |SELECT event_type, n_users,
        |       CAST((n_users * 10000) // (SELECT sum(n_users) FROM c) AS BIGINT)
        |         AS share_bp
        |FROM c ORDER BY event_type""".stripMargin),
    // 30-min gap sessions → duration/depth grid percentiles — the
    // session-timeout sizing table
    Query("q163_session_stats", (s, dir) =>
      Engagement.sessionStats(Tables.events(s, dir), "user_id", "ts",
        "event_id").orderBy("metric"),
      // 30-min-gap sessionization (lag + cumulative flags), session aggs,
      // stacked (metric × value) grid percentiles
      """WITH ev AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, us, event_id,
        |             lag(us) OVER (PARTITION BY user_id
        |                           ORDER BY us, event_id) AS prev
        |      FROM ev),
        |s AS (SELECT user_id, us,
        |             sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |                      THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS sid
        |      FROM l),
        |g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS depth,
        |             CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS dur_s
        |      FROM s GROUP BY 1, 2),
        |u AS (SELECT 'depth' AS metric, depth AS v FROM g
        |      UNION ALL SELECT 'duration_s', dur_s FROM g),
        |c AS (SELECT metric, v, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1, 2),
        |w AS (SELECT metric, v, c,
        |             CAST(sum(c) OVER (PARTITION BY metric ORDER BY v ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER (PARTITION BY metric) AS BIGINT) AS n
        |      FROM c)
        |SELECT metric, CAST(max(n) AS BIGINT) AS n_sessions,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS DOUBLE) AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS DOUBLE) AS p90,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS DOUBLE) AS p99
        |FROM w GROUP BY metric ORDER BY metric""".stripMargin),
    // weekly growth ledger: new / retained / resurrected / churned per
    // observed week — distinct (user, week) first, user-keyed joins only
    Query("q166_growth_accounting", (s, dir) =>
      Engagement.growthAccounting(Tables.events(s, dir), "user_id", "ts")
        .orderBy("week"),
      // distinct (user, week) presence, first-week marks "new", week−7d
      // presence marks "retained", the anti-join into the current week
      // marks "churned" (attributed to the week gone missing)
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(w) AS w0 FROM uw GROUP BY 1),
        |prev AS (SELECT u, w + 7 AS wn FROM uw),
        |st AS (SELECT uw.w,
        |              CASE WHEN uw.w = f.w0 THEN 1 ELSE 0 END AS is_new,
        |              CASE WHEN p.u IS NOT NULL THEN 1 ELSE 0 END AS is_ret,
        |              CASE WHEN uw.w <> f.w0 AND p.u IS NULL THEN 1 ELSE 0 END AS is_res
        |       FROM uw JOIN f ON f.u = uw.u
        |       LEFT JOIN (SELECT DISTINCT u, wn FROM prev) p
        |         ON p.u = uw.u AND p.wn = uw.w),
        |base AS (SELECT w, CAST(sum(is_new) AS BIGINT) AS n_new,
        |                CAST(sum(is_ret) AS BIGINT) AS n_retained,
        |                CAST(sum(is_res) AS BIGINT) AS n_resurrected
        |         FROM st GROUP BY 1),
        |ch AS (SELECT prev.wn AS w, CAST(count(*) AS BIGINT) AS n_churned
        |       FROM prev
        |       LEFT JOIN uw ON uw.u = prev.u AND uw.w = prev.wn
        |       WHERE uw.u IS NULL
        |         AND prev.wn IN (SELECT DISTINCT w FROM uw)
        |       GROUP BY 1)
        |SELECT base.w AS week, n_new, n_retained, n_resurrected,
        |       coalesce(ch.n_churned, 0) AS n_churned
        |FROM base LEFT JOIN ch ON ch.w = base.w
        |ORDER BY week""".stripMargin),
    // weekly cohort retention triangle — (first-active week × week
    // offset) distinct-user counts + floor-bp share of the cohort
    Query("q202_cohort_triangle", (s, dir) =>
      Engagement.cohortTriangle(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "week_offset"),
      // same dedupe-to-(user, day) + Monday date_trunc + floor-bp share
      """WITH act AS (SELECT DISTINCT user_id AS u,
        |                    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |             FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |coh AS (SELECT u, CAST(date_trunc('week', min(d)) AS DATE) AS cw
        |        FROM act GROUP BY 1),
        |tri AS (SELECT cw, CAST(datediff('day', cw, d) // 7 AS INT) AS week_offset,
        |               CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
        |        FROM act a JOIN coh c ON c.u = a.u GROUP BY 1, 2),
        |sz AS (SELECT *, max(CASE WHEN week_offset = 0 THEN n_active END)
        |                 OVER (PARTITION BY cw) AS cohort_size
        |       FROM tri)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_offset, n_active,
        |       cohort_size,
        |       CAST((n_active * 10000) // cohort_size AS BIGINT) AS retention_bp
        |FROM sz ORDER BY cohort_week, week_offset""".stripMargin),
    // session entry/exit census + diagonal bounce rates over the q20
    // sessionize convention
    Query("q209_entry_exit", (s, dir) =>
      Engagement.sessionEntryExit(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id").orderBy(col("entry_type").asc_nulls_last, col("exit_type").asc_nulls_last),
      // q20 sessionize prologue; entry/exit as rn=1 rows (the CandleCte
      // conditional-max trick), bounce = depth-1 sessions
      """WITH ev AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |                   user_id AS u, event_type AS t
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                       OR us - lag(us) OVER w > 1800000000
        |                     THEN 1 ELSE 0 END AS is_new
        |      FROM ev WINDOW w AS (PARTITION BY u ORDER BY us, event_id)),
        |sid AS (SELECT *, sum(is_new) OVER (PARTITION BY u ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |        FROM s),
        |r AS (SELECT u, sid, t,
        |             row_number() OVER (PARTITION BY u, sid
        |               ORDER BY us, event_id) AS rn_a,
        |             row_number() OVER (PARTITION BY u, sid
        |               ORDER BY us DESC, event_id DESC) AS rn_d,
        |             count(*) OVER (PARTITION BY u, sid) AS depth
        |      FROM sid),
        |sess AS (SELECT u, sid,
        |                max(CASE WHEN rn_a = 1 THEN t END) AS entry_type,
        |                max(CASE WHEN rn_d = 1 THEN t END) AS exit_type,
        |                max(depth) AS depth
        |         FROM r GROUP BY 1, 2)
        |SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bounce,
        |       CAST((sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 10000)
        |            // count(*) AS BIGINT) AS bounce_bp
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // RFM cube: rank-based quartiles on the stacked (metric × value)
    // grid, monetary in exact cents then whole units
    Query("q211_rfm_segments", (s, dir) =>
      Engagement.rfmSegments(Tables.events(s, dir), "user_id", "ts", "value")
        .orderBy("r_seg", "f_seg", "m_seg"),
      // same rank-based cuts: seg = min(q, (q·cum0) DIV n + 1) per metric
      """WITH per AS (SELECT user_id AS u, max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_d,
        |                    CAST(count(*) AS BIGINT) AS freq,
        |                    CAST(sum(CAST(floor(coalesce(
        |                      CASE WHEN isnan(CAST(value AS DOUBLE)) THEN 0.0
        |                           ELSE CAST(value AS DOUBLE) END, 0.0)
        |                      * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sc
        |             FROM events
        |             WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             GROUP BY 1),
        |ref AS (SELECT max(last_d) AS ref_d FROM per),
        |st AS (SELECT u, m, v FROM (
        |         SELECT u,
        |                CAST(datediff('day', last_d, ref_d) AS BIGINT) AS r,
        |                freq AS f, sc // 100 AS mon
        |         FROM per CROSS JOIN ref)
        |       UNPIVOT (v FOR m IN (r, f, mon))),
        |sm AS (SELECT CASE WHEN m = 'mon' THEN 'm' ELSE m END AS m, u, v FROM st),
        |grid AS (SELECT m, v, CAST(count(*) AS BIGINT) AS c FROM sm GROUP BY 1, 2),
        |seg AS (SELECT m, v,
        |               CAST(least(4, (4 * coalesce(sum(c) OVER (PARTITION BY m ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |                 // (sum(c) OVER (PARTITION BY m)) + 1) AS BIGINT) AS sg
        |        FROM grid),
        |cube AS (SELECT u,
        |                max(CASE WHEN sm.m = 'r' THEN sg END) AS r_seg,
        |                max(CASE WHEN sm.m = 'f' THEN sg END) AS f_seg,
        |                max(CASE WHEN sm.m = 'm' THEN sg END) AS m_seg
        |         FROM sm JOIN seg ON seg.m = sm.m AND seg.v = sm.v
        |         GROUP BY 1),
        |cc AS (SELECT r_seg, f_seg, m_seg, CAST(count(*) AS BIGINT) AS n_users
        |       FROM cube GROUP BY 1, 2, 3)
        |SELECT r_seg, f_seg, m_seg, n_users,
        |       CAST((n_users * 10000) // (sum(n_users) OVER ()) AS BIGINT)
        |         AS share_bp
        |FROM cc ORDER BY 1, 2, 3""".stripMargin),
    // discrete survival/hazard with right-censoring on the (span,
    // window) grid — integer estimator, no Kaplan-Meier float chain
    Query("q222_survival", (s, dir) =>
      Engagement.survivalCurve(Tables.events(s, dir)),
      // same censored estimator over the (span, window) grid
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |u AS (SELECT user_id, min(d) AS f, max(d) AS l FROM ev GROUP BY 1),
        |oe AS (SELECT max(d) AS obs_end FROM ev),
        |g AS (SELECT date_diff('day', f, l) AS act,
        |             date_diff('day', f, obs_end) AS w, count(*) AS m
        |      FROM u CROSS JOIN oe GROUP BY 1, 2),
        |ks AS (SELECT unnest(range(0, 15)) AS k),
        |j AS (SELECT ks.k, g.act, g.m FROM g JOIN ks ON g.w > ks.k),
        |a AS (SELECT k, sum(CASE WHEN act >= k THEN m ELSE 0 END) AS n_at_risk,
        |             sum(CASE WHEN act = k THEN m ELSE 0 END) AS n_churned,
        |             sum(m) AS elig,
        |             sum(CASE WHEN act > k THEN m ELSE 0 END) AS surv
        |      FROM j GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS day_offset,
        |       CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |       CAST(n_churned AS BIGINT) AS n_churned,
        |       CAST(CASE WHEN n_at_risk = 0 THEN 0
        |            ELSE (n_churned * 10000) // n_at_risk END AS BIGINT) AS hazard_bp,
        |       CAST(CASE WHEN elig = 0 THEN 0
        |            ELSE (surv * 10000) // elig END AS BIGINT) AS survival_bp
        |FROM a ORDER BY 1""".stripMargin),
    // sweep-line peak concurrent sessions per day, midnight-clipped
    // segments, +1-before-−1 boundary order
    Query("q228_peak_concurrency", (s, dir) =>
      Engagement.peakConcurrency(Tables.events(s, dir)),
      // same q20 gap cut; sweep per day with (µs, +1-first) boundary order
      """WITH ev AS (SELECT user_id, event_id,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, event_id, us,
        |             lag(us) OVER (PARTITION BY user_id
        |                           ORDER BY us, event_id) AS prev
        |      FROM ev),
        |m AS (SELECT user_id, event_id, us,
        |             CASE WHEN prev IS NULL OR us - prev > 1800000000
        |                  THEN 1 ELSE 0 END AS nw
        |      FROM l),
        |sid AS (SELECT user_id, us,
        |               sum(nw) OVER (PARTITION BY user_id
        |                             ORDER BY us, event_id) AS sid
        |        FROM m),
        |sess AS (SELECT user_id, sid, min(us) AS s0, max(us) AS s1
        |         FROM sid GROUP BY 1, 2),
        |seg AS (SELECT CAST(dd AS DATE) AS d,
        |               greatest(s0, epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP)))
        |                 AS a,
        |               least(s1, epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP))
        |                         + 86399999999) AS b
        |        FROM (SELECT s0, s1,
        |                     unnest(generate_series(CAST(make_timestamp(s0) AS DATE),
        |                       CAST(make_timestamp(s1) AS DATE),
        |                       INTERVAL 1 DAY)) AS dd
        |              FROM sess)),
        |bounds AS (SELECT d, a AS us, 1 AS delta FROM seg
        |           UNION ALL SELECT d, b AS us, -1 AS delta FROM seg),
        |sw AS (SELECT d, sum(delta) OVER (PARTITION BY d
        |                ORDER BY us ASC, delta DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |       FROM bounds)
        |SELECT d, CAST(count(*) // 2 AS BIGINT) AS n_sessions,
        |       CAST(max(c) AS BIGINT) AS peak
        |FROM sw GROUP BY 1 ORDER BY 1""".stripMargin),
    // even-split multi-touch credit in integer micro-units; one keyed
    // window + hash aggs, <none> bucket for bare conversions
    Query("q241_linear_attribution", (s, dir) =>
      Engagement.linearAttribution(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id", target = "purchase"),
      // even-split credit: 1e6 // n per touch (floor on non-negatives),
      // touches attach to the NEXT conversion on the pinned (ts, id) order
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |o AS (SELECT user_id, event_type,
        |             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        |      FROM ev),
        |conv AS (SELECT user_id, cb AS cidx FROM o WHERE event_type = 'purchase'),
        |tch AS (SELECT o.user_id, o.cb + 1 AS cidx, o.event_type
        |        FROM o JOIN conv ON conv.user_id = o.user_id AND conv.cidx = o.cb + 1
        |        WHERE o.event_type <> 'purchase'),
        |n AS (SELECT user_id, cidx, CAST(count(*) AS BIGINT) AS n
        |      FROM tch GROUP BY 1, 2),
        |cr AS (SELECT t.event_type, 1000000 // n.n AS credit
        |       FROM tch t JOIN n ON n.user_id = t.user_id AND n.cidx = t.cidx),
        |agg AS (SELECT event_type AS attr_type, CAST(count(*) AS BIGINT) AS n_touches,
        |               CAST(sum(credit) AS BIGINT) AS credit_micro
        |        FROM cr GROUP BY 1),
        |bare AS (SELECT '<none>' AS attr_type, CAST(count(*) AS BIGINT) AS n_touches,
        |                CAST(count(*) * 1000000 AS BIGINT) AS credit_micro
        |         FROM conv LEFT JOIN n ON n.user_id = conv.user_id
        |                               AND n.cidx = conv.cidx
        |         WHERE n.n IS NULL)
        |SELECT * FROM agg UNION ALL SELECT * FROM bare ORDER BY attr_type""".stripMargin),
    // DAU/MAU per month from the distinct (day, user) presence grid
    Query("q242_stickiness", (s, dir) =>
      Engagement.stickiness(Tables.events(s, dir)),
      // distinct (month, day, user) presence grid; stickiness from the
      // three integer aggregates in one HALF_UP expression
      """WITH e AS (SELECT DISTINCT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month,
        |                  date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
        |                  user_id AS u
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT month, CAST(count(DISTINCT u) AS BIGINT) AS mau,
        |       CAST(count(*) AS BIGINT) AS sum_dau,
        |       CAST(count(DISTINCT d) AS BIGINT) AS n_days,
        |       CAST(floor(count(*) * 10000.0 /
        |                  (count(DISTINCT d) * count(DISTINCT u)) + 0.5) AS BIGINT)
        |         AS stickiness_bp
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    // the churn-model feature-store row: one hash agg per user
    Query("q284_user_features", (s, dir) =>
      Engagement.userFeatures(Tables.events(s, dir)),
      // one agg per user; recency vs the corpus max day; purchase cents
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events
        |            WHERE ts IS NOT NULL),
        |e AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, value
        |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id,
        |       CAST(date_diff('day', max(d), (SELECT mxd FROM mx)) AS BIGINT)
        |         AS recency_days,
        |       CAST(count(*) AS BIGINT) AS frequency,
        |       CAST(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL AND NOT isnan(value)
        |                     THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS monetary_cents,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |       CAST(count(DISTINCT d) AS BIGINT) AS active_days,
        |       CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS tenure_days
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),
    // unit economics: weekly ARPU/ARPPU in exact floor cents
    Query("q286_weekly_arpu", (s, dir) =>
      Engagement.weeklyArpu(Tables.events(s, dir)),
      // Monday weeks; floor cents-per-user; 0 when no payers
      """WITH w AS (SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week,
        |                  user_id, event_type, value
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS actives,
        |             CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
        |                                      THEN user_id END) AS BIGINT) AS payers,
        |             CAST(sum(CASE WHEN event_type = 'purchase'
        |                            AND value IS NOT NULL AND NOT isnan(value)
        |                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |                           ELSE 0 END) AS BIGINT) AS revenue_cents
        |      FROM w GROUP BY 1)
        |SELECT week, actives, payers, revenue_cents,
        |       CAST(revenue_cents // actives AS BIGINT) AS arpu_cents,
        |       CAST(CASE WHEN payers = 0 THEN 0
        |                 ELSE revenue_cents // payers END AS BIGINT) AS arppu_cents
        |FROM g ORDER BY week""".stripMargin),
    // audience planning: distinct-user Jaccard per type pair, keyed on
    // the user so nothing squares
    Query("q281_audience_overlap", (s, dir) =>
      Engagement.audienceOverlap(Tables.events(s, dir)),
      // distinct (type, user) relation; pair join keyed on the user
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
        |            FROM events
        |            WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |i AS (SELECT a.t AS type_a, b.t AS type_b,
        |             CAST(count(*) AS BIGINT) AS n_common
        |      FROM tu a JOIN tu b ON b.u = a.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
        |       CAST((i.n_common * 10000) // (sa.n + sb.n - i.n_common)
        |            AS BIGINT) AS jaccard_bp
        |FROM i JOIN sz sa ON sa.t = i.type_a JOIN sz sb ON sb.t = i.type_b
        |ORDER BY i.type_a, i.type_b""".stripMargin),
    // binge-vs-alternate shape: consecutive same-type run lengths on
    // the pinned (µs, id) order
    Query("q282_run_lengths", (s, dir) =>
      Engagement.runLengthCensus(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id"),
      // run starts at type changes on the pinned (ts, id) order
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   event_type
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND event_type IS NOT NULL),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |             CASE WHEN lag(event_type) OVER w IS NULL
        |                    OR lag(event_type) OVER w <> event_type
        |                  THEN 1 ELSE 0 END AS start0
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, event_type,
        |             sum(start0) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM s),
        |l AS (SELECT user_id, run, event_type, CAST(count(*) AS BIGINT) AS len
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT event_type, len AS run_len, CAST(count(*) AS BIGINT) AS n_runs
        |FROM l GROUP BY 1, 2 ORDER BY event_type, run_len""".stripMargin),
    // revenue cohorts: purchase cents per (cohort week, week offset) +
    // net revenue retention vs the cohort's own first week
    Query("q274_revenue_cohorts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull && !isnan(col("value")) && col("event_type") === "purchase")
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("w"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("w")).as("cohort"))
      val rev = ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort"),
          expr("CAST(datediff(w, cohort) DIV 7 AS BIGINT)").as("week_offset"))
        .agg(sum(col("cents")).as("rev_cents"))
      val base = rev.where(col("week_offset") === 0)
        .select(col("cohort"), col("rev_cents").as("__base"))
      rev.join(base, Seq("cohort"))
        .select(col("cohort"), col("week_offset"), col("rev_cents"),
          expr("(rev_cents * 10000) DIV __base").as("ndr_bp"))
        .orderBy("cohort", "week_offset")
    },
      // Monday weeks; offset in whole weeks; NDR vs the cohort's week 0
      """WITH p AS (SELECT user_id,
        |                  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS w,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND value IS NOT NULL AND NOT isnan(value) AND event_type = 'purchase'),
        |c AS (SELECT user_id, min(w) AS cohort FROM p GROUP BY 1),
        |r AS (SELECT c.cohort, date_diff('day', c.cohort, p.w) // 7 AS woff,
        |             CAST(sum(p.cents) AS BIGINT) AS rev_cents
        |      FROM p JOIN c USING (user_id) GROUP BY 1, 2),
        |b AS (SELECT cohort, rev_cents AS base FROM r WHERE woff = 0)
        |SELECT r.cohort, CAST(r.woff AS BIGINT) AS week_offset, r.rev_cents,
        |       CAST((r.rev_cents * 10000) // b.base AS BIGINT) AS ndr_bp
        |FROM r JOIN b USING (cohort) ORDER BY r.cohort, r.woff""".stripMargin),
    // next-event predictability: transition entropy per type in
    // floored micro-nats over the (from, to) grid
    Query("q273_transition_entropy", (s, dir) =>
      Engagement.transitionEntropy(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id"),
      // H = Σ c·ln(tot/c)/tot in micro-nats; terms non-negative so the
      // final floor DIV is engine-consistent. NULL event_type → '<none>'
      // sentinel, matching Engagement.transitions (q95)
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   coalesce(event_type, '<none>') AS event_type
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS to_type
        |      FROM ev),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot,
        |             CAST(count(*) AS BIGINT) AS n_next_types
        |      FROM c GROUP BY 1),
        |j AS (SELECT c.from_type, t.tot, t.n_next_types,
        |             c.n * CAST(round(ln(CAST(t.tot AS DOUBLE) / c.n)
        |               * 1000000, 0) AS BIGINT) AS term
        |      FROM c JOIN t USING (from_type))
        |SELECT from_type, max(tot) AS n,
        |       max(n_next_types) AS n_next_types,
        |       CAST(sum(term) // max(tot) AS BIGINT) AS entropy_micro
        |FROM j GROUP BY from_type ORDER BY from_type""".stripMargin),
    // longest consecutive-day streak per user via gaps-and-islands
    // (day − row_number anchors), then the streak-length histogram
    Query("q197_streaks", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("d"))
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("u"), to_date(col("ts")).as("d"))
        .distinct()
        .withColumn("__rn", row_number().over(w))
        .withColumn("__anchor", expr("date_sub(d, __rn)"))
        .groupBy(col("u"), col("__anchor")).agg(count(lit(1)).as("__len"))
        .groupBy(col("u")).agg(max(col("__len")).as("streak_len"))
        .groupBy(col("streak_len")).agg(count(lit(1)).as("n_users"))
        .orderBy("streak_len")
    },
      // the gaps-and-islands anchor (day − rn), then the histogram
      """WITH d AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS dy
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT u, dy, row_number() OVER (PARTITION BY u ORDER BY dy) AS rn
        |      FROM d),
        |i AS (SELECT u, dy - CAST(rn AS INT) AS anchor FROM r),
        |l AS (SELECT u, anchor, CAST(count(*) AS BIGINT) AS len
        |      FROM i GROUP BY 1, 2),
        |m AS (SELECT u, CAST(max(len) AS BIGINT) AS streak_len FROM l GROUP BY 1)
        |SELECT streak_len, CAST(count(*) AS BIGINT) AS n_users
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    // exclusion funnel: first-view → first-purchase conversions split
    // by whether a click fell INSIDE the interval — pattern negation
    // via one interval join + distinct, never a per-user history array
    Query("q185_exclusion_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("u"), unix_micros(col("ts")).as("us"),
          col("event_type").as("t"))
      val tv = ev.where(col("t") === "view").groupBy(col("u"))
        .agg(min(col("us")).as("tv"))
      val tp = ev.where(col("t") === "purchase").join(tv, Seq("u"))
        .where(col("us") >= col("tv"))
        .groupBy(col("u"), col("tv")).agg(min(col("us")).as("tp"))
      val via = tp.join(ev.where(col("t") === "click")
          .select(col("u"), col("us").as("tc")), Seq("u"))
        .where(col("tc") >= col("tv") && col("tc") <= col("tp"))
        .select(col("u")).distinct()
      val nConv = tp.agg(count(lit(1)).as("n_converted"))
      val nVia = via.agg(count(lit(1)).as("n_via_click"))
      nConv.crossJoin(nVia)
        .select(col("n_converted"),
          (col("n_converted") - col("n_via_click")).as("n_direct"),
          col("n_via_click"),
          when(col("n_converted") === 0, lit(0L))
            .otherwise(expr("((n_converted - n_via_click) * 10000) DIV n_converted"))
            .as("direct_bp"))
    },
      // first-view → first-purchase with an interval click check
      """WITH ev AS (SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |                  event_type AS t
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |tv AS (SELECT u, min(us) AS tv FROM ev WHERE t = 'view' GROUP BY 1),
        |tp AS (SELECT ev.u, tv.tv, min(ev.us) AS tp
        |       FROM ev JOIN tv ON tv.u = ev.u
        |       WHERE ev.t = 'purchase' AND ev.us >= tv.tv GROUP BY 1, 2),
        |via AS (SELECT DISTINCT tp.u
        |        FROM tp JOIN ev ON ev.u = tp.u AND ev.t = 'click'
        |                       AND ev.us >= tp.tv AND ev.us <= tp.tp),
        |c AS (SELECT CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_converted,
        |             CAST((SELECT count(*) FROM via) AS BIGINT) AS n_via_click)
        |SELECT n_converted, n_converted - n_via_click AS n_direct, n_via_click,
        |       CASE WHEN n_converted = 0 THEN 0
        |            ELSE CAST(((n_converted - n_via_click) * 10000) // n_converted
        |                      AS BIGINT) END AS direct_bp
        |FROM c""".stripMargin),
    // the q87 fold per user-parity segment — funnels are composable
    // over any partition of the user space
    Query("q184_funnel_by_segment", (s, dir) => {
      val ev = Tables.events(s, dir)
      def seg(p: Int) =
        Engagement.funnel(ev.where(pmod(col("user_id"), lit(2)) === p),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .withColumn("segment", lit(s"u$p"))
      seg(0).unionByName(seg(1))
        .select("segment", "step_idx", "step_name", "users")
        .orderBy("segment", "step_idx")
    },
      // the q87 CTE fold filtered per user-parity segment
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |                  CASE WHEN user_id % 2 = 0 THEN 'u0' ELSE 'u1' END AS segment
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT segment, user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT e.segment, e.user_id, min(e.ts) AS t FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.segment = s1.segment
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1, 2),
        |s3 AS (SELECT e.segment, e.user_id, min(e.ts) AS t FROM e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.segment = s2.segment
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1, 2),
        |segs AS (SELECT 'u0' AS segment UNION ALL SELECT 'u1'),
        |c1 AS (SELECT segment, CAST(count(*) AS BIGINT) AS n FROM s1 GROUP BY 1),
        |c2 AS (SELECT segment, CAST(count(*) AS BIGINT) AS n FROM s2 GROUP BY 1),
        |c3 AS (SELECT segment, CAST(count(*) AS BIGINT) AS n FROM s3 GROUP BY 1)
        |SELECT s.segment, CAST(1 AS INT) AS step_idx, 'view' AS step_name,
        |       coalesce(c1.n, 0) AS users
        |FROM segs s LEFT JOIN c1 ON c1.segment = s.segment
        |UNION ALL
        |SELECT s.segment, CAST(2 AS INT), 'click', coalesce(c2.n, 0)
        |FROM segs s LEFT JOIN c2 ON c2.segment = s.segment
        |UNION ALL
        |SELECT s.segment, CAST(3 AS INT), 'purchase', coalesce(c3.n, 0)
        |FROM segs s LEFT JOIN c3 ON c3.segment = s.segment
        |ORDER BY segment, step_idx""".stripMargin),
    // 3-step flow mining: two leads on the transitions exchange,
    // top-20 with total tie order
    Query("q181_flow_trigrams", (s, dir) =>
      Engagement.flowTrigrams(Tables.events(s, dir), "user_id", "ts",
        "event_type", "event_id").orderBy("rank"),
      // two leads over the same (user, ts, id) order as q95's transitions
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT event_type AS t1,
        |             lead(event_type, 1) OVER w AS t2,
        |             lead(event_type, 2) OVER w AS t3
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT t1 || '>' || t2 || '>' || t3 AS path
        |      FROM l WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |        AND t3 IS NOT NULL),
        |g AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1),
        |top AS (SELECT path, n,
        |               CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS BIGINT)
        |                 AS rank
        |        FROM g)
        |SELECT rank, path, n FROM top WHERE rank <= 20 ORDER BY rank""".stripMargin),
  )
}
