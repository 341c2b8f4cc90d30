package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._

import Common._

/** Statistics and sketches ([[graft.operators.Stats]],
  * [[graft.operators.Sketch]]).
  */
object StatsQueries {

  /** One q224 estimator block per probed join — same CTE chain with
    * name-prefixed relations so three joins share one WITH. */
  private def jcBlock(n: String, t1: String, k1: String,
                      t2: String, k2: String): String =
    s"""${n}_c1 AS (SELECT CAST($k1 AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c1
       |           FROM $t1 WHERE $k1 IS NOT NULL GROUP BY 1),
       |${n}_c2 AS (SELECT CAST($k2 AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c2
       |           FROM $t2 WHERE $k2 IS NOT NULL GROUP BY 1),
       |${n}_m AS (SELECT coalesce(a.k, b.k) AS k, coalesce(a.c1, 0) AS c1,
       |                  coalesce(b.c2, 0) AS c2
       |           FROM ${n}_c1 a FULL JOIN ${n}_c2 b ON b.k = a.k),
       |${n}_h AS (SELECT * FROM ${n}_m ORDER BY (c1 + c2) DESC, k ASC LIMIT 8),
       |${n}_t AS (SELECT m.* FROM ${n}_m m ANTI JOIN ${n}_h h ON h.k = m.k),
       |${n}_he AS (SELECT coalesce(sum(CAST(c1 AS HUGEINT) * c2), 0) AS he
       |            FROM ${n}_h),
       |${n}_te AS (SELECT coalesce(sum(c1), 0) AS n1t, coalesce(sum(c2), 0) AS n2t,
       |                   count(CASE WHEN c1 > 0 THEN 1 END) AS d1t,
       |                   count(CASE WHEN c2 > 0 THEN 1 END) AS d2t
       |            FROM ${n}_t),
       |${n}_ac AS (SELECT coalesce(sum(CAST(c1 AS HUGEINT) * c2), 0) AS act
       |            FROM ${n}_m),
       |${n}_out AS (SELECT '$n' AS join_name,
       |                    CAST(he + (CAST(n1t AS HUGEINT) * n2t)
       |                         // greatest(d1t, d2t, 1) AS BIGINT) AS n_est,
       |                    CAST(act AS BIGINT) AS n_actual,
       |                    CAST(CASE WHEN act = 0 THEN 0
       |                         ELSE (abs(he + (CAST(n1t AS HUGEINT) * n2t)
       |                                   // greatest(d1t, d2t, 1) - act) * 10000)
       |                              // act END AS BIGINT) AS err_abs_bp
       |             FROM ${n}_he, ${n}_te, ${n}_ac)""".stripMargin

  private val JoinCardSql: String = {
    val probes = Seq(
      ("events_self_user", "events", "user_id", "events", "user_id"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))
    "WITH " + probes.map((jcBlock _).tupled).mkString(",\n") + "\n" +
      probes.map { case (n, _, _, _, _) => s"SELECT * FROM ${n}_out" }
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY join_name")
  }

  val entries: Seq[Entry] = Seq(
    // exact decile calibration of the quality score: 4dp rounding bounds
    // the value cardinality, so order statistics reduce to counting
    Query("q77_quality_deciles", (s, dir) =>
      Stats.quantileBuckets(
        Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.qualityExpr(col("text")).as("quality")),
        valueCol = "quality", k = 10, bucketCol = "decile",
        pinInput = true) // quality tokenizes every doc — score once, not twice
        .orderBy("doc_id"),
      // quality chain shared with q92/q93/q94 via QualitySql — one source
      // of truth; an edit to the formula moves all four oracles together
      s"""WITH $QualitySql,
        |d AS (SELECT quality AS v, count(*) AS c FROM q
        |      WHERE quality IS NOT NULL GROUP BY v),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM d),
        |n AS (SELECT count(*) AS n FROM q WHERE quality IS NOT NULL),
        |js AS (SELECT unnest(range(1, 10)) AS j),
        |cuts AS (
        |  SELECT j, min(v) AS cut
        |  FROM cum, n, js
        |  WHERE cum >= (j * n.n + 9) // 10
        |  GROUP BY j)
        |SELECT q.doc_id, q.quality,
        |       CAST(1 + (SELECT count(*) FROM cuts WHERE cut < q.quality) AS INT) AS decile
        |FROM q ORDER BY doc_id""".stripMargin),
    // trailing-7-day distinct active users per day — two hash aggs via a
    // bounded x7 map-side expansion; no range join, no collect_set window
    Query("q86_rolling_active", (s, dir) =>
      Stats.rollingDistinctCount(Tables.events(s, dir),
        tsCol = "ts", idCol = "user_id", windowDays = 7,
        outCol = "active_users").orderBy("day"),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM e),
        |days AS (SELECT DISTINCT d FROM a)
        |SELECT days.d AS day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
        |FROM days JOIN a ON a.d BETWEEN days.d - 6 AND days.d
        |GROUP BY days.d ORDER BY day""".stripMargin),
    // per-user activity deciles: quantileBuckets composed onto the event
    // domain — integer event counts are a bounded measure by construction
    Query("q91_activity_deciles", (s, dir) =>
      Stats.quantileBuckets(
        Tables.events(s, dir).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        valueCol = "n_events", k = 10, bucketCol = "decile",
        pinInput = true) // per-user agg shuffles the event table — once, not twice
        .orderBy(col("user_id").asc_nulls_last),
      """WITH a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1),
        |d AS (SELECT n_events AS v, count(*) AS c FROM a GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM d),
        |n AS (SELECT count(*) AS n FROM a),
        |js AS (SELECT unnest(range(1, 10)) AS j),
        |cuts AS (SELECT j, min(v) AS cut FROM cum, n, js
        |         WHERE cum >= (j * n.n + 9) // 10 GROUP BY j)
        |SELECT a.user_id, a.n_events,
        |       CAST(1 + (SELECT count(*) FROM cuts WHERE cut < a.n_events) AS INT) AS decile
        |FROM a ORDER BY user_id""".stripMargin),
    // curriculum phases: LM surprisal (q84) bucketed by exact counting
    // quartiles (q77's machinery) — phase 1 = easiest, 4 = hardest
    Query("q93_curriculum", (s, dir) =>
      Stats.quantileBuckets(
        TextAnalysis.lmScore(Tables.documents(s, dir))
          .select(col("doc_id"), col("avg_nll")),
        valueCol = "avg_nll", k = 4, bucketCol = "phase",
        pinInput = true) // lmScore tokenizes + joins the model — once, not twice
        .orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |m AS (SELECT token, CAST(round(ln(CAST(t.t AS DOUBLE) / n) * 1000000) AS BIGINT) AS nll
        |      FROM c CROSS JOIN t),
        |d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |             CAST(sum(m.nll) AS BIGINT) AS nll_micro
        |      FROM tok JOIN m USING (token) GROUP BY 1),
        |s AS (SELECT doc_id,
        |             ((2 * nll_micro + n_tokens) // (2 * n_tokens)) / 1000000.0 AS avg_nll
        |      FROM d),
        |dist AS (SELECT avg_nll AS v, count(*) AS c FROM s GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM dist),
        |n AS (SELECT count(*) AS n FROM s),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |cuts AS (SELECT j, min(v) AS cut FROM cum, n, js
        |         WHERE cum >= (j * n.n + 3) // 4 GROUP BY j)
        |SELECT s.doc_id, s.avg_nll,
        |       CAST(1 + (SELECT count(*) FROM cuts WHERE cut < s.avg_nll) AS INT) AS phase
        |FROM s ORDER BY doc_id""".stripMargin),
    // per-type value percentiles on the 0.01 counting grid — type-1
    // cuts, integer comparisons, no per-type sort
    Query("q130_value_quantiles", (s, dir) =>
      Stats.tickQuantiles(Tables.events(s, dir), keyCol = "event_type",
        valueCol = "value").orderBy(col("event_type").asc_nulls_last),
      // (event_type × 0.01-tick) counting grid; exact type-1 quantile
      // picks as integer comparisons over per-type cumulative counts
      """WITH c AS (SELECT event_type, CAST(floor(value / 0.01) AS BIGINT) AS v,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1, 2),
        |w AS (SELECT event_type, v, c,
        |             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS DOUBLE) * 0.01 AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS DOUBLE) * 0.01 AS p90,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS DOUBLE) * 0.01 AS p99
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),
    // daily-volume 3-sigma anomaly flags; the fixture's uniform volume
    // never trips 3σ, so a duplicate-ingestion burst is planted on one
    // (type, day) cell — the flag genuinely splits (q120's convention)
    Query("q132_daily_anomalies", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("ts"))
      val burst = ev.where(col("event_type") === "click" &&
          to_date(col("ts").cast("timestamp")) === lit("2024-01-01").cast("date"))
        .withColumn("__r", explode(sequence(lit(1), lit(5)))).drop("__r")
      Stats.dailyAnomalies(ev.unionByName(burst), keyCol = "event_type",
        tsCol = "ts").orderBy("event_type", "day")
    },
      // (type × day) count grid; mean/σ from exact integer sums (HUGEINT
      // squares), one fixed expression shape for the 3σ flag
      """WITH ev AS (
        |  SELECT event_type, ts FROM events
        |  UNION ALL
        |  SELECT event_type, ts
        |  FROM events CROSS JOIN (SELECT unnest(range(1, 6)) AS r) reps
        |  WHERE event_type = 'click'
        |    AND CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-01'),
        |daily AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                      CAST(count(*) AS BIGINT) AS n_events
        |               FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS d,
        |              CAST(sum(n_events) AS BIGINT) AS s,
        |              sum(n_events * n_events) AS q
        |       FROM daily GROUP BY 1),
        |sd AS (SELECT event_type, s, d, CAST(s AS DOUBLE) / d AS mean,
        |              sqrt(greatest(0.0, CAST(q AS DOUBLE) / d
        |                - (CAST(s AS DOUBLE) / d) * (CAST(s AS DOUBLE) / d))) AS sd
        |       FROM st)
        |SELECT daily.event_type, daily.day, daily.n_events,
        |       CAST((2 * sd.s * 10000 + sd.d) // (2 * sd.d) AS DOUBLE)
        |         / 10000.0 AS mean_daily,
        |       CAST(daily.n_events AS DOUBLE) > sd.mean + 3.0 * sd.sd AS anomaly
        |FROM daily JOIN sd ON sd.event_type = daily.event_type
        |ORDER BY daily.event_type, day""".stripMargin),
    // per-source winsorized length means at global p05/p95 counting
    // cuts — the robust-mean audit; TakeOrdered cut extraction, one
    // clamp+agg pass
    Query("q146_winsorized_means", (s, dir) =>
      Stats.winsorizedMeans(Tables.documents(s, dir), keyCol = "source",
        valueCol = "n_chars").orderBy(col("source").asc_nulls_last),
      // global p05/p95 type-1 counting cuts (cum·100 >= n·p ⇔ the
      // engine's integer-ceil target), clamp, per-source 4dp-tick means
      """WITH g AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT v, c,
        |             CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER () AS BIGINT) AS n FROM g),
        |cuts AS (SELECT min(CASE WHEN cum * 100 >= n * 5 THEN v END) AS lo,
        |                min(CASE WHEN cum * 100 >= n * 95 THEN v END) AS hi
        |         FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(cuts.lo AS BIGINT) AS cut_lo, CAST(cuts.hi AS BIGINT) AS cut_hi,
        |       CAST(floor(sum(n_chars) * 10000.0 / count(*) + 0.5) AS BIGINT)
        |         / 10000.0 AS mean_raw,
        |       CAST(floor(sum(greatest(cuts.lo, least(cuts.hi, n_chars)))
        |         * 10000.0 / count(*) + 0.5) AS BIGINT) / 10000.0 AS mean_winsor
        |FROM documents, cuts WHERE n_chars IS NOT NULL
        |GROUP BY source, cuts.lo, cuts.hi
        |ORDER BY source""".stripMargin),
    // per-source robust outliers: type-1 median + MAD on counting
    // grids, flag beyond 3·MAD — the rule σ-inflation can't hide from
    Query("q152_mad_outliers", (s, dir) =>
      Stats.madOutliers(Tables.documents(s, dir), keyCol = "source",
        valueCol = "n_chars").orderBy("source"),
      // two per-source counting grids (values, then |v − median|), type-1
      // lower medians, integer 3·MAD comparisons
      """WITH v AS (SELECT source AS k, n_chars AS val FROM documents
        |           WHERE n_chars IS NOT NULL),
        |c1 AS (SELECT k, val, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
        |w1 AS (SELECT k, val, c,
        |              CAST(sum(c) OVER (PARTITION BY k ORDER BY val ROWS BETWEEN
        |                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |              CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM c1),
        |med AS (SELECT k, CAST(max(n) AS BIGINT) AS n_rows,
        |               min(CASE WHEN cum * 100 >= n * 50 THEN val END) AS med
        |        FROM w1 GROUP BY k),
        |d AS (SELECT v.k, abs(v.val - med.med) AS dev
        |      FROM v JOIN med ON v.k = med.k),
        |c2 AS (SELECT k, dev, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |w2 AS (SELECT k, dev, c,
        |              CAST(sum(c) OVER (PARTITION BY k ORDER BY dev ROWS BETWEEN
        |                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |              CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM c2),
        |mad AS (SELECT k, min(CASE WHEN cum * 100 >= n * 50 THEN dev END) AS mad
        |        FROM w2 GROUP BY k)
        |SELECT med.k AS source, med.n_rows,
        |       CAST(med.med AS BIGINT) AS median, CAST(mad.mad AS BIGINT) AS mad,
        |       CAST(sum(CASE WHEN abs(v.val - med.med) > mad.mad * 3
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM v JOIN med ON v.k = med.k JOIN mad ON v.k = mad.k
        |GROUP BY 1, 2, 3, 4 ORDER BY source""".stripMargin),
    // domain-fair percentile: every doc's strictly-below length share
    // WITHIN its source (floor bp) — one counting grid joined back on
    // the composite key
    Query("q158_relative_rank", (s, dir) =>
      Stats.relativeRank(Tables.documents(s, dir)
          .select("doc_id", "source", "n_chars"), "source", "n_chars")
        .orderBy("doc_id"),
      // (source × value) grid, strictly-below cumulative share in floor bp
      """WITH c AS (SELECT source AS k, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT k, v, c,
        |             CAST(sum(c) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cle,
        |             CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n FROM c)
        |SELECT d.doc_id, d.source, d.n_chars,
        |       CAST(((w.cle - w.c) * 10000) // w.n AS BIGINT) AS pct_bp
        |FROM documents d JOIN w ON w.k = d.source AND w.v = d.n_chars
        |ORDER BY d.doc_id""".stripMargin),
    // per-type daily-count OLS slope over the type's own day index —
    // integer-exact sums, 4dp, the growth/decay monitor
    Query("q159_volume_trend", (s, dir) =>
      Stats.dailyTrend(Tables.events(s, dir), keyCol = "event_type",
        tsCol = "ts").orderBy("event_type"),
      // per-type (day-index, count) points, integer-exact OLS sums, 4dp
      // slope, single-day keys guard to 0.0
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |                      CAST(count(*) AS BIGINT) AS y
        |               FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT k, min(d) AS d0 FROM daily GROUP BY 1),
        |pts AS (SELECT daily.k, CAST(daily.d - o.d0 AS BIGINT) AS x, y
        |        FROM daily JOIN o ON o.k = daily.k),
        |s AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days,
        |             CAST(sum(y) AS BIGINT) AS n_events,
        |             CAST(sum(x) AS BIGINT) AS sx,
        |             CAST(sum(x * y) AS HUGEINT) AS sxy,
        |             CAST(sum(x * x) AS HUGEINT) AS sxx
        |      FROM pts GROUP BY 1)
        |SELECT k AS event_type, n_days, n_events,
        |       CASE WHEN n_days * CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0 THEN 0.0
        |            ELSE round((n_days * CAST(sxy AS DOUBLE)
        |                        - CAST(sx AS DOUBLE) * CAST(n_events AS DOUBLE))
        |                       / (n_days * CAST(sxx AS DOUBLE)
        |                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
        |       END AS slope
        |FROM s ORDER BY event_type""".stripMargin),
    // per-source shape moments: skewness + excess kurtosis from exact
    // integer power sums — the tail-drift monitor
    Query("q168_higher_moments", (s, dir) =>
      Stats.higherMoments(Tables.documents(s, dir), keyCol = "source",
        valueCol = "n_chars").orderBy(col("source").asc_nulls_last),
      // exact integer power sums → one fixed double expression per moment
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |                  CAST(sum(n_chars) AS BIGINT) AS s1,
        |                  CAST(sum(n_chars * n_chars) AS HUGEINT) AS s2,
        |                  CAST(sum(n_chars * n_chars * n_chars) AS HUGEINT) AS s3,
        |                  CAST(sum(n_chars * n_chars * n_chars * n_chars) AS HUGEINT) AS s4
        |           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
        |SELECT source, n AS n_rows,
        |       round(CAST(s1 AS DOUBLE) / n, 4) AS mean,
        |       round((CAST(s3 AS DOUBLE) / n
        |              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |                    * (CAST(s1 AS DOUBLE) / n))
        |             / pow(greatest(1e-12, CAST(s2 AS DOUBLE) / n
        |                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 1.5),
        |             4) AS skewness,
        |       round((CAST(s4 AS DOUBLE) / n
        |              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
        |              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |                    * (CAST(s2 AS DOUBLE) / n)
        |              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |                    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |             / (greatest(1e-12, CAST(s2 AS DOUBLE) / n
        |                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |                * greatest(1e-12, CAST(s2 AS DOUBLE) / n
        |                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
        |             - 3.0, 4) AS kurtosis
        |FROM s ORDER BY source""".stripMargin),
    // trailing 7-day mean of daily volumes per type — RANGE window over
    // the (type × day-index) grid, calendar-width denominator
    Query("q169_rolling_mean", (s, dir) =>
      Stats.rollingDailyMean(Tables.events(s, dir), keyCol = "event_type",
        tsCol = "ts").orderBy("event_type", "day"),
      // RANGE window over the per-type day index; calendar-width
      // denominator, 4dp HALF_UP ticks
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dy,
        |                  CAST(count(*) AS BIGINT) AS n_events
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT k, min(dy) AS d0 FROM d GROUP BY 1),
        |i AS (SELECT d.k, d.dy, d.n_events, CAST(d.dy - o.d0 AS BIGINT) AS idx
        |      FROM d JOIN o ON o.k = d.k),
        |w AS (SELECT k, dy, n_events, idx,
        |             CAST(sum(n_events) OVER (PARTITION BY k ORDER BY idx
        |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |               AS trail_sum
        |      FROM i)
        |SELECT k AS event_type, dy AS day, n_events, trail_sum,
        |       CAST(floor(trail_sum * 10000.0 / least(idx + 1, 7) + 0.5) AS BIGINT)
        |         / 10000.0 AS trail_mean
        |FROM w ORDER BY event_type, day""".stripMargin),
    // per-type Gini of events-per-user — exact rank-weighted sums on the
    // (type × activity-count) grid, decimal(38,0) final quotient
    Query("q208_activity_gini", (s, dir) =>
      Stats.giniByKey(Tables.events(s, dir), "event_type", "user_id")
        .orderBy("event_type"),
      // same grid identity: Σ ranks of a cell = m(2·cum0+m+1)/2; HUGEINT
      // final quotient mirrors the engine's decimal(38,0)
      """WITH c AS (SELECT event_type AS k, user_id AS u,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |           GROUP BY 1, 2),
        |g AS (SELECT k, c, CAST(count(*) AS BIGINT) AS m FROM c GROUP BY 1, 2),
        |w AS (SELECT k, c, m,
        |             coalesce(sum(m) OVER (PARTITION BY k ORDER BY c
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS cum0
        |      FROM g),
        |a AS (SELECT k, CAST(sum(m) AS BIGINT) AS n_units,
        |             CAST(sum(c * m) AS BIGINT) AS n_events,
        |             CAST(sum(c * m * (2 * cum0 + m + 1)) AS BIGINT) AS s2
        |      FROM w GROUP BY 1)
        |SELECT k AS event_type, n_units, n_events,
        |       CAST(((CAST(s2 AS HUGEINT) - CAST(n_units + 1 AS HUGEINT) * n_events)
        |              * 10000)
        |            // (CAST(n_units AS HUGEINT) * n_events) AS BIGINT) AS gini_bp
        |FROM a ORDER BY 1""".stripMargin),
    // count-min sketch design audit: exact top-20 tokens vs their d×w
    // sketch estimates, over-estimate in floor-bp
    Query("q212_cms_audit", (s, dir) =>
      Sketch.cmsHeavyHitterAudit(Tables.documents(s, dir)).orderBy("rank"),
      // identical salted-md5 slots; sketch built from the exact vocab agg
      // (counts are additive), estimate = min over the d probed slots
      """WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                       x -> x <> '')) AS tok
        |              FROM documents),
        |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
        |          FROM toks GROUP BY 1),
        |rows_ AS (SELECT tok, n_exact, unnest([0, 1, 2, 3]) AS r FROM exact),
        |slots AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 1024 AS slot,
        |                 n_exact
        |          FROM rows_),
        |cms AS (SELECT r, slot, CAST(sum(n_exact) AS BIGINT) AS sc
        |        FROM slots GROUP BY 1, 2),
        |top AS (SELECT tok, n_exact,
        |               CAST(row_number() OVER (ORDER BY n_exact DESC, tok ASC)
        |                 AS BIGINT) AS rank
        |        FROM exact QUALIFY rank <= 20),
        |probe AS (SELECT t.rank, t.tok, t.n_exact, rr.r,
        |                 ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || t.tok), 1, 8))::BIGINT % 1024 AS slot
        |          FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr)
        |SELECT p.rank, p.tok, p.n_exact, CAST(min(c.sc) AS BIGINT) AS n_est,
        |       CAST(((min(c.sc) - p.n_exact) * 10000) // p.n_exact AS BIGINT)
        |         AS over_bp
        |FROM probe p JOIN cms c ON c.r = p.r AND c.slot = p.slot
        |GROUP BY 1, 2, 3 ORDER BY p.rank""".stripMargin),
    // Pareto frontier over (quality ↑, n_tokens ↓): dominance reduced to
    // a running min over the bounded 4dp quality grid, never an O(n²)
    // dominance join
    Query("q217_pareto_frontier", (s, dir) =>
      Stats.paretoFrontier(
        TextAnalysis.qualityScore(Tables.documents(s, dir)),
        "quality", "n_tokens", "n_docs")
        .orderBy(col("quality").desc),
      // independent skyline formulation: correlated NOT EXISTS dominance
      // (the engine's running-min-over-grid must agree with the O(n²) def)
      s"""WITH $QualitySql,
        |p AS (SELECT q.quality, CAST(qt.n_toks AS BIGINT) AS n_tokens
        |      FROM q JOIN qt USING (doc_id)
        |      WHERE q.quality IS NOT NULL AND qt.n_toks IS NOT NULL)
        |SELECT quality, n_tokens, CAST(count(*) AS BIGINT) AS n_docs
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p p2
        |  WHERE p2.quality >= p.quality AND p2.n_tokens <= p.n_tokens
        |    AND (p2.quality > p.quality OR p2.n_tokens < p.n_tokens))
        |GROUP BY 1, 2 ORDER BY quality DESC""".stripMargin),
    // HLL distinct-users audit per event_type: exact integer harmonic
    // denominator (Σ 2^(cap−rank)), α·m²/Z as one integer DIV
    Query("q218_hll_audit", (s, dir) =>
      Sketch.hllDistinctAudit(Tables.events(s, dir), "event_type", "user_id")
        .orderBy("key"),
      // same md5→(register, lowest-set-bit rank) arithmetic; the harmonic
      // denominator is an exact integer sum, the estimate one integer DIV
      s"""WITH base AS (SELECT event_type AS key, CAST(user_id AS VARCHAR) AS id
        |              FROM events
        |              WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |h AS (SELECT key, id,
        |             ('0x' || substr(md5(id), 1, 15))::BIGINT AS hv
        |      FROM base),
        |r AS (SELECT key, hv % 64 AS reg,
        |             ${Sketch.hllRankSql("hv // 64")} AS rnk
        |      FROM h),
        |regs AS (SELECT key, reg, max(rnk) AS mr FROM r GROUP BY 1, 2),
        |sk AS (SELECT key, CAST(count(*) AS BIGINT) AS present,
        |              sum(1048576 // (CAST(1 AS BIGINT) << mr)) AS zp
        |       FROM regs GROUP BY 1),
        |est AS (SELECT key, 64 - present AS v_zero,
        |               CAST(zp + (64 - present) * 1048576 AS BIGINT) AS z_scaled
        |        FROM sk),
        |ex AS (SELECT key, CAST(count(DISTINCT id) AS BIGINT) AS n_exact
        |       FROM base GROUP BY 1)
        |SELECT ex.key, ex.n_exact, CAST(v_zero AS BIGINT) AS v_zero, z_scaled,
        |       CAST(${709L * 64 * 64 * (1L << 20)} // (1000 * z_scaled) AS BIGINT) AS n_est,
        |       CAST((abs(${709L * 64 * 64 * (1L << 20)} // (1000 * z_scaled) - ex.n_exact) * 10000)
        |         // ex.n_exact AS BIGINT) AS err_abs_bp
        |FROM ex JOIN est ON est.key = ex.key ORDER BY ex.key""".stripMargin),
    // join cardinality estimator audit: top-8 heavy keys exact + System-R
    // uniform tail vs ground truth Σ c1·c2 — never a physical join
    Query("q224_join_card", (s, dir) =>
      Sketch.joinCardinalityAudit(Seq(
        ("events_self_user", Tables.events(s, dir), "user_id",
          Tables.events(s, dir), "user_id"),
        ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        ("orders_customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"))),
      // three parametrized blocks of the same estimator, one WITH chain
      JoinCardSql),
    // daily trending props.k values: top-8 per day vs yesterday's FULL
    // ranking, absent → rank 0 sentinel
    Query("q227_trending", (s, dir) =>
      Stats.trendingDaily(
        Tables.events(s, dir).select(col("ts"),
          get_json_object(col("props"), "$.k").cast("long").as("item")),
        "ts", "item"),
      // yesterday's FULL ranking joined on (item, d−1); 0 sentinel for new
      """WITH ev AS (SELECT CAST(ts AS DATE) AS d,
        |                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |                     AS item
        |            FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT d, item FROM ev WHERE item IS NOT NULL),
        |daily AS (SELECT d, item, CAST(count(*) AS BIGINT) AS n
        |          FROM f GROUP BY 1, 2),
        |r AS (SELECT d, item, n,
        |             CAST(row_number() OVER (PARTITION BY d
        |               ORDER BY n DESC, item ASC) AS BIGINT) AS rank
        |      FROM daily),
        |p AS (SELECT d + 1 AS d, item, rank AS prev_rank FROM r)
        |SELECT r.d, r.item, r.n, r.rank,
        |       CAST(coalesce(p.prev_rank, 0) AS BIGINT) AS prev_rank,
        |       CAST(CASE WHEN p.prev_rank IS NULL THEN 0
        |            ELSE p.prev_rank - r.rank END AS BIGINT) AS delta
        |FROM r LEFT JOIN p ON p.d = r.d AND p.item = r.item
        |WHERE r.rank <= 8 ORDER BY r.d, r.rank""".stripMargin),
    // day-of-week seasonality: coverage-normalized index over the
    // ≤ 7-row dow grid per type, Monday=0 pinned on both engines
    Query("q236_dow_seasonality", (s, dir) =>
      Stats.dowSeasonality(Tables.events(s, dir)),
      // isodow − 1 ≡ Spark weekday (Monday=0); non-negative DIVs
      """WITH ev AS (SELECT event_type AS key, CAST(ts AS TIMESTAMP) AS ts
        |            FROM events
        |            WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT key, CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |      FROM ev GROUP BY 1, 2),
        |w AS (SELECT *, sum(n) OVER (PARTITION BY key) AS total,
        |             sum(n_days) OVER (PARTITION BY key) AS days_total
        |      FROM g)
        |SELECT key, dow, n, n_days,
        |       CAST(CAST(n AS HUGEINT) * 10000 // total AS BIGINT) AS share_bp,
        |       CAST(CAST(n AS HUGEINT) * days_total * 10000
        |         // (CAST(total AS HUGEINT) * n_days) AS BIGINT) AS index_bp
        |FROM w ORDER BY key, dow""".stripMargin),
    // CUSUM changepoint: integer ×n_days-scaled deviation cumsum over
    // the bounded day series, earliest-day tiebreak
    Query("q237_cusum", (s, dir) =>
      Stats.cusumChangepoint(Tables.events(s, dir)),
      // deviation terms ×n_days stay integer; peak ties → earliest day
      """WITH ev AS (SELECT event_type AS key,
        |                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |            FROM events
        |            WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |daily AS (SELECT key, d, CAST(count(*) AS BIGINT) AS c
        |          FROM ev GROUP BY 1, 2),
        |w AS (SELECT key, d, c,
        |             CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_days,
        |             CAST(sum(c) OVER (PARTITION BY key) AS BIGINT) AS total
        |      FROM daily),
        |cu AS (SELECT key, d, n_days, total,
        |             CAST(sum(c * n_days - total) OVER (PARTITION BY key
        |               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS BIGINT) AS cusum
        |      FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY key
        |        ORDER BY abs(cusum) DESC, d ASC) AS rn FROM cu)
        |SELECT key, n_days, total, d AS cp_day, cusum AS cp_cusum
        |FROM r WHERE rn = 1 ORDER BY key""".stripMargin),
    // burstiness: daily-volume Fano factor per type over each type's
    // own span (silent days are zeros via the span identity)
    Query("q248_fano_factor", (s, dir) =>
      Stats.fanoDaily(Tables.events(s, dir)),
      // span-identity Fano: zeros enter only through n_days; HUGEINT
      // products, one final floored micro division
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS d2,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2)
        |SELECT key,
        |       CAST(date_diff('day', min(d2), max(d2)) + 1 AS BIGINT) AS n_days,
        |       CAST(sum(c) AS BIGINT) AS total,
        |       CAST(((CAST(date_diff('day', min(d2), max(d2)) + 1 AS HUGEINT)
        |               * sum(c * c) - CAST(sum(c) AS HUGEINT) * sum(c)) * 1000000)
        |            // (CAST(date_diff('day', min(d2), max(d2)) + 1 AS HUGEINT)
        |               * sum(c)) AS BIGINT) AS fano_micro
        |FROM d GROUP BY key ORDER BY key""".stripMargin),
    // schema-inference primitive: which part columns determine which —
    // TPC-H's brand→mfgr holds, the others violate
    Query("q251_fd_audit", (s, dir) =>
      Stats.fdAudit(Tables.part(s, dir), Seq(
        ("partkey_brand", "p_partkey", "p_brand"),
        ("brand_type", "p_brand", "p_type"),
        ("size_type", "p_size", "p_type"))),
      // per candidate: one distinct-count agg; nd>1 marks a violation
      """WITH a1 AS (SELECT p_partkey, CAST(count(DISTINCT p_brand) AS BIGINT) AS nd
        |            FROM part WHERE p_partkey IS NOT NULL GROUP BY 1),
        |a2 AS (SELECT p_brand, CAST(count(DISTINCT p_type) AS BIGINT) AS nd
        |       FROM part WHERE p_brand IS NOT NULL GROUP BY 1),
        |a3 AS (SELECT p_size, CAST(count(DISTINCT p_type) AS BIGINT) AS nd
        |       FROM part WHERE p_size IS NOT NULL GROUP BY 1),
        |u AS (
        |  SELECT 'partkey_brand' AS dependency, count(*) AS n_keys,
        |         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating,
        |         max(nd) AS max_distinct FROM a1
        |  UNION ALL
        |  SELECT 'brand_type', count(*),
        |         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM a2
        |  UNION ALL
        |  SELECT 'size_type', count(*),
        |         sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), max(nd) FROM a3)
        |SELECT dependency, CAST(n_keys AS BIGINT) AS n_keys,
        |       CAST(n_violating AS BIGINT) AS n_violating,
        |       CAST(max_distinct AS BIGINT) AS max_distinct,
        |       CAST(floor(n_violating * 10000.0 / n_keys + 0.5) AS BIGINT)
        |         AS viol_bp
        |FROM u ORDER BY dependency""".stripMargin),
    // argmax primitive: modal hour-of-day per event type, ties to the
    // smallest hour, struct extreme — no window
    Query("q253_modal_hour", (s, dir) =>
      Stats.modalByKey(
        Tables.events(s, dir)
          .select(col("event_type"), hour(col("ts")).as("hr")),
        "event_type", "hr"),
      // rank-1 by (count DESC, value ASC) ≡ the engine's struct extreme
      """WITH h AS (SELECT event_type AS key,
        |                  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS v,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |r AS (SELECT key, v, n, row_number() OVER (PARTITION BY key
        |        ORDER BY n DESC, v ASC) AS rn FROM h)
        |SELECT key, v AS modal_value, n FROM r WHERE rn = 1
        |ORDER BY key""".stripMargin),
    // Wald–Wolfowitz runs on daily volume direction: trending vs
    // oscillating per type, exact integer E[R]
    Query("q254_runs_test", (s, dir) =>
      Stats.runsTestDaily(Tables.events(s, dir)),
      // zero deltas dropped, runs at sign changes, E[R] exact micro
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS d2,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |dl AS (SELECT key, d2,
        |              c - lag(c) OVER (PARTITION BY key ORDER BY d2) AS delta
        |       FROM d),
        |sg AS (SELECT key, d2, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sign
        |       FROM dl WHERE delta IS NOT NULL AND delta <> 0),
        |rn AS (SELECT key, sign,
        |              CASE WHEN lag(sign) OVER w IS NULL
        |                     OR lag(sign) OVER w <> sign THEN 1 ELSE 0 END AS run0
        |       FROM sg WINDOW w AS (PARTITION BY key ORDER BY d2))
        |SELECT key,
        |       CAST(sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
        |       CAST(sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
        |       CAST(sum(run0) AS BIGINT) AS n_runs,
        |       CAST(1000000 + (2000000 * sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END)
        |              * sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END))
        |            // (sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END)
        |               + sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END)) AS BIGINT)
        |         AS expected_runs_micro
        |FROM rn GROUP BY key ORDER BY key""".stripMargin),
    // Herfindahl concentration of user activity per type — Σ share² as
    // one exact decimal ratio
    Query("q283_hhi", (s, dir) =>
      Stats.hhiByKey(Tables.events(s, dir), "event_type", "user_id"),
      // HHI = Σc²·1e6 // S², HUGEINT products
      """WITH u AS (SELECT event_type AS key, user_id,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |           GROUP BY 1, 2)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_units,
        |       CAST(sum(c) AS BIGINT) AS total,
        |       CAST((sum(CAST(c AS HUGEINT) * c) * 1000000)
        |            // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS hhi_micro
        |FROM u GROUP BY key ORDER BY key""".stripMargin),
    // concentration curve points on the (count × multiplicity) grid —
    // the table behind the q208 gini number
    Query("q280_lorenz_points", (s, dir) =>
      Stats.lorenzPoints(
        Tables.events(s, dir).where(col("user_id").isNotNull), "user_id"),
      // exact grid Lorenz points; share in floor bp
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (SELECT c, CAST(count(*) AS BIGINT) AS n_units FROM u GROUP BY 1),
        |w AS (SELECT c, n_units,
        |             CAST(sum(n_units) OVER (ORDER BY c) AS BIGINT) AS cum_units,
        |             sum(c * n_units) OVER (ORDER BY c) AS cum_act,
        |             sum(c * n_units) OVER () AS tot
        |      FROM g)
        |SELECT c, n_units, cum_units,
        |       CAST((cum_act * 10000) // tot AS BIGINT) AS cum_share_bp
        |FROM w ORDER BY c""".stripMargin),
    // forecast baselines: lag-7 vs lag-1 MAE per type on the calendar
    // day grid — "seasonal or momentum"
    Query("q278_seasonal_backtest", (s, dir) =>
      Stats.seasonalNaiveBacktest(Tables.events(s, dir)),
      // calendar self-joins (d = p.d + lag); missing days contribute no
      // pair on either engine
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS d2,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |m7 AS (SELECT t.key, CAST(count(*) AS BIGINT) AS n7,
        |              CAST(sum(abs(t.c - p.c)) * 1000000 // count(*) AS BIGINT)
        |                AS mae7_micro
        |       FROM d t JOIN d p ON p.key = t.key AND t.d2 = p.d2 + 7
        |       GROUP BY 1),
        |m1 AS (SELECT t.key, CAST(count(*) AS BIGINT) AS n1,
        |              CAST(sum(abs(t.c - p.c)) * 1000000 // count(*) AS BIGINT)
        |                AS mae1_micro
        |       FROM d t JOIN d p ON p.key = t.key AND t.d2 = p.d2 + 1
        |       GROUP BY 1)
        |SELECT m7.key, m7.n7, m7.mae7_micro, m1.n1, m1.mae1_micro
        |FROM m7 JOIN m1 ON m1.key = m7.key ORDER BY m7.key""".stripMargin),
    // exact cross-multiplied KS distance between corpus halves'
    // 4dp-quality distributions
    Query("q279_ks_test", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.qualityExpr(col("text")).as("q"))
      Stats.ksTest(scored, "q", pmod(col("doc_id"), lit(2)) === 0)
    },
      // exact cross-multiplied CDF distance over the 4dp-quality grid
      s"""WITH $QualitySql,
        |g AS (SELECT q.quality AS v,
        |             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |      FROM q WHERE q.quality IS NOT NULL GROUP BY 1),
        |c AS (SELECT v,
        |             sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW) AS cumA,
        |             sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW) AS cumB,
        |             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |      FROM g)
        |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |       CAST((max(abs(CAST(cumA AS HUGEINT) * nb
        |                     - CAST(cumB AS HUGEINT) * na)) * 1000000)
        |            // (CAST(max(na) AS HUGEINT) * max(nb)) AS BIGINT) AS d_micro
        |FROM c""".stripMargin),
    // generic data-quality profiler: per-column null rates, one scan
    Query("q271_null_profile", (s, dir) =>
      Stats.nullProfile(Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")),
      // one aggregate row stacked over the plan-time column dim
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_event_id,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_event_type,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_props,
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_ts,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_user_id,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_value
        |  FROM events),
        |u AS (
        |  SELECT 'event_id' AS column, n, c_event_id AS n_null FROM a
        |  UNION ALL SELECT 'event_type', n, c_event_type FROM a
        |  UNION ALL SELECT 'props', n, c_props FROM a
        |  UNION ALL SELECT 'ts', n, c_ts FROM a
        |  UNION ALL SELECT 'user_id', n, c_user_id FROM a
        |  UNION ALL SELECT 'value', n, c_value FROM a)
        |SELECT "column", n, n_null,
        |       CAST(floor(n_null * 10000.0 / n + 0.5) AS BIGINT) AS null_bp
        |FROM u ORDER BY "column"""".stripMargin),
    // dashboard WoW: weekly counts, lag over the (key × week) grid,
    // HALF_UP bp of the previous week
    Query("q269_wow_change", (s, dir) =>
      Stats.weekOverWeek(Tables.events(s, dir)),
      // Monday-anchored weeks on both engines; first week drops
      """WITH wk AS (SELECT event_type AS key,
        |                   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week,
        |                   CAST(count(*) AS BIGINT) AS n
        |            FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |            GROUP BY 1, 2),
        |l AS (SELECT key, week, n,
        |             lag(n) OVER (PARTITION BY key ORDER BY week) AS prev_n
        |      FROM wk)
        |SELECT key, week, n, prev_n,
        |       CAST(floor((n - prev_n) * 10000.0 / prev_n + 0.5) AS BIGINT)
        |         AS wow_bp
        |FROM l WHERE prev_n IS NOT NULL ORDER BY key, week""".stripMargin),
    // freshness-weighted volume: exact power-of-2 half-life decay via
    // bit shift — no float exp on the decision path
    Query("q266_time_decay", (s, dir) =>
      Stats.timeDecayedVolume(Tables.events(s, dir)),
      // exact >> decay; age vs the corpus max day
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events
        |            WHERE ts IS NOT NULL),
        |e AS (SELECT event_type AS key,
        |             date_diff('day', CAST(ts AS DATE), mxd) AS age
        |      FROM events CROSS JOIN mx
        |      WHERE event_type IS NOT NULL AND ts IS NOT NULL)
        |SELECT key, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(1000000 >> least(age // 7, 30)) AS BIGINT)
        |         AS decayed_micro
        |FROM e GROUP BY key ORDER BY key""".stripMargin),
    // Wilson lower bound per type for P(value > 100) — the
    // small-sample-honest rate ranking; identical double formula both
    // engines (z² spelled 1.96*1.96 so both compute the same IEEE value)
    Query("q264_wilson_bounds", (s, dir) =>
      Stats.wilsonLowerBound(
        Tables.events(s, dir).where(col("value").isNotNull && !isnan(col("value"))),
        col("value") > 100),
      // same double expression shape, left-associative, z² = 1.96*1.96
      """WITH e AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |                  CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)
        |                       AS BIGINT) AS x
        |           FROM events
        |           WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        |           GROUP BY 1)
        |SELECT event_type, n, x,
        |       round((x / n + 1.96*1.96 / (2.0 * n) -
        |              1.96 * sqrt(x / n * (1.0 - x / n) / n +
        |                          1.96*1.96 / (4.0 * n * n))) /
        |             (1.0 + 1.96*1.96 / n), 6) AS wilson_lb
        |FROM e ORDER BY event_type""".stripMargin),
    // weekly-seasonality strength: dow-means R² in bp from per-group
    // floored micro sums of squares
    Query("q257_dow_r2", (s, dir) =>
      Stats.dowVarianceExplained(Tables.events(s, dir)),
      // per-group floored micro sums of squares; dow labels differ across
      // engines but partition the days identically (grouping key only)
      """WITH d AS (SELECT event_type AS key, CAST(ts AS DATE) AS d2,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |           GROUP BY 1, 2),
        |g AS (SELECT key, dayofweek(d2) AS g2, CAST(sum(c) AS BIGINT) AS sg,
        |             CAST(count(*) AS BIGINT) AS ng
        |      FROM d GROUP BY 1, 2),
        |sb AS (SELECT key,
        |              sum(CAST((CAST(sg AS HUGEINT) * sg * 1000000) // ng
        |                       AS HUGEINT)) AS ssb_raw
        |       FROM g GROUP BY 1),
        |k2 AS (SELECT key, CAST(count(*) AS BIGINT) AS n_days,
        |              CAST(sum(c) AS BIGINT) AS s,
        |              CAST(sum(c * c) AS BIGINT) AS sq
        |       FROM d GROUP BY 1),
        |j AS (SELECT k2.key, k2.n_days,
        |             (CAST(k2.s AS HUGEINT) * k2.s * 1000000) // k2.n_days AS corr,
        |             CAST(k2.sq AS HUGEINT) * 1000000 AS sqm, sb.ssb_raw
        |      FROM k2 JOIN sb USING (key))
        |SELECT key, n_days,
        |       CAST(CASE WHEN sqm - corr <= 0 THEN 0
        |            ELSE (greatest(ssb_raw - corr, 0) * 10000) // (sqm - corr)
        |            END AS BIGINT) AS r2_bp
        |FROM j ORDER BY key""".stripMargin),
    // release-review k-anonymity over the (type, dow, hour) quasi-id
    // grid: cells and rows below each k
    Query("q258_k_anonymity", (s, dir) =>
      Stats.kAnonymity(
        Tables.events(s, dir)
          .where(col("ts").isNotNull)
          .select(col("event_type"), dayofweek(col("ts")).as("dow"),
            hour(col("ts")).as("hr")),
        Seq("event_type", "dow", "hr")),
      // NULL quasi-id values form their own cell on both engines
      """WITH cell AS (SELECT event_type,
        |                     dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
        |                     hour(CAST(ts AS TIMESTAMP)) AS hr,
        |                     CAST(count(*) AS BIGINT) AS c
        |              FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3),
        |ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(sum(CASE WHEN c < k THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_cells_below,
        |       CAST(sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT)
        |         AS n_rows_below,
        |       CAST(floor(sum(CASE WHEN c < k THEN c ELSE 0 END) * 10000.0
        |                  / sum(c) + 0.5) AS BIGINT) AS rows_below_bp
        |FROM cell CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin),
    // the gating trade curve: keep the top-k quality deciles → what
    // share of docs and TOKENS survives; counting buckets + a 10-row
    // descending cumsum dim
    Query("q191_selection_curve", (s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"),
        floor(TextAnalysis.qualityExpr(col("text")) * 10000 + 0.5).cast("long")
          .as("q_ticks"),
        TextAnalysis.nTokensExpr(col("text")).as("n_tokens"))
      // quality + token-count projection is the expensive pass of this
      // entry — pin it so the counting grid and the bucket assignment
      // both read the materialized rows instead of re-tokenizing
      val byB = Stats.quantileBuckets(scored, "q_ticks", k = 10,
          pinInput = true)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      byB
        .withColumn("cum_docs", sum(col("n_docs")).over(wDesc))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wDesc))
        .withColumn("docs_share_bp",
          expr("(cum_docs * 10000) DIV sum(n_docs) OVER ()"))
        .withColumn("tokens_share_bp",
          expr("(cum_tokens * 10000) DIV sum(n_tokens) OVER ()"))
        .select("bucket", "n_docs", "n_tokens", "cum_docs", "cum_tokens",
          "docs_share_bp", "tokens_share_bp")
        .orderBy(col("bucket").desc)
    },
      // quantileBuckets semantics replayed: integer-ceil cuts, bucket =
      // 1 + #cuts-below, then the 10-row descending cumulative dim
      s"""WITH $QualitySql,
        |d AS (SELECT q.doc_id,
        |             CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS qt,
        |             CAST(len(list_filter(regexp_split_to_array(doc.text, '\\s+'),
        |               x -> x <> '')) AS BIGINT) AS ntok
        |      FROM q JOIN documents doc ON doc.doc_id = q.doc_id),
        |g AS (SELECT qt AS v, CAST(count(*) AS BIGINT) AS c FROM d
        |      WHERE qt IS NOT NULL GROUP BY 1),
        |w AS (SELECT v, c,
        |             CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |               PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER () AS BIGINT) AS n FROM g),
        |cuts AS (SELECT j, min(CASE WHEN cum * 10 >= n * j THEN v END) AS cut
        |         FROM w CROSS JOIN (SELECT unnest(range(1, 10)) AS j) js
        |         GROUP BY j),
        |b AS (SELECT d.doc_id, d.ntok,
        |             1 + (SELECT count(*) FROM cuts WHERE cuts.cut < d.qt)
        |               AS bucket
        |      FROM d),
        |s AS (SELECT CAST(bucket AS INT) AS bucket,
        |             CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(ntok) AS BIGINT) AS n_tokens
        |      FROM b GROUP BY 1),
        |cm AS (SELECT bucket, n_docs, n_tokens,
        |              CAST(sum(n_docs) OVER (ORDER BY bucket DESC ROWS BETWEEN
        |                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |              CAST(sum(n_tokens) OVER (ORDER BY bucket DESC ROWS BETWEEN
        |                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |              CAST(sum(n_docs) OVER () AS BIGINT) AS td,
        |              CAST(sum(n_tokens) OVER () AS BIGINT) AS tt
        |       FROM s)
        |SELECT bucket, n_docs, n_tokens, cum_docs, cum_tokens,
        |       CAST((cum_docs * 10000) // td AS BIGINT) AS docs_share_bp,
        |       CAST((cum_tokens * 10000) // tt AS BIGINT) AS tokens_share_bp
        |FROM cm ORDER BY bucket DESC""".stripMargin),
    // chi-square independence of (source, lang) — full expected grid
    // from broadcast marginals, zero cells included
    Query("q189_chi_square", (s, dir) =>
      Stats.chiSquare(Tables.documents(s, dir), "source", "lang"),
      // full (rows × cols) grid from the marginals; fixed double shape
      """WITH o AS (SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS n
        |           FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |           GROUP BY 1, 2),
        |r AS (SELECT a, CAST(sum(n) AS BIGINT) AS rt FROM o GROUP BY 1),
        |c AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM o),
        |cells AS (SELECT r.a, c.b, coalesce(o.n, 0) AS n, r.rt, c.ct, t.tot
        |          FROM r CROSS JOIN c CROSS JOIN t
        |          LEFT JOIN o ON o.a = r.a AND o.b = c.b)
        |SELECT round(sum((CAST(n AS DOUBLE) * tot - CAST(rt AS DOUBLE) * ct)
        |                 * (CAST(n AS DOUBLE) * tot - CAST(rt AS DOUBLE) * ct)
        |                 / (CAST(tot AS DOUBLE) * rt * ct)), 4) AS chi2,
        |       CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
        |         AS dof
        |FROM cells""".stripMargin),
    // lag-1 autocorrelation of daily volumes per type — the
    // seasonality/momentum audit next to the trend slope
    Query("q190_autocorr", (s, dir) =>
      Stats.dailyAutocorr(Tables.events(s, dir), keyCol = "event_type",
        tsCol = "ts").orderBy(col("event_type").asc_nulls_last),
      // keyed lag over the (type × day) grid, exact cross sums, 4dp r
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dy,
        |                  CAST(count(*) AS BIGINT) AS y
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT k, y, lag(y) OVER (PARTITION BY k ORDER BY dy) AS py FROM d),
        |p AS (SELECT k, y, py FROM l WHERE py IS NOT NULL),
        |s AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(py) AS BIGINT) AS sp,
        |             CAST(sum(y * py) AS HUGEINT) AS syp,
        |             CAST(sum(y * y) AS HUGEINT) AS syy,
        |             CAST(sum(py * py) AS HUGEINT) AS spp
        |      FROM p GROUP BY 1)
        |SELECT k AS event_type, n AS n_pairs,
        |       round((n * CAST(syp AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sp AS DOUBLE))
        |             / sqrt(greatest(1e-12,
        |                 (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |                 * (n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))),
        |             4) AS r1
        |FROM s ORDER BY event_type""".stripMargin),
    // token-mass-weighted length percentiles per source: "p50 of the
    // TOKENS sits in a doc of length X" — the truncation-policy metric
    Query("q176_weighted_length", (s, dir) =>
      Stats.weightedQuantiles(
        Tables.documents(s, dir).select(col("source"),
          col("n_chars"), TextAnalysis.nTokensExpr(col("text")).as("n_tokens")),
        keyCol = "source", valueCol = "n_chars", weightCol = "n_tokens")
        .orderBy(col("source").asc_nulls_last),
      // weight sums replace row counts on the same counting grid
      """WITH d AS (SELECT source, n_chars,
        |                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                    x -> x <> '')) AS BIGINT) AS ntok
        |           FROM documents),
        |c AS (SELECT source, n_chars AS v, CAST(sum(ntok) AS BIGINT) AS c
        |      FROM d GROUP BY 1, 2),
        |w AS (SELECT source, v, c,
        |             CAST(sum(c) OVER (PARTITION BY source ORDER BY v ROWS BETWEEN
        |               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM c)
        |SELECT source, CAST(max(n) AS BIGINT) AS total_weight,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS DOUBLE) AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS DOUBLE) AS p90,
        |       CAST(min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS DOUBLE) AS p99
        |FROM w GROUP BY source ORDER BY source""".stripMargin),
    // Neyman-optimal annotation-budget split across sources: exact
    // integer spread weights (sqrt of N·Σt²−(Σt)² over quality ticks),
    // largest-remainder rounding sums to exactly the budget
    Query("q291_neyman_allocation", (s, dir) =>
      Stats.neymanAllocation(
        Tables.documents(s, dir).select(
          coalesce(col("source").cast("string"), lit("<none>")).as("src"),
          floor(TextAnalysis.qualityExpr(col("text")) * 10000 + 0.5)
            .cast("long").as("qt")),
        keyCol = "src", tickCol = "qt", budget = 10000L),
      // exact integer spread weights (sqrt of N·Σt²−(Σt)² HALF_UP) +
      // largest-remainder rounding; quotas floor, remainders by
      // (rem desc, key asc)
      s"""WITH $QualitySql,
        |sv AS (SELECT coalesce(d.source, '<none>') AS key,
        |              CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS t
        |       FROM q JOIN documents d USING (doc_id)
        |       WHERE q.quality IS NOT NULL),
        |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |              CAST(sum(t) AS HUGEINT) AS s1,
        |              CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS s2
        |       FROM sv GROUP BY 1),
        |w AS (SELECT key, n_rows,
        |             CAST(floor(sqrt(CAST(greatest(n_rows * s2 - s1 * s1,
        |               CAST(0 AS HUGEINT)) AS DOUBLE)) + 0.5) AS BIGINT)
        |               AS spread_w
        |      FROM st),
        |tw AS (SELECT CASE WHEN sum(spread_w) > 0 THEN CAST(sum(spread_w) AS BIGINT)
        |                   ELSE 1 END AS ww FROM w),
        |b AS (SELECT key, n_rows, spread_w,
        |             (10000 * spread_w) // ww AS base,
        |             (10000 * spread_w) % ww AS rem
        |      FROM w CROSS JOIN tw),
        |l AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rk FROM b)
        |SELECT key, n_rows, spread_w,
        |       CAST(base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
        |         AS alloc
        |FROM r CROSS JOIN l ORDER BY key""".stripMargin),
    // per-source log-normal length fit: integer log-tick moments, μ as
    // one floor DIV, σ from the exact variance numerator
    Query("q296_lognormal_fit", (s, dir) =>
      Stats.lognormalFit(
        Tables.documents(s, dir).select(
          coalesce(col("source").cast("string"), lit("<none>")).as("src"),
          col("n_chars")),
        keyCol = "src", valueCol = "n_chars"),
      // integer log-tick moments; μ floor DIV (log ticks non-negative for
      // n_chars ≥ 1), σ from the exact HUGEINT variance numerator
      """WITH x AS (SELECT coalesce(source, '<none>') AS key,
        |                  CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000)
        |                    AS BIGINT) AS x
        |           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |s AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(x) AS HUGEINT) AS sx,
        |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |      FROM x GROUP BY 1)
        |SELECT key, n_rows, CAST(sx // n_rows AS BIGINT) AS mu_micro,
        |       CAST(floor(sqrt(CAST(greatest(n_rows * sxx - sx * sx,
        |              CAST(0 AS HUGEINT)) AS DOUBLE)) / n_rows + 0.5) AS BIGINT)
        |         AS sigma_micro
        |FROM s ORDER BY key""".stripMargin),
  )
}
