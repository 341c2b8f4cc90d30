package graft
package queries

import graft.operators._
import graft.sink.IdempotentSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._

/** The reference pipeline on the events stream (SURVEY §2.4-2.8): ticks →
  * OHLC candles → gap-fill → Wilder ATR → row ids and the sink anti-join,
  * plus as-of joins and returns.
  */
object MarketQueries {

  private[graft] def candles(s: SparkSession, dir: String): DataFrame =
    Ohlc.candles(ticks(s, dir))

  /** Shared DuckDB CTE chain producing the same candle set. */
  private val CandleCte =
    s"""ev AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS symbol, value FROM events
      |  WHERE $TickWhere
      |), ranked AS (
      |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, symbol, value,
      |         row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 5 MINUTE, ts) ORDER BY ts, event_id) AS rn_a,
      |         row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 5 MINUTE, ts) ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM ev
      |), candles AS (
      |  SELECT window_start, symbol,
      |         max(CASE WHEN rn_a = 1 THEN value END) AS open,
      |         max(value) AS high,
      |         min(value) AS low,
      |         max(CASE WHEN rn_d = 1 THEN value END) AS close,
      |         count(*) AS tick_count
      |  FROM ranked GROUP BY window_start, symbol
      |)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Query("q28_count_distinct", (s, dir) => {
      ticks(s, dir)
        .groupBy(col("event_type").as("symbol"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("symbol")
    },
      s"""SELECT event_type AS symbol, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events WHERE $TickWhere
        |GROUP BY event_type ORDER BY symbol""".stripMargin),
    Query("q10_ohlc_candles", (s, dir) => {
      candles(s, dir)
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"), col("tick_count"))
        .orderBy("window_start", "symbol")
    },
      s"""WITH $CandleCte
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |       open, high, low, close, tick_count
         |FROM candles ORDER BY 1, symbol""".stripMargin),
    Query("q11_gap_fill", (s, dir) => {
      GapFill.fill(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"), col("tick_count"),
          col("gap_filled"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte,
         |bounds AS (SELECT min(window_start) AS wmin, max(window_start) AS wmax FROM candles),
         |wins AS (SELECT unnest(generate_series(wmin, wmax, INTERVAL 5 MINUTE)) AS window_start FROM bounds),
         |grid AS (SELECT w.window_start, s.symbol
         |         FROM wins w CROSS JOIN (SELECT DISTINCT symbol FROM candles) s),
         |filled AS (
         |  SELECT g.window_start, g.symbol, c.open, c.high, c.low, c.close, c.tick_count,
         |         last_value(c.close IGNORE NULLS) OVER (PARTITION BY g.symbol ORDER BY g.window_start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_close
         |  FROM grid g LEFT JOIN candles c ON g.window_start = c.window_start AND g.symbol = c.symbol)
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |       coalesce(open, prev_close) AS open, coalesce(high, prev_close) AS high,
         |       coalesce(low, prev_close) AS low, coalesce(close, prev_close) AS close,
         |       coalesce(tick_count, 0) AS tick_count,
         |       (tick_count IS NULL AND prev_close IS NOT NULL) AS gap_filled
         |FROM filled
         |WHERE tick_count IS NOT NULL OR prev_close IS NOT NULL
         |ORDER BY symbol, window_start""".stripMargin),
    Query("q12_true_range", (s, dir) => {
      val w = Window.partitionBy(col("symbol")).orderBy(col("window_start"))
      candles(s, dir)
        .withColumn("prev_close", lag(col("close"), 1).over(w))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          round(when(col("prev_close").isNull, col("high") - col("low"))
            .otherwise(greatest(col("high") - col("low"),
              abs(col("high") - col("prev_close")),
              abs(col("low") - col("prev_close")))), 4).as("tr"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte,
         |tr AS (
         |  SELECT symbol, window_start, high, low, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
         |  FROM candles)
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |  round(CASE WHEN prev_close IS NULL THEN high - low
         |        ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close)) END, 4) AS tr
         |FROM tr ORDER BY symbol, window_start""".stripMargin),
    Query("q13_atr_wilder", (s, dir) => {
      Atr.enrich(candles(s, dir)).toDF()
        .select(col("window_start"), col("symbol"), col("tr"), col("atr"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH RECURSIVE $CandleCte,
         |seq_c AS (
         |  SELECT symbol, window_start, high, low, close,
         |         row_number() OVER (PARTITION BY symbol ORDER BY window_start) AS rn,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
         |  FROM candles),
         |tr AS (
         |  SELECT symbol, window_start, rn,
         |         round(CASE WHEN prev_close IS NULL THEN high - low
         |               ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close)) END, 4) AS tr
         |  FROM seq_c),
         |tri AS (
         |  SELECT symbol, window_start, rn, tr, CAST(round(tr * 10000) AS BIGINT) AS tr_i FROM tr),
         |warm AS (
         |  SELECT symbol, rn, window_start, tr, tr_i,
         |         CAST(sum(tr_i) OVER (PARTITION BY symbol ORDER BY rn
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum14
         |  FROM tri),
         |atr AS (
         |  SELECT symbol, rn, window_start, tr, tr_i,
         |         greatest(CAST((sum14 + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM warm WHERE rn = 14
         |  UNION ALL
         |  SELECT t.symbol, t.rn, t.window_start, t.tr, t.tr_i,
         |         greatest(CAST((a.atr_i * 13 + t.tr_i + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM atr a JOIN tri t ON t.symbol = a.symbol AND t.rn = a.rn + 1)
         |SELECT strftime(w.window_start, '%Y-%m-%d %H:%M:%S') AS window_start, w.symbol, w.tr,
         |       a.atr_i / 10000.0 AS atr
         |FROM warm w LEFT JOIN atr a ON a.symbol = w.symbol AND a.rn = w.rn
         |ORDER BY w.symbol, w.window_start""".stripMargin),
    Query("q14_row_ids", (s, dir) => {
      candles(s, dir)
        .select(IdempotentSink.rowId(col("symbol"), col("window_start")).as("id"),
          col("symbol"), wstr(col("window_start")).as("window_start"))
        .withColumn("parsed_symbol", regexp_extract(col("id"), "^(.*)_(\\d{8}_\\d{4})$", 1))
        .withColumn("parsed_window", regexp_extract(col("id"), "^(.*)_(\\d{8}_\\d{4})$", 2))
        .orderBy("id")
    },
      s"""WITH $CandleCte,
         |ids AS (
         |  SELECT symbol || '_' || strftime(window_start, '%Y%m%d_%H%M') AS id, symbol,
         |         strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start
         |  FROM candles)
         |SELECT id, symbol, window_start,
         |       regexp_extract(id, '^(.*)_(\\d{8}_\\d{4})$$', 1) AS parsed_symbol,
         |       regexp_extract(id, '^(.*)_(\\d{8}_\\d{4})$$', 2) AS parsed_window
         |FROM ids ORDER BY id""".stripMargin),
    Query("q15_dedup_antijoin", (s, dir) => {
      val ids = candles(s, dir).select(
        IdempotentSink.rowId(col("symbol"), col("window_start")).as("id"),
        col("symbol"), col("window_start"), col("close"))
      val sink = ids.where(dayofmonth(col("window_start")) <= 15).select("id")
      ids.join(sink, Seq("id"), "left_anti")
        .select(col("id"), col("symbol"), wstr(col("window_start")).as("window_start"), col("close"))
        .orderBy("id")
    },
      s"""WITH $CandleCte,
         |ids AS (
         |  SELECT symbol || '_' || strftime(window_start, '%Y%m%d_%H%M') AS id,
         |         symbol, window_start, close
         |  FROM candles),
         |sink AS (SELECT id FROM ids WHERE CAST(strftime(window_start, '%d') AS INT) <= 15)
         |SELECT i.id, i.symbol, strftime(i.window_start, '%Y-%m-%d %H:%M:%S') AS window_start, i.close
         |FROM ids i WHERE NOT EXISTS (SELECT 1 FROM sink s WHERE s.id = i.id)
         |ORDER BY i.id""".stripMargin),
    Query("q51_gap_fill_sessions", (s, dir) =>
      GapFill.fillSessions(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"), col("tick_count"),
          col("gap_filled"))
        .orderBy("symbol", "window_start"),
      s"""WITH $CandleCte,
         |cd AS (SELECT *, CAST(window_start AS DATE) AS d FROM candles),
         |db AS (SELECT d, min(window_start) AS wmin, max(window_start) AS wmax FROM cd GROUP BY d),
         |wins AS (SELECT d, unnest(generate_series(wmin, wmax, INTERVAL 5 MINUTE)) AS window_start FROM db),
         |syms AS (SELECT DISTINCT symbol FROM candles),
         |grid AS (SELECT w.d, w.window_start, s.symbol FROM wins w CROSS JOIN syms s),
         |j AS (SELECT g.d, g.window_start, g.symbol, c.open, c.high, c.low, c.close, c.tick_count
         |      FROM grid g LEFT JOIN cd c ON c.window_start = g.window_start AND c.symbol = g.symbol),
         |dl AS (SELECT symbol, d, arg_max(close, window_start) AS day_close
         |       FROM cd GROUP BY symbol, d),
         |seeds AS (
         |  SELECT sg.symbol, sg.d,
         |         last_value(dl.day_close IGNORE NULLS) OVER (PARTITION BY sg.symbol ORDER BY sg.d
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seed
         |  FROM (SELECT db.d, s.symbol FROM db CROSS JOIN syms s) sg
         |  LEFT JOIN dl ON dl.symbol = sg.symbol AND dl.d = sg.d),
         |intr AS (
         |  SELECT j.*, coalesce(
         |      last_value(j.close IGNORE NULLS) OVER (PARTITION BY j.symbol, j.d ORDER BY j.window_start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      se.seed) AS prev_close
         |  FROM j JOIN seeds se ON se.symbol = j.symbol AND se.d = j.d)
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |       coalesce(open, prev_close) AS open, coalesce(high, prev_close) AS high,
         |       coalesce(low, prev_close) AS low, coalesce(close, prev_close) AS close,
         |       coalesce(tick_count, 0) AS tick_count,
         |       (tick_count IS NULL AND prev_close IS NOT NULL) AS gap_filled
         |FROM intr
         |WHERE tick_count IS NOT NULL OR prev_close IS NOT NULL
         |ORDER BY symbol, window_start""".stripMargin),
    Query("q16_missing_census", (s, dir) => {
      GapFill.missingCensus(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte,
         |bounds AS (SELECT min(window_start) AS wmin, max(window_start) AS wmax FROM candles),
         |wins AS (SELECT unnest(generate_series(wmin, wmax, INTERVAL 5 MINUTE)) AS window_start FROM bounds),
         |grid AS (SELECT w.window_start, s.symbol
         |         FROM wins w CROSS JOIN (SELECT DISTINCT symbol FROM candles) s)
         |SELECT strftime(g.window_start, '%Y-%m-%d %H:%M:%S') AS window_start, g.symbol
         |FROM grid g
         |WHERE NOT EXISTS (SELECT 1 FROM candles c
         |                  WHERE c.window_start = g.window_start AND c.symbol = g.symbol)
         |ORDER BY g.symbol, g.window_start""".stripMargin),
    Query("q54_missing_census_sessions", (s, dir) => {
      GapFill.missingCensusSessions(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte,
         |cd AS (SELECT *, CAST(window_start AS DATE) AS d FROM candles),
         |db AS (SELECT d, min(window_start) AS wmin, max(window_start) AS wmax FROM cd GROUP BY d),
         |wins AS (SELECT unnest(generate_series(wmin, wmax, INTERVAL 5 MINUTE)) AS window_start FROM db),
         |grid AS (SELECT w.window_start, s.symbol
         |         FROM wins w CROSS JOIN (SELECT DISTINCT symbol FROM candles) s)
         |SELECT strftime(g.window_start, '%Y-%m-%d %H:%M:%S') AS window_start, g.symbol
         |FROM grid g
         |WHERE NOT EXISTS (SELECT 1 FROM candles c
         |                  WHERE c.window_start = g.window_start AND c.symbol = g.symbol)
         |ORDER BY g.symbol, g.window_start""".stripMargin),
    Query("q17_sink_readback_max", (s, dir) => {
      ticks(s, dir)
        .groupBy(col("event_type").as("symbol"))
        .agg(wstr(max(col("ts"))).as("max_ts"), count(lit(1)).as("n"))
        .orderBy("symbol")
    },
      s"""SELECT event_type AS symbol,
        |       strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS max_ts,
        |       count(*) AS n
        |FROM events WHERE $TickWhere
        |GROUP BY event_type ORDER BY symbol""".stripMargin),
    Query("q18_state_reconcile", (s, dir) => {
      val ev = ticks(s, dir)
      def lastClose(df: DataFrame, name: String): DataFrame = {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("event_type").as("symbol"), col("value").as(name))
      }
      val a = lastClose(ev.where(col("ts") < lit("2024-01-16")), "close_a")
      val b = lastClose(ev, "close_b")
      a.join(b, Seq("symbol"), "full_outer")
        .select(col("symbol"), col("close_a"), col("close_b"),
          coalesce(col("close_b"), col("close_a")).as("resolved"),
          (col("close_a").isNotNull && col("close_b").isNotNull &&
            abs(col("close_a") - col("close_b")) > 0.0001).as("diverged"))
        .orderBy("symbol")
    },
      s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
        |            WHERE $TickWhere),
        |a AS (SELECT event_type AS symbol, value AS close_a FROM (
        |        SELECT event_type, value,
        |               row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ev WHERE ts < TIMESTAMP '2024-01-16') t WHERE rn = 1),
        |b AS (SELECT event_type AS symbol, value AS close_b FROM (
        |        SELECT event_type, value,
        |               row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ev) t WHERE rn = 1)
        |SELECT coalesce(a.symbol, b.symbol) AS symbol, a.close_a, b.close_b,
        |       coalesce(b.close_b, a.close_a) AS resolved,
        |       (a.close_a IS NOT NULL AND b.close_b IS NOT NULL
        |        AND abs(a.close_a - b.close_b) > 0.0001) AS diverged
        |FROM a FULL OUTER JOIN b ON a.symbol = b.symbol ORDER BY symbol""".stripMargin),
    Query("q19_session_filter", (s, dir) => {
      Tables.events(s, dir)
        .where((hour(col("ts")) * 60 + minute(col("ts"))).between(555, 929) &&
          dayofweek(col("ts")).between(2, 6))
        .select(col("event_id"), col("event_type"), col("value"), wstr(col("ts")).as("ts_s"))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type, value,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events
        |WHERE (CAST(strftime(CAST(ts AS TIMESTAMP), '%H') AS INT) * 60
        |       + CAST(strftime(CAST(ts AS TIMESTAMP), '%M') AS INT)) BETWEEN 555 AND 929
        |  AND isodow(CAST(ts AS TIMESTAMP)) BETWEEN 1 AND 5
        |ORDER BY event_id""".stripMargin),
    Query("q21_moving_avg", (s, dir) => {
      val w = Window.partitionBy(col("symbol")).orderBy(col("window_start"))
        .rowsBetween(-3, 0)
      candles(s, dir)
        .select(col("symbol"), wstr(col("window_start")).as("window_start"), col("close"),
          round(avg(col("close")).over(w), 4).as("ma4"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte
         |SELECT symbol, strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, close,
         |       round(avg(close) OVER (PARTITION BY symbol ORDER BY window_start
         |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma4
         |FROM candles ORDER BY symbol, window_start""".stripMargin),
    Query("q09_buffer_stats", (s, dir) => {
      candles(s, dir)
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_windows"),
          sum(col("tick_count")).as("total_ticks"),
          max(col("tick_count")).as("max_ticks"))
        .orderBy("symbol")
    },
      s"""WITH $CandleCte
         |SELECT symbol, count(*) AS n_windows,
         |       CAST(sum(tick_count) AS BIGINT) AS total_ticks,
         |       max(tick_count) AS max_ticks
         |FROM candles GROUP BY symbol ORDER BY symbol""".stripMargin),
    Query("q22_atr_jumps", (s, dir) => {
      Atr.jumpWarnings(Atr.enrich(candles(s, dir)).toDF(), factor = 1.2)
        .orderBy("symbol", "window_start")
    },
      s"""WITH RECURSIVE $CandleCte,
         |seq_c AS (
         |  SELECT symbol, window_start, high, low, close,
         |         row_number() OVER (PARTITION BY symbol ORDER BY window_start) AS rn,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
         |  FROM candles),
         |tr AS (
         |  SELECT symbol, window_start, rn,
         |         round(CASE WHEN prev_close IS NULL THEN high - low
         |               ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close)) END, 4) AS tr
         |  FROM seq_c),
         |tri AS (
         |  SELECT symbol, window_start, rn, tr, CAST(round(tr * 10000) AS BIGINT) AS tr_i FROM tr),
         |warm AS (
         |  SELECT symbol, rn, window_start, tr, tr_i,
         |         CAST(sum(tr_i) OVER (PARTITION BY symbol ORDER BY rn
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum14
         |  FROM tri),
         |atr AS (
         |  SELECT symbol, rn, window_start, greatest(CAST((sum14 + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM warm WHERE rn = 14
         |  UNION ALL
         |  SELECT t.symbol, t.rn, t.window_start,
         |         greatest(CAST((a.atr_i * 13 + t.tr_i + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM atr a JOIN tri t ON t.symbol = a.symbol AND t.rn = a.rn + 1)
         |SELECT a.symbol, strftime(a.window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       p.atr_i / 10000.0 AS prev_atr, a.atr_i / 10000.0 AS atr
         |FROM atr a JOIN atr p ON p.symbol = a.symbol AND p.rn = a.rn - 1
         |WHERE p.atr_i > 0 AND a.atr_i / 10000.0 > (p.atr_i / 10000.0) * 1.2
         |ORDER BY a.symbol, a.window_start""".stripMargin),
    Query("q23_ohlc_violations", (s, dir) => {
      Ohlc.invariantViolations(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"))
        .orderBy("symbol", "window_start")
    },
      s"""WITH $CandleCte
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |       open, high, low, close
         |FROM candles
         |WHERE high < greatest(open, close) OR low > least(open, close)
         |ORDER BY symbol, window_start""".stripMargin),
    Query("q50_full_pipeline", (s, dir) => {
      // one trading day, like the reference's per-session operation — also
      // bounds the oracle's ATR recursion depth to windows-per-day
      val day = ticks(s, dir)
        .where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-06"))
      graft.sink.EdgeFormat.sheetRows(
        Atr.enrich(GapFill.fillSessions(Ohlc.candles(day))).toDF(),
        createdAt = "2026-01-01T00:00:00")
        .orderBy("id")
    },
      s"""WITH RECURSIVE ev AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type AS symbol, value FROM events
         |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
         |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06'
         |    AND $TickWhere
         |), ranked AS (
         |  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, symbol, value,
         |         row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 5 MINUTE, ts) ORDER BY ts, event_id) AS rn_a,
         |         row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 5 MINUTE, ts) ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM ev
         |), candles AS (
         |  SELECT window_start, symbol,
         |         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |         max(value) AS high,
         |         min(value) AS low,
         |         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |         count(*) AS tick_count
         |  FROM ranked GROUP BY window_start, symbol
         |),
         |bounds AS (SELECT min(window_start) AS wmin, max(window_start) AS wmax FROM candles),
         |wins AS (SELECT unnest(generate_series(wmin, wmax, INTERVAL 5 MINUTE)) AS window_start FROM bounds),
         |grid AS (SELECT w.window_start, s.symbol
         |         FROM wins w CROSS JOIN (SELECT DISTINCT symbol FROM candles) s),
         |filled0 AS (
         |  SELECT g.window_start, g.symbol, c.open, c.high, c.low, c.close, c.tick_count,
         |         last_value(c.close IGNORE NULLS) OVER (PARTITION BY g.symbol ORDER BY g.window_start
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
         |  FROM grid g LEFT JOIN candles c ON g.window_start = c.window_start AND g.symbol = c.symbol),
         |fc AS (
         |  SELECT window_start, symbol,
         |         coalesce(open, pc) AS open, coalesce(high, pc) AS high,
         |         coalesce(low, pc) AS low, coalesce(close, pc) AS close,
         |         coalesce(tick_count, 0) AS tick_count,
         |         (tick_count IS NULL AND pc IS NOT NULL) AS gap_filled
         |  FROM filled0 WHERE tick_count IS NOT NULL OR pc IS NOT NULL),
         |seq_c AS (
         |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY window_start) AS rn,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY window_start) AS prev_close
         |  FROM fc),
         |tr AS (
         |  SELECT window_start, symbol, open, high, low, close, tick_count, gap_filled, rn,
         |         round(CASE WHEN prev_close IS NULL THEN high - low
         |               ELSE greatest(high - low, abs(high - prev_close), abs(low - prev_close)) END, 4) AS tr
         |  FROM seq_c),
         |tri AS (SELECT *, CAST(round(tr * 10000) AS BIGINT) AS tr_i FROM tr),
         |warm AS (
         |  SELECT *, CAST(sum(tr_i) OVER (PARTITION BY symbol ORDER BY rn
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum14
         |  FROM tri),
         |atr AS (
         |  SELECT symbol, rn, greatest(CAST((sum14 + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM warm WHERE rn = 14
         |  UNION ALL
         |  SELECT t.symbol, t.rn, greatest(CAST((a.atr_i * 13 + t.tr_i + 7) // 14 AS BIGINT), 0) AS atr_i
         |  FROM atr a JOIN tri t ON t.symbol = a.symbol AND t.rn = a.rn + 1)
         |SELECT w.symbol || '_' || strftime(w.window_start, '%Y%m%d_%H%M') AS id,
         |       strftime(w.window_start, '%Y-%m-%dT%H:%M:%S') AS timestamp,
         |       w.symbol AS ticker, 'nse_cm' AS segment,
         |       CAST(CAST(w.open AS DECIMAL(28,4)) AS VARCHAR) AS open,
         |       CAST(CAST(w.high AS DECIMAL(28,4)) AS VARCHAR) AS high,
         |       CAST(CAST(w.low AS DECIMAL(28,4)) AS VARCHAR) AS low,
         |       CAST(CAST(w.close AS DECIMAL(28,4)) AS VARCHAR) AS close,
         |       coalesce(CAST(CAST(w.tr AS DECIMAL(28,4)) AS VARCHAR), '') AS tr,
         |       coalesce(CAST(CAST(a.atr_i / 10000.0 AS DECIMAL(28,4)) AS VARCHAR), '') AS atr,
         |       '' AS volume,
         |       CASE WHEN w.gap_filled THEN 'TRUE' ELSE 'FALSE' END AS gap_filled,
         |       '2026-01-01T00:00:00' AS created_at
         |FROM warm w LEFT JOIN atr a ON a.symbol = w.symbol AND a.rn = w.rn
         |ORDER BY id""".stripMargin),
    // every tick joined to its prevailing candle (the window it falls in
    // or the latest before it) — oracle is DuckDB's NATIVE ASOF JOIN, a
    // genuinely independent implementation of the semantics
    Query("q76_asof_join", (s, dir) => {
      // the probe side is the TICK stream: a null-ts event has no "as
      // of" instant, and a null-symbol / null-or-NaN-price event is not
      // a tick (the ingest drop contract) — filtered on BOTH sides
      val probes = ticks(s, dir)
        .select(col("event_id"), col("ts"),
          col("event_type").as("symbol"), col("value"))
      AsOf.asofJoin(probes, candles(s, dir), key = "symbol",
        leftTs = "ts", rightTs = "window_start",
        valueCols = Seq("window_start", "close"))
        .select(col("event_id"), col("symbol"),
          unix_micros(col("ts")).as("ts_us"), col("value").as("price"),
          wstr(col("window_start")).as("window_start"), col("close"))
        .orderBy("event_id")
    },
      s"""WITH $CandleCte
         |SELECT ev.event_id, ev.symbol, epoch_us(ev.ts) AS ts_us, ev.value AS price,
         |       strftime(c.window_start, '%Y-%m-%d %H:%M:%S') AS window_start, c.close
         |FROM ev ASOF LEFT JOIN candles c
         |  ON ev.symbol = c.symbol AND ev.ts >= c.window_start
         |WHERE ev.ts IS NOT NULL
         |ORDER BY ev.event_id""".stripMargin),
    // point-in-validity join: each purchase finds its containing signup
    // session [ts, ts+4h) — asof reduction, NOT a range join; gaps yield
    // NULL payloads (left semantics), overlap resolves latest-start-wins
    Query("q85_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sessions = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 4 HOURS")).as("end_ts"),
          col("event_id").as("session_id"), col("value").as("session_value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      AsOf.intervalJoin(purchases,
        sessions.withColumnRenamed("s_user", "user_id"),
        key = "user_id", leftTs = "ts", start = "start_ts", end = "end_ts",
        valueCols = Seq("session_id", "session_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value").as("amount"),
          col("session_id"), col("session_value"))
        .orderBy("event_id")
    },
      // replays the documented latest-start-wins-then-containment semantics
      // (NOT a plain range join, which would multi-match on overlap): pick
      // the latest start <= ts per purchase, then null out expired payloads
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
        |p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, ts AS start_ts, ts + INTERVAL 4 HOUR AS end_ts,
        |             event_id AS session_id, value AS session_value
        |      FROM e WHERE event_type = 'signup'),
        |cand AS (
        |  SELECT p.event_id, p.user_id, p.ts, p.value,
        |         s.end_ts, s.session_id, s.session_value,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY s.start_ts DESC, s.end_ts DESC,
        |                    s.session_id DESC, s.session_value DESC) AS rn
        |  FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.start_ts <= p.ts)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS amount,
        |       CASE WHEN end_ts > ts THEN session_id END AS session_id,
        |       CASE WHEN end_ts > ts THEN session_value END AS session_value
        |FROM cand WHERE rn = 1 ORDER BY event_id""".stripMargin),
    // interval-weighted mean price: lead-window durations, decimal(38,0)
    // tick·µs products, last sample censored (zero weight)
    Query("q223_twap", (s, dir) =>
      Ohlc.twap(Tables.events(s, dir)),
      // same lead-window micros durations; HUGEINT products, one int DIV
      """WITH ev AS (SELECT event_type AS symbol,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS id,
        |                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS ticks
        |            FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value)),
        |d AS (SELECT symbol, ticks,
        |             lead(us) OVER (PARTITION BY symbol ORDER BY us, id) - us AS dur
        |      FROM ev)
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(dur) AS BIGINT) AS dur_us,
        |       CAST(sum(CAST(ticks AS HUGEINT) * dur) // sum(dur) AS BIGINT)
        |         AS twap_ticks
        |FROM d WHERE dur IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    // SCD2 dimension build: run-length collapse of the value band per
    // user, versions chained by lead — the producer side of q76/q85
    Query("q226_scd2_build", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull && !isnan(col("value")))
        .withColumn("band", floor(col("value") / 100).cast("long"))
      AsOf.scd2FromChangeLog(ev, "user_id", "ts", "event_id", "band")
        .select(col("user_id"), col("version"),
          wstr(col("valid_from")).as("valid_from"),
          coalesce(wstr(col("valid_to")), lit("<current>")).as("valid_to"),
          col("band"))
        .orderBy("user_id", "version")
    },
      // same change-point collapse + version chaining windows
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   CAST(floor(value / 100) AS BIGINT) AS band
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value)),
        |l AS (SELECT *, lag(band) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS prev
        |      FROM ev),
        |c AS (SELECT user_id, ts, event_id, band FROM l
        |      WHERE prev IS NULL OR prev <> band),
        |v AS (SELECT user_id, band, ts,
        |             CAST(row_number() OVER w AS BIGINT) AS version,
        |             lead(ts) OVER w AS vt
        |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, version,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       coalesce(strftime(vt, '%Y-%m-%d %H:%M:%S'), '<current>')
        |         AS valid_to,
        |       band
        |FROM v ORDER BY user_id, version""".stripMargin),
    // realized variance per (symbol, day): HALF_UP bp returns on the
    // pinned order, Σr² in decimal(38,0) — no ln() anywhere
    Query("q229_realized_vol", (s, dir) =>
      Returns.realizedVolDaily(Tables.events(s, dir)),
      // same lag pairing; float ratio only inside floor(x + 0.5)
      """WITH ev AS (SELECT event_type AS symbol,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS id,
        |                   CAST(ts AS DATE) AS d,
        |                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS t
        |            FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value)),
        |l AS (SELECT symbol, d, t,
        |             lag(t) OVER (PARTITION BY symbol ORDER BY us, id) AS prev
        |      FROM ev),
        |r AS (SELECT symbol, d,
        |             CAST(floor((t - prev) * 10000.0 / prev + 0.5) AS BIGINT) AS r
        |      FROM l WHERE prev IS NOT NULL AND prev > 0)
        |SELECT symbol, d, CAST(count(*) AS BIGINT) AS n_returns,
        |       CAST(sum(r) AS BIGINT) AS drift_bp,
        |       CAST(sum(CAST(r AS HUGEINT) * r) AS BIGINT) AS rv
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // historical rank of the latest price: struct-extreme last sample,
    // comparison on the (symbol × tick) counting grid
    Query("q230_last_value_rank", (s, dir) =>
      Returns.lastValueRank(Tables.events(s, dir)),
      // last sample via descending row_number (the q209 idiom); strict
      // below-count over the tick grid
      """WITH ev AS (SELECT event_type AS symbol,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS id,
        |                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS t
        |            FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT symbol, t,
        |             row_number() OVER (PARTITION BY symbol
        |               ORDER BY us DESC, id DESC, t DESC) AS rn
        |      FROM ev),
        |last AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n,
        |                max(CASE WHEN rn = 1 THEN t END) AS last_ticks
        |         FROM r GROUP BY 1)
        |SELECT ev.symbol, last.n, last.last_ticks,
        |       CAST(sum(CASE WHEN ev.t < last.last_ticks THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_below,
        |       CAST((sum(CASE WHEN ev.t < last.last_ticks THEN 1 ELSE 0 END)
        |             * 10000) // last.n AS BIGINT) AS rank_bp
        |FROM ev JOIN last ON last.symbol = ev.symbol
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    // max peak-to-trough drawdown: one cumulative-max window, dd in bp
    // of the peak (non-negative DIV), (dd, peak) struct-extreme report
    Query("q231_max_drawdown", (s, dir) =>
      Returns.maxDrawdown(Tables.events(s, dir)),
      // same cumulative max; (dd desc, peak desc) pick mirrors the
      // engine's struct extreme
      """WITH ev AS (SELECT event_type AS symbol,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id AS id,
        |                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS t
        |            FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value)),
        |p AS (SELECT symbol, t,
        |             max(t) OVER (PARTITION BY symbol ORDER BY us, id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM ev),
        |d AS (SELECT symbol, peak,
        |             CAST(((peak - t) * 10000) // peak AS BIGINT) AS dd
        |      FROM p),
        |r AS (SELECT symbol, peak, dd,
        |             row_number() OVER (PARTITION BY symbol
        |               ORDER BY dd DESC, peak DESC) AS rn,
        |             count(*) OVER (PARTITION BY symbol) AS n
        |      FROM d)
        |SELECT symbol, CAST(n AS BIGINT) AS n, peak AS peak_ticks,
        |       dd AS max_dd_bp
        |FROM r WHERE rn = 1 ORDER BY symbol""".stripMargin),
    // Bollinger bands: rolling mean ± 2σ in ticks, exact integer
    // variance numerator, complete 8-candle windows only
    Query("q232_bollinger", (s, dir) =>
      Returns.bollinger(candles(s, dir), nWin = 8, kBand = 2)
        .withColumn("window_start", wstr(col("window_start"))),
      // same rolling integer sums; σ from the exact variance numerator,
      // sqrt the only float op; complete 8-candle windows only
      s"""WITH $CandleCte,
         |t AS (SELECT symbol, window_start,
         |             CAST(floor(close * 10000 + 0.5) AS BIGINT) AS t
         |      FROM candles),
         |w AS (SELECT symbol, window_start, t,
         |             count(*) OVER win AS n,
         |             sum(t) OVER win AS st,
         |             sum(CAST(t AS HUGEINT) * t) OVER win AS stt
         |      FROM t
         |      WINDOW win AS (PARTITION BY symbol ORDER BY window_start
         |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
         |b AS (SELECT symbol, window_start, t,
         |             CAST(st // 8 AS BIGINT) AS mid_ticks,
         |             CAST(floor(sqrt(CAST(8 * stt - CAST(st AS HUGEINT) * st
         |               AS DOUBLE)) / 8) AS BIGINT) AS sd_ticks
         |      FROM w WHERE n = 8)
         |SELECT symbol, strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       t AS close_ticks, mid_ticks, sd_ticks,
         |       mid_ticks + 2 * sd_ticks AS upper_ticks,
         |       mid_ticks - 2 * sd_ticks AS lower_ticks,
         |       (t > mid_ticks + 2 * sd_ticks OR t < mid_ticks - 2 * sd_ticks)
         |         AS outside
         |FROM b ORDER BY symbol, window_start""".stripMargin),
    // Cutler RSI: SMA gains/losses over 14 candle deltas, integer bp
    Query("q233_rsi", (s, dir) =>
      Returns.rsiCutler(candles(s, dir), nWin = 14)
        .withColumn("window_start", wstr(col("window_start"))),
      // SMA relative strength: rolling gain/loss sums over 14 deltas,
      // non-negative DIV, flat window pinned to 10000
      s"""WITH $CandleCte,
         |t AS (SELECT symbol, window_start,
         |             CAST(floor(close * 10000 + 0.5) AS BIGINT) AS t
         |      FROM candles),
         |d AS (SELECT symbol, window_start, t,
         |             lag(t) OVER (PARTITION BY symbol ORDER BY window_start) AS prev
         |      FROM t),
         |g AS (SELECT symbol, window_start,
         |             greatest(t - prev, 0) AS gain, greatest(prev - t, 0) AS loss
         |      FROM d WHERE prev IS NOT NULL),
         |w AS (SELECT symbol, window_start,
         |             count(*) OVER win AS n,
         |             CAST(sum(gain) OVER win AS BIGINT) AS gain_sum,
         |             CAST(sum(loss) OVER win AS BIGINT) AS loss_sum
         |      FROM g
         |      WINDOW win AS (PARTITION BY symbol ORDER BY window_start
         |        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT symbol, strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       gain_sum, loss_sum,
         |       CAST(CASE WHEN gain_sum + loss_sum = 0 THEN 10000
         |            ELSE (gain_sum * 10000) // (gain_sum + loss_sum) END
         |         AS BIGINT) AS rsi_bp
         |FROM w WHERE n = 14 ORDER BY symbol, window_start""".stripMargin),
    // cross-symbol return correlation: candle-grid-aligned bp returns,
    // exact integer Pearson sums, one final guarded quotient
    Query("q234_return_corr", (s, dir) =>
      Returns.returnCorrelationMatrix(candles(s, dir)),
      // q229's bp returns on the candle grid, q135's exact-integer
      // Pearson shape; inner join keeps only shared buckets
      s"""WITH $CandleCte,
         |t AS (SELECT symbol, window_start,
         |             CAST(floor(close * 10000 + 0.5) AS BIGINT) AS t
         |      FROM candles),
         |d AS (SELECT symbol, window_start, t,
         |             lag(t) OVER (PARTITION BY symbol ORDER BY window_start) AS prev
         |      FROM t),
         |r AS (SELECT symbol, window_start,
         |             CAST(floor((t - prev) * 10000.0 / prev + 0.5) AS BIGINT) AS r
         |      FROM d WHERE prev IS NOT NULL AND prev > 0),
         |s AS (SELECT a.symbol AS sym_a, b.symbol AS sym_b,
         |             CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(a.r) AS BIGINT) AS sx, CAST(sum(b.r) AS BIGINT) AS sy,
         |             sum(CAST(a.r AS HUGEINT) * b.r) AS sxy,
         |             sum(CAST(a.r AS HUGEINT) * a.r) AS sxx,
         |             sum(CAST(b.r AS HUGEINT) * b.r) AS syy
         |      FROM r a JOIN r b ON a.window_start = b.window_start
         |        AND a.symbol < b.symbol
         |      GROUP BY 1, 2)
         |SELECT sym_a, sym_b, n,
         |       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / sqrt(greatest(0.000000000001,
         |             (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))),
         |         4) AS corr
         |FROM s ORDER BY sym_a, sym_b""".stripMargin),
    // candlestick pattern census: pure integer-tick predicates
    // (cross-multiplied ratios), one lag + one scan over candles
    Query("q235_candle_patterns", (s, dir) =>
      Ohlc.candlePatterns(candles(s, dir)),
      // NULL lag comparisons fall to the ELSE 0 arm in both engines
      s"""WITH $CandleCte,
         |t AS (SELECT symbol, window_start,
         |             CAST(floor(open * 10000 + 0.5) AS BIGINT) AS o,
         |             CAST(floor(high * 10000 + 0.5) AS BIGINT) AS h,
         |             CAST(floor(low * 10000 + 0.5) AS BIGINT) AS l,
         |             CAST(floor(close * 10000 + 0.5) AS BIGINT) AS c
         |      FROM candles),
         |x AS (SELECT symbol, o, h, l, c,
         |             lag(o) OVER win AS po, lag(c) OVER win AS pc,
         |             abs(c - o) AS body, h - l AS rng,
         |             h - greatest(o, c) AS up, least(o, c) - l AS dn
         |      FROM t WINDOW win AS (PARTITION BY symbol ORDER BY window_start))
         |SELECT symbol, CAST(count(*) AS BIGINT) AS n_candles,
         |       CAST(sum(CASE WHEN rng > 0 AND body * 10 <= rng
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_doji,
         |       CAST(sum(CASE WHEN rng > 0 AND dn >= body * 2 AND up <= body
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_hammer,
         |       CAST(sum(CASE WHEN pc < po AND c > o AND o <= pc AND c >= po
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_bull_engulf,
         |       CAST(sum(CASE WHEN pc > po AND c < o AND o >= pc AND c <= po
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_bear_engulf
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
    // candle-grid rollup 5-min → 30-min: min_by/max_by open/close on
    // unique window_start, integer-µs bucket arithmetic
    Query("q245_ohlc_resample", (s, dir) =>
      Ohlc.resample(candles(s, dir), minutes = 30)
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("open"), col("high"), col("low"), col("close"),
          col("tick_count"))
        .orderBy("window_start", "symbol"),
      // integer-µs 30-min buckets (// floors non-negative epochs);
      // arg_min/arg_max pick open/close on the unique fine window_start
      s"""WITH $CandleCte,
         |r AS (SELECT make_timestamp((epoch_us(window_start) // 1800000000)
         |               * 1800000000) AS w, symbol,
         |             arg_min(open, window_start) AS open, max(high) AS high,
         |             min(low) AS low, arg_max(close, window_start) AS close,
         |             CAST(sum(tick_count) AS BIGINT) AS tick_count
         |      FROM candles GROUP BY 1, 2)
         |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, symbol,
         |       open, high, low, close, tick_count
         |FROM r ORDER BY 1, symbol""".stripMargin),
    // inequality join made equi: purchases × clicks same user within
    // |Δvalue| ≤ 5, eps-bucket ±1 replication, exact residual
    Query("q265_band_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("value").isNotNull && !isnan(col("value")))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("value").as("pv"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("value").as("cv"),
          col("event_id").as("click_id"))
      AsOf.bandJoin(p, c, "user_id", "pv", "cv", eps = 5.0,
          Seq("click_id"))
        .select("purchase_id", "click_id", "val_diff_micro")
        .orderBy("purchase_id", "click_id")
    },
      // the oracle states the SEMANTICS directly (plain inequality join);
      // the engine's eps-bucket plan must reproduce it exactly
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vt
        |            FROM events
        |            WHERE user_id IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
        |p AS (SELECT event_id AS purchase_id, user_id, vt FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, vt AS cvt FROM ev
        |      WHERE event_type = 'click')
        |SELECT p.purchase_id, c.click_id,
        |       abs(p.vt - c.cvt) AS val_diff_micro
        |FROM p JOIN c USING (user_id)
        |WHERE abs(p.vt - c.cvt) <= 5000000
        |ORDER BY p.purchase_id, c.click_id""".stripMargin),
    // MERGE semantics: signup snapshot + purchase upserts + error
    // deletes, latest change per key on the pinned (ts, id) order
    Query("q260_cdc_apply", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val base = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"),
          round(col("value"), 4).as("v"))).as("__m"))
        .select(col("user_id"), col("__m.v").as("value"))
      val changes = ev.where(col("event_type").isin("purchase", "error"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "delete").otherwise("upsert")
            .as("op"),
          round(col("value"), 4).as("value"))
      AsOf.cdcApply(base, changes, "user_id", "ts", "event_id", "op",
        "value").orderBy("user_id")
    },
      // latest change per key wins (ts, id order); delete drops; status
      // partitions the survivors
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   event_type, round(value, 4) AS v
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |base AS (SELECT user_id, v AS bval FROM (
        |           SELECT user_id, v, row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts DESC, event_id DESC, v DESC) AS rn
        |           FROM ev WHERE event_type = 'signup') t WHERE rn = 1),
        |ch AS (SELECT user_id,
        |              CASE WHEN event_type = 'error' THEN 'delete'
        |                   ELSE 'upsert' END AS op, v,
        |              row_number() OVER (PARTITION BY user_id
        |                ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM ev WHERE event_type IN ('purchase', 'error')),
        |l AS (SELECT user_id, op, v FROM ch WHERE rn = 1),
        |m AS (SELECT coalesce(b.user_id, l.user_id) AS user_id, b.bval,
        |             l.op, l.v, b.user_id IS NOT NULL AS inb
        |      FROM base b FULL OUTER JOIN l ON l.user_id = b.user_id)
        |SELECT user_id,
        |       CASE WHEN op IS NOT NULL THEN v ELSE bval END AS value,
        |       CASE WHEN op IS NULL THEN 'kept'
        |            WHEN inb THEN 'updated' ELSE 'inserted' END AS status
        |FROM m WHERE op IS NULL OR op <> 'delete'
        |ORDER BY user_id""".stripMargin),
    // merge_asof tolerance: the q76 chain with a 120 s staleness gate —
    // stale carries null out row-locally, same single shuffle
    Query("q262_asof_tolerance", (s, dir) => {
      val probes = ticks(s, dir) // malformed ticks dropped on both sides
        .select(col("event_id"), col("ts"),
          col("event_type").as("symbol"), col("value"))
      AsOf.asofJoinTolerance(probes, candles(s, dir), key = "symbol",
        leftTs = "ts", rightTs = "window_start",
        valueCols = Seq("window_start", "close"), toleranceSeconds = 120L)
        .select(col("event_id"), col("symbol"),
          unix_micros(col("ts")).as("ts_us"),
          wstr(col("window_start")).as("window_start"), col("close"))
        .orderBy("event_id")
    },
      // DuckDB native ASOF + the same row-local 120 s staleness gate
      s"""WITH $CandleCte
         |SELECT ev.event_id, ev.symbol, epoch_us(ev.ts) AS ts_us,
         |       CASE WHEN c.window_start IS NOT NULL
         |              AND epoch_us(ev.ts) - epoch_us(c.window_start) <= 120000000
         |            THEN strftime(c.window_start, '%Y-%m-%d %H:%M:%S')
         |       END AS window_start,
         |       CASE WHEN c.window_start IS NOT NULL
         |              AND epoch_us(ev.ts) - epoch_us(c.window_start) <= 120000000
         |            THEN c.close END AS close
         |FROM ev ASOF LEFT JOIN candles c
         |  ON ev.symbol = c.symbol AND ev.ts >= c.window_start
         |WHERE ev.ts IS NOT NULL
         |ORDER BY ev.event_id""".stripMargin),
    // bit-replayable integer-tick EMA recursion (first-value seed),
    // the Atr fold shape: one symbol shuffle + in-partition stream
    Query("q250_macd", (s, dir) =>
      Returns.macd(candles(s, dir))
        .select(wstr(col("window_start")).as("window_start"), col("symbol"),
          col("close_ticks"), col("ema_fast_ticks"), col("ema_slow_ticks"),
          col("macd_ticks"))
        .orderBy("symbol", "window_start"),
      // first-value-seeded dual-EMA recursion in integer ticks; exact
      // odd-denominator HALF_UP via the ×2 numerator trick
      s"""WITH RECURSIVE $CandleCte,
         |sc AS (SELECT symbol, window_start,
         |              CAST(round(close * 10000) AS BIGINT) AS ct,
         |              row_number() OVER (PARTITION BY symbol
         |                ORDER BY window_start) AS rn
         |       FROM candles),
         |ema AS (
         |  SELECT symbol, window_start, rn, ct, ct AS e12, ct AS e26
         |  FROM sc WHERE rn = 1
         |  UNION ALL
         |  SELECT t.symbol, t.window_start, t.rn, t.ct,
         |         (2 * (2 * t.ct + 11 * a.e12) + 13) // 26 AS e12,
         |         (2 * (2 * t.ct + 25 * a.e26) + 27) // 54 AS e26
         |  FROM ema a JOIN sc t ON t.symbol = a.symbol AND t.rn = a.rn + 1)
         |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
         |       symbol, ct AS close_ticks, e12 AS ema_fast_ticks,
         |       e26 AS ema_slow_ticks, e12 - e26 AS macd_ticks
         |FROM ema ORDER BY symbol, 1""".stripMargin),
    // bidirectional as-of: each purchase aligned to its |Δt|-nearest
    // click in the same user stream, ties backward
    Query("q244_nearest_event", (s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("cts"))
      AsOf.nearestJoin(purchases, clicks, "user_id", "ts", "cts",
          Seq("click_id"))
        .select("purchase_id", "click_id", "nearest_gap_us")
        .orderBy("purchase_id")
    },
      // per purchase: min |Δµs| click, ties backward (earlier), then the
      // engine's duplicate-ts tiebreak (max id backward, min id forward)
      """WITH ev AS (SELECT event_id, user_id,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, us FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, us AS cus FROM ev
        |      WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, c.click_id, abs(c.cus - p.us) AS gap,
        |             row_number() OVER (PARTITION BY p.purchase_id
        |               ORDER BY abs(c.cus - p.us),
        |                        CASE WHEN c.cus <= p.us THEN 0 ELSE 1 END,
        |                        CASE WHEN c.cus <= p.us THEN -c.click_id
        |                             ELSE c.click_id END) AS rn
        |      FROM p JOIN c USING (user_id))
        |SELECT p.purchase_id, j.click_id, j.gap AS nearest_gap_us
        |FROM p LEFT JOIN j ON j.purchase_id = p.purchase_id AND j.rn = 1
        |ORDER BY p.purchase_id""".stripMargin),
  )
}
