package graft.operators

import graft.model.{AtrState, Candle, EnrichedCandle}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** True Range + 14-period Wilder ATR enrichment.
  *
  * Reference semantics: /root/reference/modules/atr/atr_engine.py:109-242 and
  * /root/reference/Documentation/04_ULTRA_ATR_SPEC.md:
  *   - TR = max(h−l, |h−prev_close|, |l−prev_close|); TR = h−l on a symbol's
  *     first candle (no prev close). Rounded to 4 dp (atr_engine.py:125-132).
  *   - ATR warmup: None for candles 1..13; at candle 14,
  *     ATR₀ = round(mean(first 14 TRs), 4) (atr_engine.py:150-172).
  *   - After warmup: Wilder recursion ATR = round((prev_atr·13 + TR)/14, 4),
  *     clamped ≥ 0 (atr_engine.py:174-192).
  *
  * Spark-first design: the recursion is the one computation in the reference
  * that no built-in window function expresses (it is order-dependent *and*
  * self-referential, SURVEY.md §2.10). [[enrich]] runs it as one shuffle on
  * the symbol key (`repartition`), a `sortWithinPartitions` on (symbol,
  * window), and a `mapPartitions` pass that folds each partition in order,
  * resetting state at symbol boundaries — the shuffle's sort does the
  * ordering, so no symbol's candles are buffered in memory. At 100 TB the
  * parallelism axis is the number of symbols, which is exactly how the
  * reference's own per-ticker state dict scales. The streaming path
  * ([[graft.streaming.ChainedPipeline]]) calls the same [[step]] from its
  * `transformWithState` processor, carrying [[AtrState]] across
  * micro-batches.
  */
object Atr {
  val Period = 14
  val Precision = 4

  /** Decimal HALF_UP rounding, bit-matching Spark's `round()` on doubles.
    *
    * NOTE on reference parity: the reference's Python `round()` is banker's
    * half-EVEN (atr_engine.py:132,176), so at an exact .00005 tie this
    * engine's TR — and through the recursion, subsequent ATRs — can differ
    * from the reference by 1e-4. The choice is deliberate (HALF_UP matches
    * Spark's native `round()`, keeping column-expression and fold paths
    * bit-identical to each other and to the DuckDB oracle); outputs are
    * spec-consistent within this engine, not bit-identical to the Python
    * reference at rounding ties.
    */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(Precision, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** TR per atr_engine.py:109-132 (already-rounded output). */
  def trueRange(high: Double, low: Double, prevClose: Option[Double]): Double =
    prevClose match {
      case None => round4(high - low)
      case Some(pc) =>
        round4(math.max(high - low, math.max(math.abs(high - pc), math.abs(low - pc))))
    }

  /** One ATR state transition (atr_engine.py:134-192). Returns the updated
    * state and the (tr, atr) pair for this candle. Pure — shared by the batch
    * fold ([[enrich]]), the `wilder_atr` aggregate and the streaming
    * `ChainedPipeline.ChainedProcessor`.
    *
    * The Wilder recursion runs in exact integer "ticks" of 1e-4: since TR and
    * ATR are 4-dp quantities, `(prev·13 + tr)/14` lands exactly on a .00005
    * rounding tie whenever the tick numerator ≡ 7 (mod 14) — about 7% of
    * steps — and float-vs-decimal rounding would then diverge between
    * engines and propagate through the whole recursion. Integer half-up
    * division `(n + 7) div 14` has no ties, so every engine that follows the
    * same spec produces bit-identical ATRs.
    */
  def step(state: AtrState, high: Double, low: Double, close: Double): (AtrState, Double, Option[Double]) = {
    val tr = trueRange(high, low, state.prevClose)
    val trTicks = math.round(tr * 10000) // tr is 4 dp → exact integer
    val count = state.candleCount + 1
    val (atrTicks, history) = state.prevAtr match {
      case Some(prev) =>
        val prevTicks = math.round(prev * 10000)
        // Wilder smoothing, half-up integer division; clamp ≥ 0 (atr_engine.py:179-181)
        (Some(math.max(0L, (prevTicks * (Period - 1) + trTicks + Period / 2) / Period)), Nil)
      case None =>
        val h = state.trHistory :+ tr
        if (h.length >= Period) {
          val sum = h.map(t => math.round(t * 10000)).sum
          (Some(math.max(0L, (sum + Period / 2) / Period)), Nil) // warmup mean, then drop history
        } else (None, h)
    }
    val atr = atrTicks.map(_ / 10000.0)
    (AtrState(Some(close), atr.orElse(state.prevAtr), history, count), tr, atr)
  }

  /** Enrich one symbol's candles, which must already be in window order. */
  def enrichSeries(rows: Seq[Candle]): Seq[EnrichedCandle] = {
    var state = AtrState.empty
    rows.map { c =>
      val (next, tr, atr) = step(state, c.high, c.low, c.close)
      state = next
      EnrichedCandle(c.symbol, c.wkey, c.window_start, c.open, c.high, c.low,
        c.close, c.tick_count, c.gap_filled, Some(tr), atr)
    }
  }

  /** ATR sanity warnings (atr_engine.py:184-189 / 04_ULTRA_ATR_SPEC.md:25-29):
    * rows where ATR jumped more than `factor`× over the previous window's
    * ATR. The `prev_atr > 0` guard matches atr_engine.py:185 — a symbol
    * whose ATR was clamped to 0 must not warn on every later positive ATR.
    * Feeds the system_log/warnings path.
    */
  def jumpWarnings(enriched: DataFrame, factor: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("window_start"))
    enriched
      .withColumn("prev_atr", lag(col("atr"), 1).over(w))
      .where(col("atr").isNotNull && col("prev_atr").isNotNull &&
        col("prev_atr") > 0 && col("atr") > col("prev_atr") * factor)
      .select(col("symbol"), col("window_start"), col("prev_atr"), col("atr"))
  }

  /** Candle frame (window_start timestamp, symbol, open..close, tick_count
    * [, gap_filled]) → typed Dataset[Candle], the input of both ATR folds:
    * batch [[enrich]] and the streaming `ChainedPipeline.enrich`.
    */
  def toCandleDS(candles: DataFrame): Dataset[Candle] = {
    import candles.sparkSession.implicits._
    val withGap =
      if (candles.columns.contains("gap_filled")) candles
      else candles.withColumn("gap_filled", lit(false))
    withGap.select(
      col("symbol"),
      unix_micros(col("window_start").cast("timestamp")).as("wkey"),
      date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("open").cast("double"), col("high").cast("double"),
      col("low").cast("double"), col("close").cast("double"),
      col("tick_count").cast("long"), col("gap_filled")
    ).as[Candle]
  }

  /** Batch enrichment over a candle DataFrame (see [[toCandleDS]]); the
    * partition-sorted fold described in the object scaladoc. */
  def enrich(candles: DataFrame): Dataset[EnrichedCandle] = {
    import candles.sparkSession.implicits._
    toCandleDS(candles).repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("wkey"))
      .mapPartitions { it =>
        var state = AtrState.empty
        var cur: String = null
        it.map { c =>
          if (c.symbol != cur) { cur = c.symbol; state = AtrState.empty }
          val (next, tr, atr) = step(state, c.high, c.low, c.close)
          state = next
          EnrichedCandle(c.symbol, c.wkey, c.window_start, c.open, c.high,
            c.low, c.close, c.tick_count, c.gap_filled, Some(tr), atr)
        }
      }
  }
}
