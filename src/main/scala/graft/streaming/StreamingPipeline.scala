package graft.streaming

import graft.operators.Ohlc
import org.apache.spark.sql.DataFrame

/** The streaming candle stage of the reference pipeline (SURVEY.md §3.2):
  * ticks → watermarked OHLC window aggregate. Gap-fill, ATR and the sink
  * run downstream in [[ChainedPipeline]].
  *
  * The reference's freeze/snapshot lifecycle (candle_aggregator.py:30-177,
  * 500 ms grace) maps to watermark semantics: a window is emitted (append
  * mode) once the watermark — max event time minus the configured delay —
  * passes its end; late ticks beyond the delay are dropped and surfaced via
  * `stateOperators.numRowsDroppedByWatermark`, matching the reference's
  * counted-drop behavior (tick_buffer.py:114-126).
  */
object StreamingPipeline {

  /** Watermarked streaming OHLC — the same declarative aggregate as the
    * batch core ([[Ohlc.candles]]), plus event-time watermarking.
    */
  def ohlcCandles(ticks: DataFrame, tsCol: String = "ts",
                  symCol: String = "event_type", priceCol: String = "value",
                  seqCol: String = "event_id", windowDuration: String = "5 minutes",
                  watermarkDelay: String = "10 seconds"): DataFrame =
    Ohlc.candles(ticks.withWatermark(tsCol, watermarkDelay),
      tsCol, symCol, priceCol, seqCol, windowDuration)
}
