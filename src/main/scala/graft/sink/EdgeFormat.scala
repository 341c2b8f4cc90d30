package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sheet-row edge formatter: the 13-column all-string row shape the
  * reference writes to its sink.
  *
  * Reference: /root/reference/modules/atr/atr_engine.py:43-60 (row writer)
  * and /root/reference/modules/sheets/schema_manager.py:20-24 (header).
  * Nulls render as "" and booleans as "TRUE"/"FALSE" ONLY here, at the edge —
  * internally TR/ATR stay real nullable doubles (SURVEY.md §7 hard parts).
  * Note: the reference's shipped header lists 12 names while its row writer
  * emits 13 values (gap_filled missing from the header) — we reproduce the
  * 13-column row reality and include gap_filled in the header (FIXTURES.md §6).
  */
object EdgeFormat {

  val Header: Seq[String] = Seq(
    "id", "timestamp", "ticker", "segment", "open", "high", "low", "close",
    "tr", "atr", "volume", "gap_filled", "created_at")

  private def s(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))

  /** Numeric → fixed 4-decimal string via decimal cast: raw double→string
    * falls into scientific notation below 1e-3 ("9.0E-4"), which is neither
    * cross-engine-stable nor sheet-friendly. Decimal rendering is plain and
    * exact for the pipeline's 2-4dp quantities.
    */
  private def sNum(c: org.apache.spark.sql.Column) =
    coalesce(c.cast("decimal(28,4)").cast("string"), lit(""))

  /** enriched candles (symbol, window_start ts/string, open..close,
    * tick_count, gap_filled, tr, atr [, segment]) → 13 string columns.
    */
  def sheetRows(enriched: DataFrame, createdAt: String): DataFrame = {
    val seg = if (enriched.columns.contains("segment")) col("segment") else lit("nse_cm")
    val ts = to_timestamp(col("window_start"))
    enriched.select(
      IdempotentSink.rowId(col("symbol"), ts).as("id"),
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"),
      col("symbol").as("ticker"),
      s(seg).as("segment"),
      sNum(col("open")).as("open"),
      sNum(col("high")).as("high"),
      sNum(col("low")).as("low"),
      sNum(col("close")).as("close"),
      sNum(col("tr")).as("tr"),
      sNum(col("atr")).as("atr"),
      lit("").as("volume"),
      when(col("gap_filled"), "TRUE").otherwise("FALSE").as("gap_filled"),
      lit(createdAt).as("created_at"))
  }
}
