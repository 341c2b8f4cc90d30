package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by several query families. */
private[queries] object Common {

  private val WFmt = "yyyy-MM-dd HH:mm:ss"
  def wstr(c: Column): Column = date_format(c, WFmt)
  def dec(name: String): Column = col(name).cast("decimal(18,2)")

  /** events as the tick stream: symbol=event_type, price=value, seq=event_id.
    *
    * Malformed ticks — null symbol, null ts, null or NaN price — are dropped
    * at ingest on BOTH engine and oracle sides, the reference's
    * null/invalid-field-drop contract (TickIngest.parse): a tick without a
    * symbol cannot belong to a candle, a null symbol would otherwise spawn
    * a phantom census symbol, and a NaN price poisons every aggregate.
    */
  def ticks(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).where(
      col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull && !isnan(col("value")))

  /** The same malformed-tick drop for the oracle side. */
  val TickWhere =
    "event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)"

  /** The quality-score CTE chain (q77's formula verbatim), ending in
    * `q(doc_id, quality)`.
    *
    * Quality ticks: ONE exact integer rational with a single HALF_UP
    * rounding (see TextAnalysis.qualityExpr — float round(x, 4) half-tie
    * diverged between engines at sf0.1); // floors and all operands are
    * non-negative, matching Spark's truncating div. */
  val QualitySql: String =
    """qt AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
      |    CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS n_punct,
      |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
      |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id,
      |    CAST(CAST(CASE
      |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
      |      WHEN n_toks = 0 THEN
      |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
      |          // (2 * n_chars)
      |      ELSE 25 * least(n_toks, 200)
      |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
      |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
      |                + 2000 * n_toks * n_chars)
      |           + n_toks * n_chars)
      |          // (2 * n_toks * n_chars)
      |    END AS BIGINT) AS DOUBLE) / 10000.0 AS quality
      |  FROM qt)""".stripMargin
}
