package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Declared sink schemas + validation — the engine's analog of the
  * reference's SchemaManager (schema_manager.py:20-43 sheet headers,
  * :104-135 header validation, :34-43 metadata rows).
  *
  * Schemas are CONSTANTS, never inferred (SURVEY §1.3): every sink table
  * has a declared `StructType`, live frames are checked against it before
  * writing, and a drifted frame fails fast with the exact column-level
  * differences instead of appending mixed-schema files.
  */
object Schemas {

  /** market_data: the 13-column all-string edge shape ([[EdgeFormat.Header]];
    * schema_manager.py:20-24 plus the gap_filled column its row writer
    * actually emits).
    */
  val MarketData: StructType =
    StructType(EdgeFormat.Header.map(StructField(_, StringType)))

  /** atr_state (schema_manager.py:26-28): one row per ticker, overwritten
    * per cycle. */
  val AtrState: StructType = StructType(Seq(
    StructField("ticker", StringType),
    StructField("last_close", DoubleType),
    StructField("last_atr", DoubleType),
    StructField("last_timestamp", StringType),
    StructField("updated_at", StringType)))

  /** system_log (schema_manager.py:30-32): append-only event log. */
  val SystemLog: StructType = StructType(
    Seq("timestamp", "level", "event", "window", "details")
      .map(StructField(_, StringType)))

  /** metadata (schema_manager.py:34-43): 4-row key/value config table. */
  val Metadata: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  /** Declared schema history per sink table — the evolution ledger. Each
    * entry is (version, schema); the current declaration is the last one.
    * market_data v1 was the flat 13-column edge shape; v2 added the `dt`
    * partition column (a real, additive evolution this engine shipped).
    *
    * `dt` is declared DATE: the writers supply it as a yyyy-MM-dd string,
    * but `partitionBy` stores it only in directory names, and Spark's
    * partition-column type inference reads those back as DateType — the
    * declared schema records what a real sink reads back as.
    */
  val Versions: Map[String, Seq[(Int, StructType)]] = Map(
    "market_data" -> Seq(1 -> MarketData, 2 -> MarketData.add(StructField("dt", DateType))),
    "atr_state" -> Seq(1 -> AtrState),
    "system_log" -> Seq(1 -> SystemLog),
    "metadata" -> Seq(1 -> Metadata))

  /** Current declared schema + version for a sink table. */
  def current(table: String): (Int, StructType) = Versions(table).last

  /** schema_version as reported by the metadata table: the per-table
    * evolution ledger rendered as `table=version` pairs (sorted by table
    * name), so the sink's self-description tracks [[Versions]] instead of
    * a literal that silently goes stale as tables evolve.
    */
  def ledgerVersion: String =
    Versions.toSeq.sortBy(_._1)
      .map { case (t, vs) => s"$t=${vs.last._1}" }.mkString(",")

  /** The reference's 4 metadata rows (schema_manager.py:34-43), with
    * tickers_count parameterized by the actual universe instead of the
    * hard-coded 178, and schema_version reporting the [[Versions]] ledger
    * instead of the reference's literal "1.0".
    */
  def metadataRows(tickersCount: Int): Seq[(String, String)] = Seq(
    "schema_version" -> ledgerVersion,
    "atr_period" -> graft.operators.Atr.Period.toString,
    "timezone" -> "IST",
    "tickers_count" -> tickersCount.toString)

  /** Column-level differences between a live schema and a declared one:
    * order-sensitive on names (the reference compares the full header row),
    * type-sensitive, nullability/metadata-insensitive. Empty = valid.
    */
  def mismatches(actual: StructType, expected: StructType): Seq[String] = {
    val order =
      if (actual.fields.map(_.name).toSeq == expected.fields.map(_.name).toSeq) Nil
      else {
        val missing = expected.fieldNames.diff(actual.fieldNames).toSeq
        val extra = actual.fieldNames.diff(expected.fieldNames).toSeq
        val reorder =
          if (missing.isEmpty && extra.isEmpty)
            Seq(s"column order ${actual.fieldNames.mkString(",")} != expected ${expected.fieldNames.mkString(",")}")
          else Nil
        missing.map(c => s"missing column $c") ++ extra.map(c => s"unexpected column $c") ++ reorder
      }
    val typeDiffs = expected.fields.flatMap { ef =>
      actual.fields.find(_.name == ef.name).collect {
        case af if af.dataType != ef.dataType =>
          s"column ${ef.name}: ${af.dataType.simpleString} != expected ${ef.dataType.simpleString}"
      }
    }.toSeq
    order ++ typeDiffs
  }

  /** Assert a frame matches a declared sink schema; throws with every
    * difference listed (the validate_schema analog, but failing the write
    * instead of logging and proceeding).
    */
  def validate(df: DataFrame, expected: StructType, table: String): Unit = {
    val diffs = mismatches(df.schema, expected)
    require(diffs.isEmpty,
      s"schema mismatch for $table: ${diffs.mkString("; ")}")
  }

  /** Write the metadata table once (initialize_if_empty semantics): a
    * no-op when the directory already holds a parquet data file. One
    * listing decides it — [[graft.streaming.ChainedPipeline]] calls this on
    * every non-empty micro-batch, so no read job may run here. A directory
    * holding only a torn write's `_temporary` is not written yet.
    */
  def initMetadata(spark: SparkSession, dir: String, tickersCount: Int): Unit = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written =
      try fs.listStatus(path).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => false }
    if (!written) {
      val df = metadataRows(tickersCount).toDF("key", "value")
      validate(df, Metadata, "metadata")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    }
  }
}
