package graft

import graft.sink.{EdgeFormat, Schemas}
import org.scalatest.funsuite.AnyFunSuite

class SchemasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("declared schemas validate matching frames and reject drift") {
    val ok = EdgeFormat.Header.map(_ => "x")
    val df = Seq(Tuple1(0)).toDF("z").select(
      EdgeFormat.Header.zip(ok).map { case (n, v) =>
        org.apache.spark.sql.functions.lit(v).as(n) }: _*)
    Schemas.validate(df, Schemas.MarketData, "market_data") // no throw

    // drifted: a dropped column, an extra one, a type change
    val dropped = df.drop("volume")
    val e1 = intercept[IllegalArgumentException](
      Schemas.validate(dropped, Schemas.MarketData, "market_data"))
    assert(e1.getMessage.contains("missing column volume"))

    val extra = df.withColumn("rogue", org.apache.spark.sql.functions.lit(1))
    val e2 = intercept[IllegalArgumentException](
      Schemas.validate(extra, Schemas.MarketData, "market_data"))
    assert(e2.getMessage.contains("unexpected column rogue"))

    val retyped = Seq(("t", 1.0, 2.0, "ts", "u")).toDF(
      "ticker", "last_close", "last_atr", "last_timestamp", "updated_at")
      .withColumn("last_close", org.apache.spark.sql.functions.col("last_close").cast("string"))
    val e3 = intercept[IllegalArgumentException](
      Schemas.validate(retyped, Schemas.AtrState, "atr_state"))
    assert(e3.getMessage.contains("column last_close: string != expected double"))

    // column order matters, as in the reference's header-row compare
    val reordered = df.select(EdgeFormat.Header.reverse.map(
      org.apache.spark.sql.functions.col): _*)
    val e4 = intercept[IllegalArgumentException](
      Schemas.validate(reordered, Schemas.MarketData, "market_data"))
    assert(e4.getMessage.contains("column order"))
  }

  test("schema versions: current market_data declaration is the dt-partitioned v2") {
    val (v, schema) = Schemas.current("market_data")
    assert(v === 2)
    assert(schema.fieldNames.last === "dt")
    // dt is declared DATE — partition-dir values read back type-inferred
    assert(schema("dt").dataType === org.apache.spark.sql.types.DateType)
    assert(Schemas.Versions("market_data").head._2 === Schemas.MarketData)
  }

  test("metadata table writes once with the reference's 4 rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString + "/metadata"
    Schemas.initMetadata(spark, dir, tickersCount = 2)
    val rows = spark.read.parquet(dir).as[(String, String)].collect().toMap
    assert(rows === Map("schema_version" -> Schemas.ledgerVersion, "atr_period" -> "14",
      "timezone" -> "IST", "tickers_count" -> "2"))
    // the ledger value tracks Versions — market_data is at v2 (dt column)
    assert(Schemas.ledgerVersion ===
      "atr_state=1,market_data=2,metadata=1,system_log=1")
    // second init is a no-op, not an overwrite
    Schemas.initMetadata(spark, dir, tickersCount = 99)
    assert(spark.read.parquet(dir).as[(String, String)].collect().toMap
      .apply("tickers_count") === "2")
    // a directory holding only a torn write's _temporary is not written yet
    val torn = java.nio.file.Files.createTempDirectory("graft-meta").toString + "/metadata"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(torn, "_temporary", "0"))
    Schemas.initMetadata(spark, torn, tickersCount = 3)
    assert(spark.read.parquet(torn).as[(String, String)].collect().toMap
      .apply("tickers_count") === "3")
  }
}
