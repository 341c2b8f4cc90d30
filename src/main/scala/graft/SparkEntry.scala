package graft

import graft.operators._
import graft.queries.MarketQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 (and the training-data-pipeline
  * extensions) is exposed as a named query over the driver tables, each
  * paired with equivalent DuckDB SQL in one [[graft.queries.Query]] value;
  * [[graft.queries.Registry.all]] holds them, one file per operator family.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full reference pipeline: ticks → OHLC candles → gap-fill → Wilder ATR.
    */
  def entry(spark: SparkSession): DataFrame = {
    val c = MarketQueries.candles(spark, "/root/testdata/sf0.001")
    Atr.enrich(GapFill.fillSessions(c)).toDF()
  }
}
