package graft

import graft.app.BatchReplay
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end batch replay of a synthetic trading slice ([[FixtureDay]]):
  * boundary ticks, silent windows (gap-fill), unknown tokens, invalid rows,
  * a symbol with ≥15 windows (full ATR warmup + Wilder steps) — asserting
  * completeness and zero duplicates across replays. The streaming path
  * replays the same day in ChainedPipelineSpec and StreamRunnerSpec.
  */
class PipelineEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val instruments = FixtureDay.instruments

  private def rawDf(date: String = "2026-02-02") =
    FixtureDay.withNoise(date).toDF("tk", "ltp", "exchange_timestamp", "seq")

  test("batch replay: completeness, gap-fill, ATR warmup, idempotent re-run") {
    val sink = Files.createTempDirectory("graft-e2e").toString + "/market_data"
    val dim = instruments.toDS()
    val written = BatchReplay.run(rawDf(), dim, sink, "2026-02-02T16:00:00")
    val table = spark.read.parquet(sink)
    // 17 windows × 2 symbols: RELIANCE 16 real + 1 gap (w5), TCS 14 real +
    // 3 gaps (w2, w3, w5 globally silent); NIFTY unfillable → absent
    assert(written === 34L)
    assert(table.count() === 34L)
    assert(table.where($"ticker" === "TCS" && $"gap_filled" === "TRUE").count() === 3)
    assert(table.where($"ticker" === "RELIANCE" && $"gap_filled" === "TRUE").count() === 1)
    assert(table.where($"ticker" === "NIFTY").count() === 0)
    // ATR: null (edge "") through candle 13, populated from candle 14 on
    val relAtr = table.where($"ticker" === "RELIANCE").orderBy($"timestamp")
      .select($"atr").as[String].collect()
    assert(relAtr.take(13).forall(_ === ""))
    assert(relAtr.drop(13).forall(_.nonEmpty))
    // replay the whole day → zero new rows, zero duplicates (🔒3)
    assert(BatchReplay.run(rawDf(), dim, sink, "2026-02-02T17:00:00") === 0L)
    assert(spark.read.parquet(sink).count() === 34L)
    assert(spark.read.parquet(sink).select("id").distinct().count() === 34L)
  }

  test("session runner drives calendar-gated multi-day replays into one partitioned sink") {
    val root = Files.createTempDirectory("graft-mday").toString
    val sink = s"$root/market_data"
    val dim = instruments.toDS()
    val cal = graft.time.TradingCalendar.load(spark,
      getClass.getResource("/calendar_fixture.json").getPath)
    def runDay(date: String): Long =
      BatchReplay.run(rawDf(date), dim, sink, s"${date}T16:00:00")
    // Mon 02-02 .. Wed 02-04 (02-04 is the fixture holiday → never runs)
    val report = graft.app.SessionRunner.runRange(cal, "2026-02-02", "2026-02-04") { s =>
      runDay(s.date); ()
    }
    assert(report.ran === Seq("2026-02-02", "2026-02-03"))
    assert(report.failed.isEmpty)
    val table = spark.read.parquet(sink)
    assert(table.count() === 68L) // 34 rows per day × 2 trading days
    // one dt partition per session day, none for the holiday
    val dts = new java.io.File(sink).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dts === Seq("dt=2026-02-02", "dt=2026-02-03"))
    // replaying the whole range is calendar-gated AND sink-idempotent
    val replay = graft.app.SessionRunner.runRange(cal, "2026-02-02", "2026-02-04") { s =>
      assert(runDay(s.date) === 0L)
    }
    assert(replay.ran === Seq("2026-02-02", "2026-02-03"))
    assert(spark.read.parquet(sink).count() === 68L)
    assert(spark.read.parquet(sink).select("id").distinct().count() === 68L)
  }
}
