package graft

import graft.recover.RetryPolicy
import graft.sink.EdgeFormat
import org.scalatest.funsuite.AnyFunSuite

class RecoverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("retry policy: exponential growth, cap, jitter bounds, alert ladder") {
    val cfg = RetryPolicy.Config()
    val delays = (1 to 10).map(a => RetryPolicy.delayMs(cfg, a))
    // within ±25% of 2s, 4s, 8s …, capped at 120s
    assert(delays(0) >= 1500 && delays(0) <= 2500)
    assert(delays(1) >= 3000 && delays(1) <= 5000)
    assert(delays.forall(_ <= 150000))
    assert(delays(9) >= 90000) // capped region: 120s ± 25%
    assert(RetryPolicy.delayMs(cfg, 3) === RetryPolicy.delayMs(cfg, 3)) // deterministic
    assert(RetryPolicy.alertFor(cfg, 1) === RetryPolicy.Warning)
    assert(RetryPolicy.alertFor(cfg, 3) === RetryPolicy.Critical)
    assert(RetryPolicy.alertFor(cfg, 10) === RetryPolicy.Exhausted)
    assert(!RetryPolicy.canRetry(cfg, 10))
  }

  test("edge format: 13 string columns, null→empty, bool→TRUE/FALSE") {
    val enriched = Seq(
      ("RELIANCE", "2026-02-02 09:15:00", 10.0, 12.0, 9.0, 11.0, 5L, false, Some(3.0), None: Option[Double]),
      ("TCS", "2026-02-02 09:15:00", 1.0, 1.0, 1.0, 1.0, 0L, true, Some(0.0), Some(2.5))
    ).toDF("symbol", "window_start", "open", "high", "low", "close", "tick_count", "gap_filled", "tr", "atr")
    val rows = EdgeFormat.sheetRows(enriched, "2026-02-02T10:00:00")
    assert(rows.columns.toSeq === EdgeFormat.Header)
    assert(rows.schema.fields.forall(_.dataType.typeName === "string"))
    val r = rows.orderBy("ticker").collect()
    assert(r(0).getAs[String]("id") === "RELIANCE_20260202_0915")
    assert(r(0).getAs[String]("atr") === "")        // warmup null → empty at edge
    assert(r(0).getAs[String]("gap_filled") === "FALSE")
    assert(r(1).getAs[String]("gap_filled") === "TRUE")
    assert(r(1).getAs[String]("atr") === "2.5000")  // fixed 4-decimal rendering
  }
}
