package graft

import graft.model.{AtrState, Candle}
import graft.operators.Atr
import org.scalatest.funsuite.AnyFunSuite

class AtrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def candle(i: Int, high: Double, low: Double, close: Double) =
    Candle("X", i.toLong * 300000000L, f"w$i%03d", low, high, low, close, 1L, gap_filled = false)

  test("warmup: ATR null for candles 1-13, mean of 14 TRs at candle 14, Wilder after") {
    // candles 1..14: h=20 l=10 close=15 → every TR = 10 (first = h-l, rest 3-way max)
    val steady = (1 to 14).map(i => candle(i, 20, 10, 15))
    // candle 15: h=39 l=15 close=20 → TR = max(24, |39-15|, |15-15|) = 24
    // candle 16: h=25 l=15 close=20 → TR = max(10, 5, 5) = 10
    val rows = steady ++ Seq(candle(15, 39, 15, 20), candle(16, 25, 15, 20))
    val out = Atr.enrichSeries(rows)
    assert(out.take(13).forall(_.atr.isEmpty))
    assert(out.take(13).forall(_.tr.contains(10.0)))
    assert(out(13).atr.contains(10.0))              // warmup mean
    assert(out(14).tr.contains(24.0))
    assert(out(14).atr.contains(11.0))              // (10*13 + 24)/14 = 11 exactly
    assert(out(15).atr.contains(10.9286))           // (11*13 + 10)/14 = 10.92857… → 4dp
  }

  test("half-up integer-tick rounding matches BigDecimal HALF_UP on ties") {
    // prev=1.0001, tr=0.0003 → (1.0001*13 + 0.0003)/14 = 13.0016/14 = 0.929257142…
    val st = AtrState(Some(1.0), Some(1.0001), Nil, 14)
    val (_, _, atr) = Atr.step(st, 1.0003, 1.0, 1.0)
    val expected = BigDecimal(13.0016) / 14
    assert(atr.contains(expected.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("property: ATR never negative, TR never negative, over random series") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val rows = (1 to 20).map { i =>
        val a = 1.0 + rnd.nextDouble() * 99; val b = 1.0 + rnd.nextDouble() * 99
        val hi = math.max(a, b); val lo = math.min(a, b)
        candle(i, hi, lo, lo + rnd.nextDouble() * (hi - lo))
      }
      val out = Atr.enrichSeries(rows)
      assert(out.flatMap(_.atr).forall(_ >= 0.0))
      assert(out.flatMap(_.tr).forall(_ >= 0.0))
      assert(out.take(13).forall(_.atr.isEmpty) && out.drop(13).forall(_.atr.nonEmpty))
    }
  }

  test("DataFrame enrich path is order-insensitive (sorts by window within symbol)") {
    import spark.implicits._
    val rows = (1 to 16).map(i => (java.sql.Timestamp.valueOf(f"2026-02-02 ${9 + i / 12}%02d:${(i * 5) % 60}%02d:00"),
      "X", 15.0, 20.0, 10.0, 15.0, 1L))
    val df = spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 4)
      .toDF("window_start", "symbol", "open", "high", "low", "close", "tick_count")
    val out = Atr.enrich(df).collect().sortBy(_.wkey)
    assert(out.length === 16)
    assert(out.take(13).forall(_.atr.isEmpty))
    assert(out(13).atr.contains(10.0))
  }
}
