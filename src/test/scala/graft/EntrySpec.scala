package graft

import graft.queries.{Registry, Twin}
import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage of the driver contract on sf0.001. Full per-query
  * correctness runs through Verify + the DuckDB oracle (tools/oracle_check.py).
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = s"${TestSpark.testdataDir}/sf0.001"

  test("entry returns enriched candles") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("atr"))
    assert(df.count() > 0)
  }

  test("registry: 306 distinct names, duplicates rejected, each twin names its query") {
    val names = Registry.all.queries.map(_.name)
    assert(names.size === 306)
    assert(names.distinct.size === 306)

    val q = Registry.all.queries.head
    val e = intercept[IllegalArgumentException](new Registry(Seq(q, q.copy(sql = "SELECT 1"))))
    assert(e.getMessage.contains(q.name))

    val twins = Registry.all.entries.collect { case t: Twin => t.name }
    assert(twins.size === 5)
    for (t <- twins) {
      val n = t.drop(1).takeWhile(_.isDigit)
      assert(t.startsWith("x") && n.nonEmpty, t)
      assert(names.exists(_.startsWith(s"q${n}_")), s"$t twins no q${n}_* query")
    }
  }

  test("flagship queries run on sf0.001") {
    for (name <- Seq("q01_pricing_summary", "q10_ohlc_candles", "q13_atr_wilder")) {
      assert(Registry.all(name).build(spark, dir).count() > 0, name)
    }
  }
}
