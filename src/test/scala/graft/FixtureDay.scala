package graft

import graft.model.Instrument
import java.sql.Timestamp
import scala.util.Random

/** The synthetic trading day the pipeline specs replay (FIXTURES.md §1):
  * raw ticks as (tk, ltp, exchange_timestamp, seq) rows.
  */
object FixtureDay {
  type Tick = (String, Option[Double], Timestamp, Long)

  val instruments: Seq[Instrument] = Seq(
    Instrument("RELIANCE", "2885", "nse_cm"),
    Instrument("TCS", "11536", "nse_cm"),
    Instrument("NIFTY", "26000", "nse_cm"))

  /** 17 windows from 09:15; RELIANCE ticks every window except w5 (warmup +
    * Wilder steps), TCS silent in windows 2-3 (per-symbol gap-fill), window
    * 5 is GLOBALLY silent (no symbol ticks — the clock-tick case), NIFTY
    * never ticks (unfillable). Sequence numbers run 1..78.
    */
  def clean(date: String = "2026-02-02"): Seq[Tick] = {
    val rnd = new Random(7)
    val base = Timestamp.valueOf(s"$date 09:15:00").getTime
    var seq = 0L
    val rows = scala.collection.mutable.Buffer[Tick]()
    for (w <- 0 until 17 if w != 5) {
      val wstart = base + w * 300000L
      // boundary tick at exactly the window start
      seq += 1; rows += (("2885", Some(2000.0 + rnd.nextInt(100)), new Timestamp(wstart), seq))
      for (_ <- 0 until 3) {
        seq += 1
        rows += (("2885", Some(2000.0 + rnd.nextInt(100)),
          new Timestamp(wstart + 1000 + rnd.nextInt(290000)), seq))
      }
      if (w < 2 || w > 3) { // TCS silent in windows 2-3
        seq += 1
        rows += (("11536", Some(3300.0 + rnd.nextInt(50)),
          new Timestamp(wstart + rnd.nextInt(299000)), seq))
      }
    }
    rows.toSeq
  }

  /** The two rows ingest must drop: one unknown-token and one null-price
    * tick, numbered on after [[clean]]'s last sequence number. */
  def noise(date: String = "2026-02-02"): Seq[Tick] = {
    val base = Timestamp.valueOf(s"$date 09:15:00").getTime
    val seq = clean(date).length.toLong
    Seq(("424242", Some(1.0), new Timestamp(base + 1000), seq + 1), // unknown token
      ("2885", None, new Timestamp(base + 2000), seq + 2))          // null price
  }

  /** [[clean]] followed by [[noise]]: 80 rows. */
  def withNoise(date: String = "2026-02-02"): Seq[Tick] = clean(date) ++ noise(date)
}
