package graft

import graft.operators.Engagement
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Replays the driver's events physical layouts through [[Tables.events]]
  * and pins the q95 semantics contract on both:
  *
  *  - TIMESTAMP(NANOS)-as-bigint (Spark 4 reads raw nanos via the legacy
  *    conf; [[Tables.events]] floor-truncates to micros — the same
  *    truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP), and
  *  - plain TIMESTAMP_MICROS.
  *
  * The fixture carries exactly the driver-layout hazards round 6 could
  * not reproduce locally: null `user_id` / null `ts` rows, and same-user
  * events DISTINCT at nanosecond precision but EQUAL at microsecond
  * precision with `event_id` order OPPOSING the nanosecond order — so a
  * path that ordered the lead window by raw nanos would produce a
  * different transition matrix than the pinned (micros, event_id) order.
  */
class EventsLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // base instant, epoch micros (2025-01-04T...Z); ns = us*1000 + sub-micro
  private val T = 1736000000000000L

  /** (event_id, user_id opt, ts nanos opt, event_type).
    * u1's first three events share the same micro (sub-micro parts 999,
    * 500, 100) and their event_id order (1,2,3) OPPOSES the ns order
    * (3,2,1): micros+event_id ordering yields b→c→a; raw-ns ordering
    * would yield a→c→b. u1 then has one clearly-later event (d).
    */
  private val rows: Seq[(Long, Option[Long], Option[Long], String)] = Seq(
    (1L, Some(1L), Some(T * 1000 + 999), "b"),
    (2L, Some(1L), Some(T * 1000 + 500), "c"),
    (3L, Some(1L), Some(T * 1000 + 100), "a"),
    (4L, Some(1L), Some((T + 1000000L) * 1000), "d"),
    (10L, Some(2L), Some(T * 1000), "a"),
    (11L, Some(2L), Some((T + 500000L) * 1000), "b"),
    // driver-layout hazards: null user, null ts — dropped by the engine
    // AND excluded by the oracle SQL's null filter (parity pinned in r7)
    (90L, None, Some(T * 1000), "x"),
    (91L, None, Some((T + 1L) * 1000), "x"),
    (92L, Some(1L), None, "x")
  )

  // engine semantics on (micros, event_id) order, nulls dropped:
  // u1: b→c, c→a, a→d; u2: a→b. from-'a' total 2 → 5000bp each.
  private val expected = Map(
    ("a", "b") -> ((1L, 5000L)),
    ("a", "d") -> ((1L, 5000L)),
    ("b", "c") -> ((1L, 10000L)),
    ("c", "a") -> ((1L, 10000L)))

  private def matrix(dir: String): Map[(String, String), (Long, Long)] = {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType,
      "Tables.events must normalize ts to TimestampType")
    Engagement.transitions(ev, "user_id", "ts", "event_type", "event_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("transitions on the nanos-as-bigint layout: micros order, event_id tiebreak, nulls dropped") {
    val dir = java.nio.file.Files.createTempDirectory("evnanos").toString
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(matrix(dir) === expected)
  }

  test("transitions on the micros timestamp layout matches the nanos path bit-for-bit") {
    val dir = java.nio.file.Files.createTempDirectory("evmicros").toString
    def toMicrosTs(ns: Long): java.sql.Timestamp = {
      val us = ns / 1000L // the same floor truncation Tables.events applies
      val t0 = new java.sql.Timestamp(us / 1000L)
      t0.setNanos(((us % 1000000L) * 1000L).toInt)
      t0
    }
    rows.map { case (id, u, ns, t) => (id, u, ns.map(toMicrosTs), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(matrix(dir) === expected)
  }
}
