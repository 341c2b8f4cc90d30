package graft

import graft.sink.IdempotentSink
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class IdempotentSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-sink").toString

  test("row id is deterministic and parseable") {
    val df = Seq(("RELIANCE", java.sql.Timestamp.valueOf("2026-02-02 09:15:00")))
      .toDF("symbol", "window_start")
      .withColumn("id", IdempotentSink.rowId($"symbol", $"window_start"))
    assert(df.select("id").as[String].head() === "RELIANCE_20260202_0915")
  }

  test("concurrent log channels flushing one dir lose no rows (the listener-vs-supervisor race)") {
    // two driver-side channels (a query listener's ladder and the
    // supervision loop) can flush the same system_log dir at the same
    // instant; unserialized, the append jobs collide under one
    // FileOutputCommitter _temporary and the loser's rows silently vanish
    val dir = tmp() + "/syslog"
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 5).foreach { i =>
        IdempotentSink.logEvents(spark, dir,
          Seq((s"ts-$t-$i", "INFO", "race", "-", s"row-$t-$i")))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val got = spark.read.parquet(dir).select("details").as[String].collect().toSet
    val want = (for { t <- 0 until 4; i <- 0 until 5 } yield s"row-$t-$i").toSet
    assert(got === want, s"lost ${(want -- got).size} log rows to the append race")
  }

  test("appendDedup writes each id exactly once across replays") {
    val sink = tmp() + "/sink"
    val batch = Seq(("a_1", 1.0), ("b_1", 2.0)).toDF("id", "v")
    assert(IdempotentSink.appendDedup(batch, sink) === 2L)
    // replay the same batch (at-least-once delivery) → nothing new written
    assert(IdempotentSink.appendDedup(batch, sink) === 0L)
    val batch2 = Seq(("b_1", 2.0), ("c_1", 3.0)).toDF("id", "v")
    assert(IdempotentSink.appendDedup(batch2, sink) === 1L)
    val all = spark.read.parquet(sink).as[(String, Double)].collect().sorted
    assert(all === Array(("a_1", 1.0), ("b_1", 2.0), ("c_1", 3.0)))
  }

  test("pruned dedup scan still rejects replays inside the range") {
    val sink = tmp() + "/sink"
    def b(rows: (String, String, Double)*) = rows.toSeq.toDF("id", "timestamp", "v")
    val day1 = b(("a_0915", "2026-02-02T09:15:00", 1.0), ("a_0920", "2026-02-02T09:20:00", 2.0))
    assert(IdempotentSink.appendDedup(day1, sink, pruneCol = Some("timestamp")) === 2L)
    // replay overlapping range: one dup, one new
    val day1b = b(("a_0920", "2026-02-02T09:20:00", 2.0), ("a_0925", "2026-02-02T09:25:00", 3.0))
    assert(IdempotentSink.appendDedup(day1b, sink, pruneCol = Some("timestamp")) === 1L)
    // disjoint later range: prune filter keeps scan away from day 1 but appends all
    val day2 = b(("a_next_0915", "2026-02-03T09:15:00", 4.0))
    assert(IdempotentSink.appendDedup(day2, sink, pruneCol = Some("timestamp")) === 1L)
    assert(spark.read.parquet(sink).count() === 4L)
    assert(spark.read.parquet(sink).select("id").distinct().count() === 4L)
  }

  test("partitioned sink: dedup scan reads only the batch's partitions") {
    val sink = tmp() + "/sink"
    def b(rows: (String, String, String, Double)*) =
      rows.toSeq.toDF("id", "timestamp", "dt", "v")
    val day1 = b(("a_0915", "2026-02-02T09:15:00", "2026-02-02", 1.0),
      ("a_0920", "2026-02-02T09:20:00", "2026-02-02", 2.0))
    val day2 = b(("b_0915", "2026-02-03T09:15:00", "2026-02-03", 3.0))
    assert(IdempotentSink.appendDedup(day1, sink,
      pruneCol = Some("timestamp"), partitionCol = Some("dt")) === 2L)
    assert(IdempotentSink.appendDedup(day2, sink,
      pruneCol = Some("timestamp"), partitionCol = Some("dt")) === 1L)
    // layout is hive-partitioned by dt
    val dirs = new java.io.File(sink).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("dt=2026-02-02", "dt=2026-02-03"))
    // a replay of day 2 must scan ONLY day 2's partition
    val replay = b(("b_0915", "2026-02-03T09:15:00", "2026-02-03", 3.0),
      ("b_0920", "2026-02-03T09:20:00", "2026-02-03", 4.0))
    val scan = IdempotentSink.existingIds(replay, sink, "id",
      Some("timestamp"), Some("dt"))
    scan.collect()
    // the dt range predicate must prune at the DIRECTORY level: the
    // executed scan's numFiles metric counts files actually listed, and
    // only day 2's single file may appear (inputFiles would show the
    // pre-pruning FileIndex, so assert on the scan metric instead)
    val scans = scan.queryExecution.executedPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numFiles").value === 1L,
      scan.queryExecution.executedPlan.toString)
    assert(IdempotentSink.appendDedup(replay, sink,
      pruneCol = Some("timestamp"), partitionCol = Some("dt")) === 1L)
    assert(spark.read.parquet(sink).count() === 4L)
  }

  test("a v2 batch with an added column dedups against a v1 sink") {
    val sink = tmp() + "/sink"
    assert(IdempotentSink.appendDedup(Seq(("a_1", 1.0)).toDF("id", "v"), sink) === 1L)
    // engine upgrade adds a column: the anti-join still sees v1 ids, only
    // the genuinely-new row lands, and mixed additive files stay readable
    val v2 = Seq(("a_1", 1.0, "src1"), ("b_1", 2.0, "src1")).toDF("id", "v", "source")
    assert(IdempotentSink.appendDedup(v2, sink) === 1L)
    val back = spark.read.option("mergeSchema", "true").parquet(sink)
    assert(back.count() === 2L)
    val bySrc = back.select("id", "source").as[(String, Option[String])].collect().toMap
    assert(bySrc === Map("a_1" -> None, "b_1" -> Some("src1")))
  }

  test("mixed flat/partitioned layouts are rejected before they poison the sink") {
    def row(id: String, dt: String) = Seq((id, dt, 1.0)).toDF("id", "dt", "v")
    // flat sink + partitioned append
    val flat = tmp() + "/sink"
    IdempotentSink.appendDedup(row("a_1", "2026-02-02"), flat)
    val e1 = intercept[IllegalStateException](IdempotentSink.appendDedup(
      row("b_1", "2026-02-03"), flat, partitionCol = Some("dt")))
    assert(e1.getMessage.contains("holds flat parquet files"))
    // partitioned sink + unpartitioned append
    val parted = tmp() + "/sink"
    IdempotentSink.appendDedup(row("a_1", "2026-02-02"), parted, partitionCol = Some("dt"))
    val e2 = intercept[IllegalStateException](IdempotentSink.appendDedup(
      row("c_1", "2026-02-04"), parted))
    assert(e2.getMessage.contains("partitioned by dt"))
    // neither refused append touched either sink
    assert(spark.read.parquet(flat).count() === 1L)
    assert(spark.read.parquet(parted).count() === 1L)
  }

  test("a sink without the id column fails the dedup instead of re-appending") {
    // an empty id set here would let every row through again: only a
    // missing sink may read as empty
    val sink = tmp() + "/sink"
    Seq("a_1").toDF("key").write.parquet(sink)
    intercept[org.apache.spark.sql.AnalysisException](IdempotentSink.appendDedup(
      Seq(("a_1", 1.0)).toDF("id", "v"), sink, idCol = "id"))
    assert(spark.read.parquet(sink).count() === 1L)
  }

  test("dead letters drain idempotently into the sink") {
    val root = tmp(); val sink = root + "/sink"; val dead = root + "/dead"
    val parked = Seq(("x_1", 1.0), ("y_1", 2.0)).toDF("id", "v")
    parked.write.parquet(dead)
    IdempotentSink.appendDedup(Seq(("x_1", 1.0)).toDF("id", "v"), sink)
    assert(IdempotentSink.drainDeadLetters(spark, dead, sink) === 1L) // only y_1 is new
    assert(spark.read.parquet(sink).count() === 2)
    assert(IdempotentSink.drainDeadLetters(spark, dead, sink) === 0L) // dir cleared
  }

  test("a missing or empty directory reads as absent; a written one reads") {
    val root = tmp()
    assert(IdempotentSink.readIfPresent(spark, s"$root/missing").isEmpty)
    Files.createDirectories(Paths.get(root, "empty"))
    assert(IdempotentSink.readIfPresent(spark, s"$root/empty").isEmpty)
    Seq(("x_1", 1.0)).toDF("id", "v").write.parquet(s"$root/written")
    assert(IdempotentSink.readIfPresent(spark, s"$root/written").map(_.count()) === Some(1L))
    assert(IdempotentSink.drainDeadLetters(spark, s"$root/missing", s"$root/sink") === 0L)
    assert(!Files.exists(Paths.get(root, "sink")))
  }
}
