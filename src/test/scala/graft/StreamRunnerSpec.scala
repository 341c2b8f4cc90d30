package graft

import graft.app.StreamRunner
import graft.recover.RetryPolicy
import graft.streaming.StreamingPipeline
import graft.time.TradingCalendar
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The live runner end-to-end: calendar-gated sessions through
  * ChainedPipeline with a mid-day restart, the startup reconcile audit in
  * system_log, the heartbeat listener observing progress, and the
  * supervision ladder's backoff — the assembled analog of main.py:107-273.
  * Own session: the runner itself must configure the RocksDB provider.
  */
object StreamRunnerSpec {
  /** One-shot fault trap for the crash-injection case: shared JVM-static
    * state so the executor-side closure (local mode, same JVM) and the
    * test body see the same flag. */
  val poisonArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class StreamRunnerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-runner-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val instruments = FixtureDay.instruments

  /** Both fixture days trade special 09:15-10:40 sessions; 02-04 is a
    * holiday; weekends default-closed.
    */
  private def writeCalendar(root: String): String = {
    val path = s"$root/calendar.json"
    val json =
      """{"year": 2026,
        | "holidays": [{"date": "2026-02-04", "name": "Fixture Holiday"}],
        | "special_sessions": [
        |   {"date": "2026-02-02", "name": "s1", "open": "09:15", "close": "10:40"},
        |   {"date": "2026-02-03", "name": "s2", "open": "09:15", "close": "10:40"}]}""".stripMargin
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
    path
  }

  private val srcSchema = StructType(Seq(
    StructField("tk", StringType), StructField("ltp", DoubleType),
    StructField("exchange_timestamp", TimestampType), StructField("seq", LongType)))

  private def sinkRows(dir: String): Set[Seq[Any]] =
    spark.read.parquet(dir).drop("created_at", "dt").collect().map(_.toSeq).toSet

  test("startup audit: checkpoint x sink matrix, no stream started") {
    val root = Files.createTempDirectory("graft-audit").toString
    def cell(ckpt: Boolean, sink: Boolean, tsCol: String = "timestamp"): StreamRunner.Source = {
      val dir = Files.createTempDirectory(Paths.get(root), "cell").toString
      // an empty offsets/ dir is no checkpoint: only a written offset counts
      val offsets = Files.createDirectories(Paths.get(dir, "ckpt", "offsets"))
      if (ckpt) Files.write(offsets.resolve("0"), "v1".getBytes("UTF-8"))
      if (sink) Seq(("A_20260202_0915", "2026-02-02T09:15:00"))
        .toDF("id", tsCol).write.parquet(s"$dir/sink")
      val cfg = StreamRunner.Config(s"$dir/sink", s"$dir/dead", s"$dir/ckpt", s"$dir/log")
      val d = StreamRunner.startupAudit(spark, cfg)
      if (sink) assert(d.reason.contains("2026-02-02T09:15:00"), d.reason)
      d.source
    }
    assert(cell(ckpt = false, sink = false) === StreamRunner.Fresh)
    assert(cell(ckpt = false, sink = true) === StreamRunner.FromSink)
    assert(cell(ckpt = true, sink = false) === StreamRunner.FromLocal)
    assert(cell(ckpt = true, sink = true) === StreamRunner.FromLocal)
    // a sink holding rows but no `timestamp` column is broken, not empty:
    // auditing it as a cold start would re-emit every window it holds
    intercept[AnalysisException](cell(ckpt = false, sink = true, tsCol = "ts"))
    assert(spark.streams.active.isEmpty)
  }

  test("runner e2e: two gated sessions, mid-day restart — no dupes, census-complete, audited") {
    val root = Files.createTempDirectory("graft-runner").toString
    val dim = instruments.toDS()
    val cal = TradingCalendar.load(spark, writeCalendar(root))
    val day1 = FixtureDay.clean("2026-02-02")
    val day2 = FixtureDay.clean("2026-02-03")

    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(
      (day1 ++ day2).toDF("tk", "ltp", "exchange_timestamp", "seq"), dim, batchSink, "x")
    val want = sinkRows(batchSink)

    val srcDir = s"$root/src"
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log", numShards = 4)
    def startRunner(gate: String) = {
      val ticks = graft.ingest.TickIngest.ingest(
        spark.readStream.schema(srcSchema).parquet(srcDir), dim)
      val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
        symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
      StreamRunner.start(candles, instruments.map(_.symbol), cal, cfg, Some(gate))
    }

    val (first, rest) = day1.splitAt(day1.length / 2)
    first.toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val r1 = startRunner("2026-02-02")
    assert(r1.decision.source === StreamRunner.Fresh)
    r1.query.processAllAvailable()
    r1.stop() // crash mid-day-1: all enrich state lives in the checkpoint

    val sentinel = Seq(("2885", Some(2000.0),
      Timestamp.valueOf("2026-02-03 10:40:01"), 999999L))
    (rest ++ day2 ++ sentinel).toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val r2 = startRunner("2026-02-03")
    assert(r2.decision.source === StreamRunner.FromLocal)
    try {
      r2.query.processAllAvailable()
      val got = sinkRows(s"$root/sink")
      assert(got === want,
        s"runner != batch truth: missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
      val ids = spark.read.parquet(s"$root/sink").select("id").as[String].collect()
      assert(ids.length === ids.distinct.length)
      // no overnight synthesis leaked through the schedule
      val ts = spark.read.parquet(s"$root/sink").select("timestamp").as[String].collect()
      assert(ts.forall(_.substring(11, 16) <= "10:35"))
      // both startup audits landed in system_log through the buffered channel
      val audits = spark.read.parquet(s"$root/system_log")
        .where($"event" === "startup_reconcile")
        .orderBy($"timestamp").select("level", "details").collect()
      assert(audits.length === 2)
      assert(audits.head.getString(1).contains("cold start"))
      assert(audits.last.getString(1).contains("resume from checkpoint"))
      // the heartbeat listener observed real progress (events are async)
      val deadline = System.currentTimeMillis() + 10000
      while (r2.heartbeat.latestBatchId < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(r2.heartbeat.latestBatchId >= 0)
      // finalize: the close-of-day validation report per session — both
      // active symbols census-complete (17 windows each after gap-fill),
      // NIFTY never seeded, zero dup ids; summary rows land in system_log
      Seq("2026-02-02", "2026-02-03").foreach { d =>
        val rep = StreamRunner.sessionReport(spark, cfg, r2.schedule, d,
          instruments.map(_.symbol), Some(r2.alerts))
        assert(rep === StreamRunner.SessionReport(d, 34L, 0L, 17L, 2L, 1L, 17L))
      }
      assert(spark.read.parquet(s"$root/system_log")
        .where($"event" === "session_report").count() === 2)
    } finally r2.stop()
  }

  /** A runner over the tick files in `srcDir`, gated on 2026-02-02. */
  private def startOn(root: String, srcDir: String, cfg: StreamRunner.Config) = {
    val dim = instruments.toDS()
    val cal = TradingCalendar.load(spark, writeCalendar(root))
    val ticks = graft.ingest.TickIngest.ingest(
      spark.readStream.schema(srcSchema).parquet(srcDir), dim)
    val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
      symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
    StreamRunner.start(candles, instruments.map(_.symbol), cal, cfg, Some("2026-02-02"))
  }

  /** Every state operator of every batch `r` ran reports `n` partitions. */
  private def assertStatePartitions(r: StreamRunner.Running, n: Long): Unit = {
    val parts = r.query.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numShufflePartitions))
    assert(parts.nonEmpty && parts.forall(_ == n), parts)
  }

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  test("state partitions: every state operator runs numShards partitions; the session keeps its own") {
    val root = Files.createTempDirectory("graft-runner-shards").toString
    val srcDir = s"$root/src"
    FixtureDay.clean("2026-02-02").toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log", numShards = 2)
    assert(spark.conf.get(ShufflePartitions) === "4")
    val r = startOn(root, srcDir, cfg)
    try {
      assert(spark.conf.get(ShufflePartitions) === "4")
      r.query.processAllAvailable()
      // the window aggregate and the transformWithState processor both
      val ops = r.query.lastProgress.stateOperators
      assert(ops.map(_.operatorName).toSet.size === 2, ops.map(_.operatorName).toSeq)
      assert(ops.forall(_.numShufflePartitions == 2L), ops.map(_.numShufflePartitions).toSeq)
      assertStatePartitions(r, 2L)
      val config = spark.read.parquet(cfg.systemLogDir)
        .where($"event" === "stream_config").select("level", "details").collect()
      assert(config.length === 1)
      assert(config.head.getString(0) === "INFO")
      assert(config.head.getString(1).startsWith(
        "state_store=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider " +
          "state_partitions=2 artifact_isolation="), config.head.getString(1))
    } finally r.stop()
    assert(spark.conf.get(ShufflePartitions) === "4")
  }

  test("restart from a session with other shuffle partitions keeps the checkpoint's partitions and sink") {
    val root = Files.createTempDirectory("graft-runner-reshuffle").toString
    val srcDir = s"$root/src"
    val day1 = FixtureDay.clean("2026-02-02")
    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(
      day1.toDF("tk", "ltp", "exchange_timestamp", "seq"), instruments.toDS(), batchSink, "x")
    val want = sinkRows(batchSink)
    val sentinel = Seq(("2885", Some(2000.0),
      Timestamp.valueOf("2026-02-02 10:40:01"), 999999L))
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log", numShards = 2)

    val (first, rest) = day1.splitAt(day1.length / 2)
    first.toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val r1 = startOn(root, srcDir, cfg)
    try r1.query.processAllAvailable() finally r1.stop()
    assertStatePartitions(r1, 2L)

    (rest ++ sentinel).toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val prev = spark.conf.get(ShufflePartitions)
    spark.conf.set(ShufflePartitions, "3")
    try {
      val r2 = startOn(root, srcDir, cfg)
      try r2.query.processAllAvailable() finally r2.stop()
      assertStatePartitions(r2, 2L)
      assert(spark.conf.get(ShufflePartitions) === "3")
    } finally spark.conf.set(ShufflePartitions, prev)
    val got = sinkRows(s"$root/sink")
    assert(got === want,
      s"restart != batch truth: missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
    val ids = spark.read.parquet(s"$root/sink").select("id").as[String].collect()
    assert(ids.length === ids.distinct.length)
  }

  test("calendar gate refuses a weekend and a holiday") {
    val root = Files.createTempDirectory("graft-runner-gate").toString
    val cal = TradingCalendar.load(spark, writeCalendar(root))
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log")
    val dummy = spark.range(1).toDF()
    intercept[IllegalArgumentException] { // Sunday
      StreamRunner.start(dummy, Seq("X"), cal, cfg, Some("2026-02-08"))
    }
    intercept[IllegalArgumentException] { // holiday
      StreamRunner.start(dummy, Seq("X"), cal, cfg, Some("2026-02-04"))
    }
  }

  test("state-store conf: default replaced with RocksDB, custom provider refused") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    try {
      spark.conf.unset(key) // back to the HDFS-backed default
      StreamRunner.configureStateStore(spark)
      assert(spark.conf.get(key).endsWith("RocksDBStateStoreProvider"))
      StreamRunner.configureStateStore(spark) // idempotent
      spark.conf.set(key, "com.example.CustomProvider")
      val e = intercept[IllegalStateException] { StreamRunner.configureStateStore(spark) }
      assert(e.getMessage.contains(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    } finally spark.conf.set(key, prev)
  }

  test("crash injection: a poisoned mid-run batch fails the query; supervision recovers byte-identically") {
    val root = Files.createTempDirectory("graft-runner-crash").toString
    val dim = instruments.toDS()
    val cal = TradingCalendar.load(spark, writeCalendar(root))
    val day1 = FixtureDay.clean("2026-02-02")
    // sentinel past the close flushes the last in-session windows; its own
    // window never finalizes (append mode), so it adds no sink row
    val sentinel = Seq(("2885", Some(2000.0),
      Timestamp.valueOf("2026-02-02 10:40:01"), 999999L))

    // no-fault truth for byte-identity
    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(
      day1.toDF("tk", "ltp", "exchange_timestamp", "seq"), dim, batchSink, "x")
    val want = sinkRows(batchSink)

    val srcDir = s"$root/src"
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log", numShards = 2)
    val alerts = graft.streaming.Alerts.buffered(spark, cfg.systemLogDir)
    val runners = new java.util.concurrent.CopyOnWriteArrayList[StreamRunner.Running]()
    val mk: () => StreamRunner.Running = () => {
      val raw = graft.ingest.TickIngest.ingest(
        spark.readStream.schema(srcSchema).parquet(srcDir), dim)
      // the poisoned row: the first tick processed while the trap is armed
      // throws INSIDE the micro-batch (task failure → query failure); the
      // trap disarms itself, so the checkpoint replay of the same batch
      // succeeds — a one-shot mid-batch fault, not a permanently bad row
      val ticks = raw.filter((r: org.apache.spark.sql.Row) => {
        if (StreamRunnerSpec.poisonArmed.compareAndSet(true, false))
          throw new RuntimeException("poisoned row: injected mid-batch fault")
        r != null
      })
      val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
        symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
      val r = StreamRunner.start(candles, instruments.map(_.symbol), cal, cfg)
      runners.add(r)
      r
    }

    val (first, rest) = day1.splitAt(day1.length / 2)
    first.toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val policy = RetryPolicy.Config(baseDelayMs = 1L, maxAttempts = 5)
    @volatile var outcome: StreamRunner.Outcome = null
    val t = new Thread(() => {
      outcome = StreamRunner.supervise(mk, policy, _ => (), Some(alerts))
    })
    t.start()
    val deadline = System.currentTimeMillis() + 30000
    while (runners.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!runners.isEmpty, "supervised query never started")
    runners.get(0).query.processAllAvailable() // first half lands cleanly

    // arm the trap, then deliver the rest: the next micro-batch dies mid-run
    StreamRunnerSpec.poisonArmed.set(true)
    (rest ++ sentinel).toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val deadline2 = System.currentTimeMillis() + 60000
    while (runners.size() < 2 && System.currentTimeMillis() < deadline2) Thread.sleep(100)
    assert(runners.size() === 2, "supervision never restarted the failed query")
    val r2 = runners.get(1)
    r2.query.processAllAvailable()
    r2.query.stop() // clean stop → supervise completes
    t.join(30000)
    assert(outcome === StreamRunner.Completed(1))
    assert(!StreamRunnerSpec.poisonArmed.get()) // the fault really fired

    // no lost window, no duplicate ids: byte-identical to the no-fault run
    val got = sinkRows(s"$root/sink")
    assert(got === want,
      s"fault+recovery != batch truth: missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
    val ids = spark.read.parquet(s"$root/sink").select("id").as[String].collect()
    assert(ids.length === ids.distinct.length)
    // the cross-attempt channel logged the restart (WARNING at attempt 1
    // per RetryPolicy.alertFor) and the post-restart recovery row
    val log = spark.read.parquet(cfg.systemLogDir)
    val restarts = log.where($"event" === "supervise_restart")
      .select("level", "details").collect()
    assert(restarts.length === 1)
    assert(restarts.head.getString(0) === "WARNING")
    assert(restarts.head.getString(1).contains("attempt=1"))
    assert(log.where($"event" === "supervise_recovered").count() === 1L)
  }

  test("supervision: failed starts back off per the ladder, clean stop completes") {
    val root = Files.createTempDirectory("graft-runner-supervise").toString
    val dim = instruments.toDS()
    val cal = TradingCalendar.load(spark, writeCalendar(root))
    val srcDir = s"$root/src"
    FixtureDay.clean("2026-02-02").take(8)
      .toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log", numShards = 2)

    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    @volatile var live: StreamRunner.Running = null
    val mk: () => StreamRunner.Running = () => {
      calls += 1
      if (calls <= 2) throw new RuntimeException("broker down")
      val ticks = graft.ingest.TickIngest.ingest(
        spark.readStream.schema(srcSchema).parquet(srcDir), dim)
      val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
        symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
      val r = StreamRunner.start(candles, instruments.map(_.symbol), cal, cfg)
      live = r
      r
    }
    val policy = RetryPolicy.Config(baseDelayMs = 1L, maxAttempts = 5)
    @volatile var outcome: StreamRunner.Outcome = null
    val t = new Thread(() => { outcome = StreamRunner.supervise(mk, policy, sleeps += _) })
    t.start()
    val deadline = System.currentTimeMillis() + 30000
    while (live == null && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(live != null, "supervised query never started")
    live.query.processAllAvailable()
    live.query.stop() // clean stop → supervise exits the loop
    t.join(30000)
    assert(outcome === StreamRunner.Completed(2))
    assert(sleeps.toSeq ===
      Seq(RetryPolicy.delayMs(policy, 1), RetryPolicy.delayMs(policy, 2)))
  }
}
