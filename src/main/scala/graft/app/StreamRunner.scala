package graft.app

import graft.recover.RetryPolicy
import graft.sink.IdempotentSink
import graft.streaming.{Alerts, ChainedPipeline, Monitors}
import graft.time.SessionSchedule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryListener}
import scala.util.control.NonFatal

/** The LIVE streaming entrypoint — the reference's runner surface
  * (main.py:107-273: calendar gate → setup/reconcile → stream → finalize
  * loop) assembled from the engine's streaming pieces, so a production
  * deployment is one call instead of copying wiring out of the specs:
  *
  *   - '''calendar gate''': the run date must be a trading session
  *     (main.py:115-124); the same [[SessionSchedule]] then day-bounds the
  *     chained sweep so multi-day checkpoints never densify overnight gaps;
  *   - '''startup reconcile''': the checkpoint-vs-sink audit
  *     (checkpoint_manager.py:184-260) adapted to the chained path, where
  *     enrichment state lives ONLY in the streaming checkpoint — the
  *     decision lands in `system_log` before the first micro-batch;
  *   - '''engine''': [[ChainedPipeline.start]] on the RocksDB state store
  *     (configured here — `transformWithState` requires it), with
  *     `Config.numShards` state partitions (default 1) whatever the
  *     session's `spark.sql.shuffle.partitions`; the settings the run
  *     derives land in `system_log` as one `stream_config` row before the
  *     first micro-batch;
  *   - '''ops''': heartbeat monitor + reconnect alert ladder on the
  *     listener bus, buffered `system_log` channel with size-triggered
  *     compaction ([[Alerts.buffered]] → [[graft.sink.IdempotentSink.compactLog]]);
  *   - '''supervision''': [[supervise]] restarts a failed query through
  *     [[RetryPolicy]]'s backoff ladder; the checkpoint resumes offsets
  *     and state, the sink's id anti-join absorbs any replay.
  *
  * The batch analog of this file is [[SessionRunner]] + [[BatchReplay]].
  */
object StreamRunner {

  final case class Config(
      sinkDir: String,
      deadLetterDir: String,
      checkpointDir: String,
      systemLogDir: String,
      numShards: Int = 1,
      heartbeatTimeoutMs: Long = 30000L,
      compactLogAfterFiles: Int = 64)

  /** The minimal handle [[supervise]] needs — [[Running]] here and
    * [[IngestRunner.Running]] both provide it, so one supervision loop
    * fronts the market stream and the ingest streams alike. */
  trait Supervised {
    def query: StreamingQuery
    def detach(): Unit
  }

  /** A started runner: the query plus the ops handles wired around it. */
  final case class Running(
      query: StreamingQuery,
      heartbeat: Monitors.HeartbeatMonitor,
      alerts: Alerts.AlertManager,
      listener: StreamingQueryListener,
      schedule: SessionSchedule,
      decision: Decision) extends Supervised {

    /** Detach the listener (after the query has already terminated). */
    def detach(): Unit =
      query.sparkSession.streams.removeListener(listener)

    /** Clean shutdown: stop the query, then detach. */
    def stop(): Unit =
      try { query.stop() } finally detach()
  }

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** `transformWithState` requires the RocksDB provider; set it on the
    * session (it is a runtime SQL conf, read at query start). A DIFFERENT
    * explicitly-chosen provider is refused rather than silently replaced.
    */
  private[graft] def configureStateStore(spark: SparkSession): Unit = {
    val current = spark.conf.get(ProviderKey)
    if (current.endsWith("HDFSBackedStateStoreProvider")) // the Spark default
      spark.conf.set(ProviderKey, RocksProvider)
    else if (current != RocksProvider)
      throw new IllegalStateException(
        s"$ProviderKey=$current, but the chained pipeline needs $RocksProvider " +
          s"(transformWithState requirement) — unset $ProviderKey or set it to that provider")
  }

  /** Where the startup audit found the run's state: nothing anywhere, the
    * streaming checkpoint, or only the sink's history. */
  sealed trait Source
  case object Fresh extends Source
  case object FromLocal extends Source
  case object FromSink extends Source

  final case class Decision(source: Source, reason: String)

  /** Startup reconcile (checkpoint_manager.py:184-260's 4-case matrix,
    * reduced to what the chained path keeps): enrichment state lives only
    * in the streaming checkpoint, so the matrix is checkpoint presence vs
    * the sink's high-watermark. `FromSink` here means "sink history
    * absorbs re-emitted windows while ATR restarts cold" — the
    * sheet-recovery case; there is no state snapshot to seed from.
    */
  private[graft] def startupAudit(spark: SparkSession, cfg: Config): Decision = {
    val offsets = new org.apache.hadoop.fs.Path(cfg.checkpointDir, "offsets")
    val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasCkpt = fs.exists(offsets) && fs.listStatus(offsets).nonEmpty
    // only the read may fail as "no sink yet"; a sink that holds rows
    // without a `timestamp` column is a broken sink, not an empty one
    val sink = IdempotentSink.readIfPresent(spark, cfg.sinkDir)
    val sinkMax = sink.flatMap(df =>
      Option(df.agg(max(col("timestamp")).cast("string")).head().getString(0)))
    (hasCkpt, sinkMax) match {
      case (false, None) => Decision(Fresh, "no checkpoint, empty sink: cold start")
      case (false, Some(w)) => Decision(FromSink,
        s"no checkpoint but sink holds rows through $w: ATR/seed state restarts " +
          "cold; the id anti-join absorbs re-emitted windows")
      case (true, None) => Decision(FromLocal,
        "checkpoint present, sink empty: offsets and state resume locally")
      case (true, Some(w)) => Decision(FromLocal,
        s"checkpoint present, sink through $w: offsets/state resume from checkpoint")
    }
  }

  /** Assemble and start the live pipeline.
    *
    * @param gateDate when set (the live date, or a replay's first day),
    *   refuse to start unless the calendar trades that day — the
    *   reference's is_trading_day exit
    */
  def start(candles: DataFrame, expectedSymbols: Seq[String], cal: DataFrame,
            cfg: Config, gateDate: Option[String] = None): Running = {
    val spark = candles.sparkSession
    val zone = spark.conf.get("spark.sql.session.timeZone")
    val schedule = SessionSchedule.fromCalendar(cal, zone)
    gateDate.foreach { d =>
      if (schedule.sessionOn(d).isEmpty)
        throw new IllegalArgumentException(
          s"$d is not a trading session (weekend/holiday) — refusing to start " +
            "(main.py:115-124 semantics); pass gateDate=None to force a replay")
    }
    configureStateStore(spark)
    val alerts = Alerts.buffered(spark, cfg.systemLogDir, cfg.compactLogAfterFiles)
    val decision = startupAudit(spark, cfg)
    alerts.dispatch(
      if (decision.source == FromSink) "WARNING" else "INFO",
      "startup_reconcile", "-", decision.reason)
    // the settings this run derives, once; artifact isolation is fixed when
    // the session is built (README, "What a micro-batch costs")
    alerts.dispatch("INFO", "stream_config", "-",
      s"state_store=${spark.conf.get(ProviderKey)} state_partitions=${cfg.numShards} " +
        s"artifact_isolation=${spark.conf.get("spark.sql.artifact.isolation.enabled")}")
    alerts.flush() // land both rows before the first micro-batch
    val hb = new Monitors.HeartbeatMonitor(cfg.heartbeatTimeoutMs)
    val listener = Monitors.listener(hb, alerts = Some(alerts))
    spark.streams.addListener(listener)
    try {
      val q = ChainedPipeline.start(candles, expectedSymbols, cfg.sinkDir,
        cfg.deadLetterDir, cfg.checkpointDir, cfg.numShards, Some(schedule))
      Running(q, hb, alerts, listener, schedule, decision)
    } catch {
      case NonFatal(e) => spark.streams.removeListener(listener); throw e
    }
  }

  /** End-of-session validation summary — the reference's finalize step
    * (main.py:275-328: close-of-day census + write validation into the
    * log), over the session's sink partition.
    */
  final case class SessionReport(
      date: String,
      rows: Long,
      dupIds: Long,            // MUST be 0: the sink's id contract
      expectedWindows: Long,   // per the calendar session's hours
      symbolsComplete: Long,   // symbols with every expected window present
      symbolsIncomplete: Long, // includes never-seeded symbols (cold start)
      missingSlots: Long)      // Σ expected−present over the universe

  /** Validate one session's sink output after close. One scan, pruned to
    * the session's `dt` partition; the summary lands in `system_log`
    * (WARNING when the dup-id contract is violated, INFO otherwise —
    * missing slots are normal for never-traded symbols).
    *
    * Completeness is aggregated IN Spark — the expected-symbol dim joins
    * the per-symbol window counts and only the one summary row reaches
    * the driver, so the driver payload stays O(1) however large the
    * universe (the reference's 178 symbols would tolerate a per-symbol
    * collect; a real universe would not).
    */
  def sessionReport(spark: SparkSession, cfg: Config, schedule: SessionSchedule,
                    date: String, expectedSymbols: Seq[String],
                    alerts: Option[Alerts.AlertManager] = None,
                    intervalMinutes: Int = 5): SessionReport = {
    // ceiling division: a session whose length is not a multiple of the
    // interval still emits its last partial window (its start is < close)
    val expectedWindows = schedule.sessionOn(date)
      .map { case (o, c) => ((c - o + intervalMinutes - 1) / intervalMinutes).toLong }
      .getOrElse(0L)
    // only the sink-missing case is expected; analysis errors in the
    // aggregation itself (schema drift) must propagate, not zero out
    val dayOpt = IdempotentSink.readIfPresent(spark, cfg.sinkDir)
      .map(_.where(col("dt") === date))
    val report = dayOpt match {
      case Some(day) =>
        val head = day.agg(count(lit(1)), count_distinct(col("id"))).head()
        val rows = head.getLong(0)
        import spark.implicits._
        // edge rows carry the reference's 13-column names: symbol = ticker
        val perSym = day.groupBy(col("ticker"))
          .agg(count_distinct(col("timestamp")).as("w"))
        val summary = expectedSymbols.toDF("ticker")
          .join(perSym, Seq("ticker"), "left")
          .select(coalesce(col("w"), lit(0L)).as("w"))
          .agg(
            sum(when(lit(expectedWindows) > 0 && col("w") >= expectedWindows, 1L)
              .otherwise(0L)).as("complete"),
            sum(greatest(lit(0L), lit(expectedWindows) - col("w"))).as("missing"))
          .head()
        val complete = if (summary.isNullAt(0)) 0L else summary.getLong(0)
        val missing = if (summary.isNullAt(1)) 0L else summary.getLong(1)
        SessionReport(date, rows, rows - head.getLong(1), expectedWindows,
          complete, expectedSymbols.size - complete, missing)
      case None =>
        SessionReport(date, 0L, 0L, expectedWindows, 0L,
          expectedSymbols.size.toLong, expectedWindows * expectedSymbols.size)
    }
    alerts.foreach { a =>
      a.dispatch(
        if (report.dupIds > 0) "WARNING" else "INFO",
        "session_report", date,
        s"rows=${report.rows} dup_ids=${report.dupIds} " +
          s"expected_windows=${report.expectedWindows} " +
          s"complete=${report.symbolsComplete} incomplete=${report.symbolsIncomplete} " +
          s"missing_slots=${report.missingSlots}")
      a.flush()
    }
    report
  }

  sealed trait Outcome
  final case class Completed(restarts: Int) extends Outcome
  final case class Exhausted(restarts: Int, last: Throwable) extends Outcome

  /** Supervision loop — the reference's reconnect ladder at query level:
    * block on the query; on failure (at start OR mid-run), back off per
    * `policy` and start again — the checkpoint resumes offsets/state and
    * the sink's dedup absorbs replayed batches — until a clean stop
    * ([[Completed]]) or the ladder exhausts ([[Exhausted]]).
    *
    * Alerting happens at BOTH levels: each attempt's listener carries its
    * own [[Monitors.AlertLadder]] for in-attempt events, and `alerts`
    * (when given) is the CROSS-attempt channel — each failure logs a
    * `supervise_restart` row whose level escalates WARNING → CRITICAL →
    * exhaustion per [[RetryPolicy.alertFor]] (a per-attempt ladder would
    * reset with every restart and never escalate), and a clean stop after
    * restarts logs the INFO recovery row (reconnect_manager.py:63-105).
    */
  def supervise(mk: () => Supervised,
                policy: RetryPolicy.Config = RetryPolicy.Config(),
                sleep: Long => Unit = Thread.sleep,
                alerts: Option[Alerts.AlertManager] = None): Outcome = {
    var attempt = 0
    while (true) {
      val started = try Right(mk()) catch { case NonFatal(e) => Left(e) }
      val failure: Option[Throwable] = started match {
        case Left(e) => Some(e)
        case Right(r) =>
          try { r.query.awaitTermination(); None }
          catch { case e: StreamingQueryException => Some(e) }
          finally r.detach()
      }
      failure match {
        case None =>
          if (attempt > 0) alerts.foreach { a =>
            a.dispatch("INFO", "supervise_recovered", "-",
              s"clean stop after $attempt restart(s)")
            a.flush()
          }
          return Completed(attempt)
        case Some(e) =>
          attempt += 1
          alerts.foreach { a =>
            a.dispatch(Alerts.levelOf(RetryPolicy.alertFor(policy, attempt)),
              "supervise_restart", "-",
              s"attempt=$attempt ${String.valueOf(e.getMessage).take(300)}")
            a.flush()
          }
          if (!RetryPolicy.canRetry(policy, attempt)) return Exhausted(attempt, e)
          sleep(RetryPolicy.delayMs(policy, attempt))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
