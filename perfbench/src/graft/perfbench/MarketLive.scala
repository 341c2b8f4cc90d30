package graft.perfbench

import graft.app.{BatchReplay, StreamRunner}
import graft.ingest.TickIngest
import graft.model.Instrument
import graft.sink.{EdgeFormat, IdempotentSink, Schemas}
import graft.streaming.{ChainedPipeline, StreamingPipeline}
import graft.time.{SessionSchedule, TradingCalendar}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `market_live`: the reference DAG as deployed — parquet tick files →
  * [[TickIngest.ingest]] → [[StreamingPipeline.ohlcCandles]] →
  * [[StreamRunner.start]] (ChainedPipeline on RocksDB, then an
  * IdempotentSink append per micro-batch).
  *
  * Closed loop, one client: publish window k's file, then
  * `processAllAvailable()`, which also runs the no-data batch that closes
  * window k-1. The time between the two calls is one window-close latency.
  *
  * Traced run: a second pipeline runs beside the production one on its own
  * directories — the same enrich chain with a foreachBatch body that
  * mirrors `ChainedPipeline.sinkBatch` call for call, each call timed —
  * and both are fed the same files alternately, so the untraced latency
  * and the traced one come from the same process at the same warmth.
  */
object MarketLive {
  val WatermarkDelay = "10 seconds"
  val WarmWindows = 3

  private val srcSchema = StructType(Seq(
    StructField("tk", StringType), StructField("ltp", DoubleType),
    StructField("exchange_timestamp", TimestampType), StructField("seq", LongType)))

  /** Per-window sink-call timings from the traced foreachBatch body. */
  private final class SinkCounters {
    val rowsWritten = new AtomicLong
    val dupsSuppressed = new AtomicLong
    val parked = new AtomicLong
  }

  private final class Pipe(ctx: Ctx, name: String, dim: Dataset[Instrument],
                           symbols: Seq[String], cal: DataFrame, firstDate: String,
                           tracer: Option[Tracer]) {
    private val spark = ctx.spark
    val root = s"${ctx.workDir}/$name"
    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))
    val cfg = StreamRunner.Config(s"$root/sink", s"$root/dead", s"$root/ckpt",
      s"$root/system_log")
    var sink = new SinkCounters
    private val candles = StreamingPipeline.ohlcCandles(
      TickIngest.ingest(spark.readStream.schema(srcSchema).parquet(src), dim),
      tsCol = "event_ts", symCol = "symbol", priceCol = "ltp", seqCol = "seq",
      watermarkDelay = WatermarkDelay)
    val schedule: SessionSchedule =
      SessionSchedule.fromCalendar(cal, spark.conf.get("spark.sql.session.timeZone"))
    private var running: Option[StreamRunner.Running] = None
    val query: StreamingQuery = tracer match {
      case None =>
        val r = StreamRunner.start(candles, symbols, cal, cfg, Some(firstDate))
        running = Some(r)
        r.query
      case Some(t) =>
        StreamRunner.configureStateStore(spark)
        ChainedPipeline.guardRouting(spark, cfg.checkpointDir, cfg.numShards)
        ChainedPipeline.enrich(candles, symbols, cfg.numShards, schedule = Some(schedule))
          .toDF().writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", cfg.checkpointDir)
          .foreachBatch { (batch: DataFrame, _: Long) => tracedSinkBatch(t, batch, symbols.size) }
          .start()
    }

    /** `ChainedPipeline.sinkBatch`, call for call, with each call timed. */
    private def tracedSinkBatch(t: Tracer, batch: DataFrame, nSymbols: Int): Unit = {
      val persisted = batch.persist()
      try {
        val n = t.span("streaming.enrich")(persisted.count())
        if (n > 0) {
          t.span("sink.metadata")(
            Schemas.initMetadata(spark, s"${cfg.sinkDir}/../metadata", nSymbols))
          t.span("sink.drain")(IdempotentSink.drainDeadLetters(spark, cfg.deadLetterDir,
            cfg.sinkDir, partitionCol = Some("dt")))
          val rows = t.span("sink.format") {
            val edge = EdgeFormat.sheetRows(persisted, createdAt = java.time.Instant.now.toString)
            Schemas.validate(edge, Schemas.MarketData, "market_data")
            edge.withColumn("dt", substring(col("timestamp"), 1, 10))
          }
          t.span("sink.append")(IdempotentSink.appendWithRetry(rows, cfg.sinkDir,
            cfg.deadLetterDir, maxRetries = 3, baseDelayMs = 100L,
            pruneCol = Some("timestamp"), partitionCol = Some("dt"))) match {
            case Right(w) => sink.rowsWritten.addAndGet(w); sink.dupsSuppressed.addAndGet(n - w)
            case Left(_) => sink.parked.incrementAndGet()
          }
        }
      } finally { persisted.unpersist(); () }
    }

    private var lastBatch = -1L
    /** Progress of the micro-batches that ran since the previous call. */
    def newProgress(): Seq[StreamingQueryProgress] = {
      val ps = query.recentProgress.toSeq
        .filter(p => p.batchId > lastBatch && p.durationMs.containsKey("addBatch"))
        .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
      ps.lastOption.foreach(p => lastBatch = p.batchId)
      ps
    }

    def feed(file: java.nio.file.Path, copy: Boolean): Double = {
      Main.publish(file, src, copy)
      val t0 = System.nanoTime()
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }

    def sinkRows(): Long =
      if (Files.exists(Paths.get(cfg.sinkDir))) spark.read.parquet(cfg.sinkDir).count() else 0L

    def stop(): Unit = running.fold(query.stop())(_.stop())
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val meta = new String(Files.readAllBytes(Paths.get(ctx.dataDir, "meta.json")), "UTF-8")
    val symbols = Json.strings(meta, "symbols")
    val starts = Json.strings(meta, "window_starts")
    val dim = spark.read.parquet(s"${ctx.dataDir}/instruments.parquet").as[Instrument]
    val cal = TradingCalendar.load(spark, s"${ctx.dataDir}/calendar.json")
    val files = Main.staged(ctx)
    val firstDate = Json.string(meta, "first_date")
    val prod = new Pipe(ctx, "prod", dim, symbols, cal, firstDate, None)
    // the traced query's thread inherits this job tag from the starting thread
    val sparkTrace = ctx.tracer.map(_ => SparkTrace.attach(spark))
    spark.sparkContext.setLocalProperty(SparkTrace.TagKey, "traced")
    val traced =
      try ctx.tracer.map(t => new Pipe(ctx, "traced", dim, symbols, cal, firstDate, Some(t)))
      finally spark.sparkContext.setLocalProperty(SparkTrace.TagKey, null)
    val opWindows = Vector.newBuilder[(Long, Long)]
    val startedMs = System.currentTimeMillis()

    var k = 0
    var failed = 0
    def step(): Option[(Double, Option[Double])] = {
      val f = files(k)
      k += 1
      try {
        val a = prod.feed(f, copy = traced.isDefined)
        val b = traced.map { p =>
          val w0 = System.currentTimeMillis()
          val ms = ctx.tracer.get.op("window")(p.feed(f, copy = false))._3
          opWindows += ((w0, System.currentTimeMillis()))
          ms
        }
        Some((a, b))
      } catch {
        case e: Exception =>
          System.err.println(s"[market_live] window ${k - 1} failed: $e")
          failed += 1
          None
      }
    }
    ctx.tracer.foreach(_.on = false)
    val warm = (0 until WarmWindows).flatMap(_ => step()).map(_._1)
    ctx.tracer.foreach(_.on = true)
    traced.foreach { p => p.newProgress(); p.sink = new SinkCounters }
    sparkTrace.foreach(_.reset())
    opWindows.clear()
    val warmEndMs = System.currentTimeMillis()
    val first = k
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val samples = Vector.newBuilder[(Double, Option[Double])]
    val progress = Vector.newBuilder[Seq[StreamingQueryProgress]]
    while (System.nanoTime() < deadline && k < files.size && failed == 0) {
      step().foreach(samples += _)
      traced.foreach { p =>
        val ps = p.newProgress()
        progress += ps
        val t = ctx.tracer.get
        t.children(-1, "window").lastOption.foreach(w => ps.foreach(recordTrigger(t, w.id, _)))
      }
    }
    val timed = samples.result()
    val opsMs = timed.map(_._1)

    val loopEndMs = System.currentTimeMillis()
    prod.stop()
    traced.foreach(_.stop())
    // publishing window j closes window j-1: the timed publishes closed these
    val closedWhileTimed = starts.slice(first - 1, k - 1).toSet
    val (incorrect, committed, checks) = check(ctx, prod, dim, symbols, closedWhileTimed)
    val checkedMs = System.currentTimeMillis()
    val perLayer = traced.map { p =>
      val st = sparkTrace.get
      st.quiesce()
      val tracedMs = timed.flatMap(_._2)
      layers(ctx.tracer.get, p, timed, progress.result()) ++
        SparkTrace.execMetrics(st, _ == "traced", st.plansWithin(opWindows.result()),
          math.max(1, tracedMs.size).toDouble, tracedMs.sum, ctx.cpus)
    }.getOrElse(Map.empty)
    sparkTrace.foreach(_.detach())
    Outcome(opsMs, committed, failed, incorrect, warmEndMs,
      Map("window_latency_p50_ms" -> Stats.median(opsMs),
        "candles_per_s" -> committed / (opsMs.sum / 1000.0),
        "windows_timed" -> opsMs.size.toDouble),
      perLayer, checks ++ Map("warm_ms" -> warm, "started_ms" -> startedMs,
        "loop_end_ms" -> loopEndMs, "checked_ms" -> checkedMs))
  }

  /** One micro-batch trigger as spans, from the durations Spark reports:
    * the trigger, then its phases in execution order. */
  private def recordTrigger(t: Tracer, parent: Int, p: StreamingQueryProgress): Unit = {
    val start = t.nsAt(java.time.Instant.parse(p.timestamp).toEpochMilli)
    def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val trigger = t.record("streaming.trigger", parent, start, start + ms("triggerExecution") * 1000000L)
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foldLeft(start) { (at, k) =>
        val end = at + ms(k) * 1000000L
        t.record(s"streaming.$k", trigger, at, end)
        end
      }
    ()
  }

  /** Sink rows minus `created_at` must equal [[BatchReplay.run]] over the
    * same ticks, window for window, and [[StreamRunner.sessionReport]] must
    * show no duplicate ids and the same census as that truth. The sink is
    * small (one row per symbol and window), so both sides are compared on
    * the driver. Returns (windows found wrong plus one per failed session
    * census, sink rows of the windows in `timedWindows`, details). */
  private def check(ctx: Ctx, p: Pipe, dim: Dataset[Instrument], symbols: Seq[String],
                    timedWindows: Set[String]): (Int, Long, Map[String, Any]) = {
    val spark = ctx.spark
    val truthDir = s"${p.root}/truth"
    BatchReplay.run(spark.read.schema(srcSchema).parquet(p.src), dim, truthDir, "x")
    def rows(dir: String): Seq[Seq[String]] = {
      val df = spark.read.parquet(dir).drop("created_at")
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(c => col(c).cast("string")): _*).collect().toSeq
        .map(_.toSeq.map(v => String.valueOf(v)))
    }
    val cols = spark.read.parquet(truthDir).drop("created_at").columns.sorted.toSeq
    val (ts, dt, ticker) = (cols.indexOf("timestamp"), cols.indexOf("dt"), cols.indexOf("ticker"))
    val truth = rows(truthDir)
    // the last published window stays open: nothing after it moved the watermark
    val lastClosed = truth.map(_(ts)).distinct.sorted.init.lastOption.getOrElse("")
    val want = truth.filter(_(ts) <= lastClosed)
    val got = rows(p.cfg.sinkDir)
    val (gc, wc) = (got.groupBy(identity).view.mapValues(_.size).toMap,
      want.groupBy(identity).view.mapValues(_.size).toMap)
    val badRows = (gc.keySet ++ wc.keySet).filter(r => gc.getOrElse(r, 0) != wc.getOrElse(r, 0))
    val badWindows = badRows.map(_(ts)).size
    val days = want.map(_(dt)).distinct.sorted
    val badDays = days.filter { d =>
      val rep = StreamRunner.sessionReport(spark, p.cfg, p.schedule, d, symbols)
      val day = want.filter(_(dt) == d)
      val perSym = day.groupBy(_(ticker)).view.mapValues(_.size)
      val wantComplete = perSym.count(_._2 >= rep.expectedWindows)
      val nWindows = day.map(_(ts)).distinct.size
      rep.dupIds != 0 || rep.rows != day.size ||
        (nWindows == rep.expectedWindows && rep.symbolsComplete != wantComplete)
    }
    if (badWindows > 0 || badDays.nonEmpty)
      System.err.println(s"[market_live] correctness: $badWindows window(s) differ from " +
        s"BatchReplay; session census failed on ${badDays.mkString(",")}")
    val committed = got.count(r => timedWindows.contains(r(ts))).toLong
    (badWindows + badDays.size, committed, Map("sink_rows" -> got.size,
      "bad_windows" -> badWindows, "bad_days" -> badDays, "sessions" -> days))
  }

  /** Per-layer metrics of the traced pipeline. Times are means per timed
    * window; counts are totals over the timed windows unless named
    * otherwise. */
  private def layers(t: Tracer, p: Pipe, timed: Seq[(Double, Option[Double])],
                     progress: Seq[Seq[StreamingQueryProgress]]): Map[String, Double] = {
    val windows = t.children(-1, "window")
    val n = math.max(1, windows.size).toDouble
    def dur(ps: Seq[StreamingQueryProgress], keys: String*): Double =
      ps.map(pr => keys.map(k => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum).sum
    val all = progress.flatten
    def opsOf(pr: StreamingQueryProgress, tws: Boolean) =
      pr.stateOperators.toSeq.filter(_.operatorName.toLowerCase.contains("transformwithstate") == tws)
    def stateMs(tws: Boolean) = all.flatMap(opsOf(_, tws))
      .map(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).toDouble).sum
    def lastOp(tws: Boolean) = all.reverse.flatMap(opsOf(_, tws)).headOption
    val accepted = all.flatMap(pr => Option(pr.observedMetrics.get("ingest")))
      .map(_.getAs[Long]("accepted_rows")).sum
    val enrichMs = t.totalMs("streaming.enrich")
    val sinkMs = Seq("sink.metadata", "sink.drain", "sink.format", "sink.append").map(t.totalMs).sum
    val ingestMs = dur(all, "latestOffset", "getBatch")
    val triggerMs = dur(all, "triggerExecution")
    val tracedMs = windows.map(s => (s.endNs - s.startNs) / 1e6).sum
    // everything in the micro-batch trigger that is not source offsets or
    // sink calls: planning, WAL, the stateful enrich job, trigger overhead
    val streamingMs = triggerMs - ingestMs - sinkMs
    val untraced = Stats.mean(timed.map(_._1))
    val tracedMean = tracedMs / n
    val (sinkBytes, sinkFiles) = Main.du(p.cfg.sinkDir, ".parquet")
    val sinkRows = p.sinkRows().toDouble
    val closed = windowsClosed(p)
    Map(
      "ingest.ticks_in" -> all.map(_.numInputRows.toDouble).sum,
      "ingest.ticks_accepted" -> accepted.toDouble,
      "streaming.batches_per_window" -> all.size / n,
      "streaming.plan_ms" -> dur(all, "queryPlanning") / n,
      "streaming.wal_ms" -> dur(all, "walCommit", "commitOffsets") / n,
      "streaming.candle_state_ms" -> stateMs(tws = false) / n,
      "streaming.candle_state_rows" -> lastOp(tws = false).map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.enrich_ms" -> enrichMs / n,
      "streaming.enrich_state_rows" -> lastOp(tws = true).map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.enrich_state_bytes" -> lastOp(tws = true).flatMap(o =>
        Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.toDouble)).getOrElse(0.0),
      "streaming.rows_dropped_by_watermark" ->
        all.flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark.toDouble).sum,
      "sink.format_ms" -> t.totalMs("sink.format") / n,
      "sink.drain_ms" -> t.totalMs("sink.drain") / n,
      "sink.append_ms" -> t.totalMs("sink.append") / n,
      "sink.rows_written" -> p.sink.rowsWritten.get.toDouble,
      "sink.dups_suppressed" -> p.sink.dupsSuppressed.get.toDouble,
      "sink.retries" -> p.sink.parked.get.toDouble,
      "sink.files_per_window" -> sinkFiles / math.max(1.0, closed),
      "sink.bytes_per_row" -> sinkBytes / math.max(1.0, sinkRows),
      "layer.ingest_ms" -> ingestMs / n,
      "layer.streaming_ms" -> streamingMs / n,
      "layer.sink_ms" -> sinkMs / n,
      "layer.driver_ms" -> (tracedMs - triggerMs) / n,
      "trace.untraced_op_ms" -> untraced,
      "trace.traced_op_ms" -> tracedMean,
      "trace.overhead_ms" -> (tracedMean - untraced))
  }

  private def windowsClosed(p: Pipe): Double =
    if (!Files.exists(Paths.get(p.cfg.sinkDir))) 0.0
    else p.query.sparkSession.read.parquet(p.cfg.sinkDir).select("timestamp").distinct().count().toDouble
}
