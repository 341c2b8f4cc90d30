package graft.streaming

import graft.model.{AtrState, Candle, EnrichedCandle}
import graft.operators.Atr
import graft.sink.{EdgeFormat, IdempotentSink}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}

/** The streaming engine: candle finalize → gap-fill → Wilder ATR → sink,
  * the reference's per-window cycle (main.py:275-328, SURVEY.md §3.2).
  * Enrichment runs inside the state store via Spark 4's `transformWithState`
  * (RocksDB provider), with no per-batch driver round-trips; the sink is a
  * stateless idempotent append per micro-batch.
  *
  * Gap-fill needs per-window completeness across the WHOLE symbol universe:
  * a silent symbol contributes no input row, and a globally-silent window
  * appears in no micro-batch at all, so a per-symbol stateful operator
  * cannot see what is missing. Solved here with two standard streaming
  * tools:
  *
  *   - '''universe sharding''': the processor keys by `hash(symbol) %
  *     numShards`, and each shard owns the slice of the expected-symbol
  *     list that hashes to it. A shard sees every candle of its symbols
  *     and KNOWS which of its symbols stayed silent — completeness becomes
  *     a per-shard property. State per shard = one [[AtrState]] per owned
  *     symbol (the ATR recursion state doubles as the gap-fill last-close
  *     seed, exactly the reference's pairing of gap_fill.py:29-88 with
  *     atr_engine.py:194-242). `numShards` is the stream's one
  *     parallelism setting: [[start]] runs every stateful stage (the
  *     window aggregate, this processor) and the sink jobs on `numShards`
  *     partitions, whatever the session's `spark.sql.shuffle.partitions`.
  *     The default, 1, holds the reference's whole 178-symbol universe in
  *     one state store; raise it only when one store's per-batch work
  *     outgrows a core (README, "when to raise numShards").
  *   - '''timer-driven sweeps''': window finalization is read off the
  *     event-time watermark. Each invocation sweeps every still-unswept
  *     window whose end the watermark has passed — folding the window's
  *     real candles and synthesizing flat gap candles (o=h=l=c=prev close,
  *     tick_count=0) for seeded-but-silent symbols — then registers an
  *     event-time timer for the next window boundary, so fully-silent
  *     shards (and globally-silent windows, the reference's clock-tick
  *     case, main.py:231-265) keep sweeping as the watermark advances.
  *
  * Windows arrive already-finalized (append-mode window aggregation emits a
  * window exactly once, when the watermark closes it), so a swept window
  * can never receive a late real candle; Spark delivers input rows before
  * expired timers within a batch, so the data path always folds before the
  * sweep path synthesizes.
  *
  * On the fixture day the output is byte-identical to the batch replay
  * ([[graft.app.BatchReplay]]) of the same ticks, pinned by
  * ChainedPipelineSpec. The one difference in general is the sweep bound:
  * this path synthesizes through the WATERMARK (the reference's clock
  * semantics: every elapsed window gets a row), where the batch replay
  * densifies only its observed window range. On cold start unseeded
  * symbols are dropped (gap_fill.py:70-75), so the first swept window per
  * shard is its first observed candle window.
  *
  * Restart story: the whole chain (offsets, window-agg state, per-shard
  * ATR/seed state, timers) lives in the streaming checkpoint, so no state
  * is kept outside it; the sink's id anti-join absorbs replayed batches.
  * The checkpoint also fixes the state partition count: Spark records it
  * in the offset log and a restart reuses it. A checkpoint written with
  * 8 shards (the default before it became 1) restarts only with
  * `numShards = 8`; [[guardRouting]] refuses any other value.
  */
object ChainedPipeline {

  /** Stable symbol → shard routing (also how the expected-symbol list is
    * sliced, so routing and ownership can never disagree). */
  def shardOf(symbol: String, numShards: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(symbol), numShards)

  /** Gap-fill + ATR over one universe shard; see object scaladoc.
    *
    * `schedule` day-bounds the sweep: synthesis happens only for windows
    * inside a trading session, so a multi-day run never densifies the
    * overnight/weekend gap (without it, Monday's first tick would advance
    * the watermark across the weekend and synthesize ~190 flat candles per
    * seeded symbol per night — the reference gap-filler is an intraday
    * process, gap_fill.py resets per session). ATR/seed state still
    * carries ACROSS sessions (the previous day's close seeds the next
    * day's first gap), matching [[graft.operators.GapFill.fillSessions]]'s
    * day-chained seeding. With `schedule=None` the sweep densifies every
    * window through the watermark — the single-session deployment shape
    * the byte-identical specs pin.
    */
  class ChainedProcessor(expectedSymbols: Seq[String], numShards: Int,
                         zoneId: String, intervalMinutes: Int,
                         schedule: Option[graft.time.SessionSchedule] = None)
      extends StatefulProcessor[Int, Candle, EnrichedCandle] {

    private val intervalMs = intervalMinutes * 60000L

    @transient private var atr: MapState[String, AtrState] = _
    @transient private var lastSwept: ValueState[Long] = _ // window-start ms
    @transient private var nextTimer: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      atr = getHandle.getMapState[String, AtrState]("atr",
        Encoders.STRING, Encoders.product[AtrState], TTLConfig.NONE)
      lastSwept = getHandle.getValueState[Long]("lastSwept",
        Encoders.scalaLong, TTLConfig.NONE)
      nextTimer = getHandle.getValueState[Long]("nextTimer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    /** shard → owned symbols, precomputed once at construction: sweeps run
      * per input batch AND per timer per shard, so ownership must not
      * re-filter (O(universe)) or re-sort the full symbol list per call.
      */
    private val ownedByShard: Map[Int, IndexedSeq[String]] =
      expectedSymbols.sorted.toIndexedSeq.groupBy(shardOf(_, numShards))

    private def owned(shard: Int): IndexedSeq[String] =
      ownedByShard.getOrElse(shard, IndexedSeq.empty)

    private def fmt(wMs: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneId.of(zoneId))
        .format(java.time.Instant.ofEpochMilli(wMs))

    /** Process every unswept window with end ≤ watermark, in order:
      * fold the window's real candles, synthesize for seeded silents.
      */
    private def sweep(shard: Int, incoming: IndexedSeq[Candle],
                      watermarkMs: Long): Iterator[EnrichedCandle] = {
      val syms = owned(shard)
      val real: Map[(String, Long), Candle] =
        incoming.map(c => (c.symbol, c.wkey / 1000L) -> c).toMap
      // largest grid-aligned window start whose window the watermark closed
      val maxClosed = Math.floorDiv(watermarkMs - intervalMs, intervalMs) * intervalMs
      val through = (maxClosed +: incoming.map(_.wkey / 1000L)).max
      val from =
        if (lastSwept.exists()) lastSwept.get() + intervalMs
        else if (incoming.nonEmpty) incoming.map(_.wkey / 1000L).min
        else return Iterator.empty // timer on a shard that never saw data
      if (from > through) return Iterator.empty
      val realWins: Set[Long] = real.keySet.map(_._2)
      val out = IndexedSeq.newBuilder[EnrichedCandle]
      var w = from
      while (w <= through) {
        // synthesis only inside a session; real candles always fold (data
        // wins over the calendar — an off-schedule candle still enriches)
        val inSession = schedule.forall(_.windowInSession(w))
        if (inSession || realWins.contains(w)) syms.foreach { sym =>
          real.get((sym, w)) match {
            case Some(c) =>
              val st = Option(atr.getValue(sym)).getOrElse(AtrState.empty)
              val (next, tr, a) = Atr.step(st, c.high, c.low, c.close)
              atr.updateValue(sym, next)
              out += EnrichedCandle(c.symbol, c.wkey, c.window_start, c.open,
                c.high, c.low, c.close, c.tick_count, c.gap_filled, Some(tr), a)
            case None if inSession =>
              Option(atr.getValue(sym)).flatMap(st => st.prevClose.map(_ -> st))
                .foreach { case (pc, st) =>
                  val (next, tr, a) = Atr.step(st, pc, pc, pc)
                  atr.updateValue(sym, next)
                  out += EnrichedCandle(sym, w * 1000L, fmt(w), pc, pc, pc, pc,
                    0L, gap_filled = true, Some(tr), a)
                }
            case None => ()
          }
        }
        w += intervalMs
      }
      lastSwept.update(through)
      out.result().iterator
    }

    /** Keep exactly one pending timer: the end of the first unswept window
      * (`through` + 2×interval = next window's close). */
    private def armTimer(throughMs: Long): Unit = {
      val desired = throughMs + 2 * intervalMs
      val current = if (nextTimer.exists()) nextTimer.get() else -1L
      if (current != desired) {
        if (current > 0) getHandle.deleteTimer(current)
        getHandle.registerTimer(desired)
        nextTimer.update(desired)
      }
    }

    override def handleInputRows(shard: Int, rows: Iterator[Candle],
                                 timerValues: TimerValues): Iterator[EnrichedCandle] = {
      val out = sweep(shard, rows.toIndexedSeq, timerValues.getCurrentWatermarkInMs())
      if (lastSwept.exists()) armTimer(lastSwept.get())
      out
    }

    override def handleExpiredTimer(shard: Int, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[EnrichedCandle] = {
      if (nextTimer.exists() && nextTimer.get() == expiredTimerInfo.getExpiryTimeInMs())
        nextTimer.clear() // this timer is spent; armTimer must not delete it
      val out = sweep(shard, IndexedSeq.empty, timerValues.getCurrentWatermarkInMs())
      if (lastSwept.exists()) armTimer(lastSwept.get())
      out
    }
  }

  /** Finalized-candle stream → gap-filled, ATR-enriched stream, all state
    * in the store. Requires the RocksDB state-store provider.
    *
    * @param schedule day-bounds the sweep for multi-day deployments (see
    *   [[ChainedProcessor]]); None = single-session shape, densify through
    *   the watermark
    */
  def enrich(candles: DataFrame, expectedSymbols: Seq[String],
             numShards: Int = 1, intervalMinutes: Int = 5,
             schedule: Option[graft.time.SessionSchedule] = None): Dataset[EnrichedCandle] = {
    val spark = candles.sparkSession
    import spark.implicits._
    val zone = spark.conf.get("spark.sql.session.timeZone")
    Atr.toCandleDS(candles)
      .groupByKey(c => shardOf(c.symbol, numShards))
      .transformWithState(
        new ChainedProcessor(expectedSymbols, numShards, zone, intervalMinutes,
          schedule),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Shard routing (`hash(symbol) % numShards`) AND the sweep's window
    * grid (interval, session timezone) are baked into checkpointed state:
    * each shard's MapState holds its owned symbols' ATR/seed rows, and
    * `lastSwept` / the pending timer / window keys all live on the
    * `intervalMinutes` grid in the session zone. Restarting a checkpoint
    * with a different `numShards` (or hash) would silently reassign
    * symbols to shards whose state lacks them; restarting with a
    * different `intervalMinutes` or timezone would silently misalign the
    * sweep grid against `lastSwept` and the checkpointed timers — the
    * same silent-state-corruption class. So the full descriptor is
    * persisted next to the checkpoint on first start and every later
    * start fails fast on any mismatch. Start a fresh checkpoint to
    * re-shard or re-grid (the sink's id anti-join absorbs the replay).
    *
    * A v1 descriptor (numShards+hash only, written before the grid fields
    * existed) is accepted when its fields match — the grid fields are
    * treated as unknown-legacy — and left in place; any v1 field mismatch
    * still fails fast.
    */
  private[graft] def guardRouting(spark: SparkSession,
                                  checkpointDir: String, numShards: Int,
                                  intervalMinutes: Int = 5): Unit = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft-routing.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zone = spark.conf.get("spark.sql.session.timeZone")
    val desc =
      s"""{"numShards":$numShards,"intervalMinutes":$intervalMinutes,""" +
        s""""timeZone":"$zone","hash":"murmur3-string/scala-2.13","routingVersion":2}"""
    if (fs.exists(p)) {
      val in = fs.open(p)
      val existing =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      // field-wise compare: a field absent from the persisted descriptor
      // (v1) is legacy-unknown and accepted; a present field must match
      def field(json: String, name: String): Option[String] =
        (s""""$name":("[^"]*"|[^,}]*)""").r.findFirstMatchIn(json).map(_.group(1))
      val mismatched = Seq("numShards", "intervalMinutes", "timeZone", "hash")
        .exists(k => field(existing, k).exists(_ != field(desc, k).get))
      if (mismatched)
        throw new IllegalStateException(
          s"checkpoint $checkpointDir holds state routed/gridded as $existing but " +
            s"this start is $desc — symbols would land on shards missing their " +
            "ATR/seed state, or the sweep grid would misalign against lastSwept " +
            "and the checkpointed timers. Keep numShards/intervalMinutes/timezone " +
            "stable for a checkpoint's lifetime, or start a fresh checkpoint dir.")
    } else {
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(desc.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The per-micro-batch sink body, factored out so specs can drive it
    * directly. The enriched batch is PERSISTED once up front: a foreachBatch
    * DataFrame re-executes the whole incremental plan on every action, and
    * this body takes several (the empty gate, the dedup scan's prune-bounds
    * agg, the anti-join count) — uncached, the stateful chain would
    * re-execute per action. With the cache, an empty batch costs exactly one
    * take(1)-shaped job and issues no writes.
    */
  private[graft] def sinkBatch(batch: DataFrame, nSymbols: Int,
                                   sinkDir: String, deadLetterDir: String): Unit = {
    val persisted = batch.persist()
    try {
      if (!persisted.isEmpty) {
        val spark = batch.sparkSession
        graft.sink.Schemas.initMetadata(spark, s"$sinkDir/../metadata", nSymbols)
        IdempotentSink.drainDeadLetters(spark, deadLetterDir, sinkDir,
          partitionCol = Some("dt"))
        val edgeRows = EdgeFormat.sheetRows(persisted,
          createdAt = java.time.Instant.now.toString)
        graft.sink.Schemas.validate(edgeRows, graft.sink.Schemas.MarketData, "market_data")
        val rows = edgeRows.withColumn("dt", substring(col("timestamp"), 1, 10))
        IdempotentSink.appendWithRetry(rows, sinkDir, deadLetterDir,
          maxRetries = 3, baseDelayMs = 100L, pruneCol = Some("timestamp"),
          partitionCol = Some("dt"))
      }
    } finally { persisted.unpersist(); () }
  }

  private val startLock = new Object

  /** Start a query with `spark.sql.shuffle.partitions = numShards`, so its
    * stateful stages run `numShards` partitions, not the session's count:
    * every partition loads and commits its own state store on every batch,
    * keys or not. Spark copies the session's conf when the query is
    * created and records the partition count in the offset log, so the
    * value is set only for the `start` call and then restored; the lock
    * keeps two starts from interleaving. A batch job another thread runs
    * on the session during the call sees `numShards` partitions.
    */
  def startSharded(spark: SparkSession, numShards: Int)(start: => StreamingQuery): StreamingQuery =
    startLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.getAll.get(key) // explicitly set, else None
      spark.conf.set(key, numShards.toLong)
      try start
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Full assembly: enrich chain in the state store, then a STATELESS
    * idempotent sink per micro-batch (edge format → declared-schema gate →
    * dt-partitioned dedup append), all on `numShards` partitions
    * ([[startSharded]]). Enrichment state lives only in the checkpoint, so
    * the sink reads no snapshot and commits no state.
    */
  def start(candles: DataFrame, expectedSymbols: Seq[String], sinkDir: String,
            deadLetterDir: String, checkpointDir: String,
            numShards: Int = 1,
            schedule: Option[graft.time.SessionSchedule] = None,
            intervalMinutes: Int = 5): StreamingQuery = {
    val spark = candles.sparkSession
    guardRouting(spark, checkpointDir, numShards, intervalMinutes)
    val writer = enrich(candles, expectedSymbols, numShards, intervalMinutes, schedule).toDF()
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sinkBatch(batch, expectedSymbols.size, sinkDir, deadLetterDir)
      }
    startSharded(spark, numShards)(writer.start())
  }
}
