package graft

import graft.streaming.{ChainedPipeline, StreamingPipeline}
import graft.time.SessionSchedule
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** Dev tool: scale probe for the streaming-native chained enrich path
  * (transformWithState on RocksDB) — the one component the batch-oriented
  * [[ScaleCheck]] cannot exercise. Pushes a synthetic multi-day universe
  * through [[ChainedPipeline.enrich]] (enrich only, noop sink: the probe
  * times the state path, not parquet IO) and reports per-micro-batch
  * durations, throughput, state-operator timings, and RocksDB state size
  * from the progress metrics. Each probe starts through
  * [[ChainedPipeline.startSharded]], as production does, so `shards` is
  * also the state partition count.
  *
  * Shape per day: 75 five-minute windows (default 09:15–15:30 session,
  * day-bounded by a weekday [[SessionSchedule]] so the overnight gap
  * proves itself skipped at scale); per window, 80% of symbols tick twice
  * and 20% stay silent (gap-fill synthesis from seeds); a post-close
  * sentinel closes each day's final window.
  *
  * Usage: runMain graft.StreamScaleCheck [symbols] [days] [shardsCsv]
  * e.g. 250 2 8,32 (the default) or 1000 2 1,8.
  */
object StreamScaleCheck {
  def main(args: Array[String]): Unit = {
    val nSymbols = args.headOption.map(_.toInt).getOrElse(250)
    val nDays = args.lift(1).map(_.toInt).getOrElse(2)
    val shardCounts = args.lift(2).getOrElse("8,32").split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val symbols = (1 to nSymbols).map(i => f"SYM$i%04d")
    val days = (0 until nDays).map(d => java.time.LocalDate.of(2026, 2, 2).plusDays(d))
    require(days.forall(_.getDayOfWeek.getValue <= 5), "probe days must be weekdays")
    val windowsPerDay = 75 // 09:15..15:25

    /** One day's ticks: per window, symbols with (symIdx + win) % 5 == 0
      * stay silent; the rest tick twice. Deterministic prices.
      */
    def dayTicks(day: java.time.LocalDate): IndexedSeq[(String, Double, Timestamp, Long)] = {
      val base = Timestamp.valueOf(s"$day 09:15:00").getTime
      var seq = 0L
      val out = IndexedSeq.newBuilder[(String, Double, Timestamp, Long)]
      for (w <- 0 until windowsPerDay; (s, i) <- symbols.zipWithIndex
           if (i + w) % 5 != 0; k <- 0 until 2) {
        seq += 1
        val t = base + w * 300000L + k * 120000L + (i % 60) * 1000L
        out += ((s, 100.0 + ((i * 7 + w * 3 + k) % 50), new Timestamp(t), seq))
      }
      out += (("SYM0001", 100.0,
        new Timestamp(Timestamp.valueOf(s"$day 15:30:01").getTime), seq + 1))
      out.result()
    }

    val schedule = Some(SessionSchedule.weekdays("UTC"))

    shardCounts.foreach { shards =>
      implicit val sqlCtx = spark.sqlContext
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sscale-$shards").toString
      val stream = MemoryStream[(String, Double, Timestamp, Long)]
      val candles = StreamingPipeline.ohlcCandles(
        stream.toDF().toDF("symbol", "ltp", "event_ts", "seq"),
        tsCol = "event_ts", symCol = "symbol", priceCol = "ltp", seqCol = "seq",
        watermarkDelay = "1 seconds")
      val writer = ChainedPipeline.enrich(candles, symbols, shards, schedule = schedule)
        .toDF().writeStream
        .format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
      val q = ChainedPipeline.startSharded(spark, shards)(writer.start())

      val t0 = System.nanoTime()
      var fed = 0L
      days.foreach { day =>
        // 5 chunks per day -> several micro-batches, sweeps mid-day
        dayTicks(day).grouped(nSymbols * 2 * 15 + 1).foreach { chunk =>
          stream.addData(chunk)
          fed += chunk.length
          q.processAllAvailable()
        }
      }
      val wallS = (System.nanoTime() - t0) / 1e9

      val progress = q.recentProgress.toIndexedSeq
      val out = progress.map(_.sink.numOutputRows).filter(_ > 0).sum
      val batchMs = progress.map(_.batchDuration).filter(_ > 0)
      val stateOps = progress.flatMap(_.stateOperators)
      // state-store commit time per batch, summed over the state operators
      val commitMs = progress.filter(_.batchDuration > 0)
        .map(_.stateOperators.map(_.commitTimeMs).sum)
      val updated = stateOps.map(_.numRowsUpdated).sum
      // max, not last: trailing watermark-only batches report empty metrics
      val stateRows = (-1L +: stateOps.map(_.numRowsTotal)).max
      val stateMem = (-1L +: stateOps.map(_.memoryUsedBytes)).max
      val rocksSize = (-1L +: stateOps.flatMap(op =>
        op.customMetrics.entrySet().iterator().asScala
          .filter(_.getKey == "rocksdbSstFileSize")
          .map(_.getValue.longValue()).toSeq)).max
      println(f"[stream-scale] symbols=$nSymbols days=$nDays shards=$shards " +
        f"ticks=$fed enriched=$out wall=$wallS%.1f s rate=${out / wallS}%.0f rows/s")
      println(f"[stream-scale]   batches=${batchMs.size} " +
        f"batchMs p50=${percentile(batchMs, 0.5)} max=${batchMs.max} " +
        f"commitMs p50=${percentile(commitMs, 0.5)} " +
        f"statePartitions=${stateOps.map(_.numShufflePartitions).distinct.mkString(",")} " +
        f"stateRowsUpdated=$updated stateRowsTotal=$stateRows " +
        f"stateMemBytes=$stateMem rocksSstBytes=$rocksSize")
      q.stop()
    }
    spark.stop()
  }

  private def percentile(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) -1L
    else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt))
}
