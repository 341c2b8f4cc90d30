package graft.sink

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent append sink with deterministic row IDs, anti-join dedup,
  * bounded-backoff retry, and a dead-letter directory.
  *
  * Reference semantics: /root/reference/modules/pipeline/write_pipeline.py —
  * deterministic ids (utils/id_generator.py:15-30), read-back of already
  * written ids + set-difference before append (write_pipeline.py:151-183,
  * 🔒3), retry with exponential backoff and row-count validation
  * (write_pipeline.py:199-255, 🔒6), failed batches parked in a fallback file
  * and drained before the next write (write_pipeline.py:257-326).
  *
  * Spark-first: the dedup is a `left_anti` join against a *pruned* scan of
  * the sink (filter on the batch's window range pushes down to parquet
  * partition/row-group pruning), append is one atomic
  * `write.mode(Append).parquet`, and the dead letter is itself a parquet dir
  * re-appended idempotently — exactly-once on top of at-least-once.
  */
object IdempotentSink {

  /** Deterministic row id `{symbol}_{yyyyMMdd_HHmm}` (id_generator.py:15-30):
    * the exactly-once key every sink row carries ([[EdgeFormat.sheetRows]]). */
  def rowId(symbol: Column, window: Column): Column =
    concat_ws("_", symbol, date_format(window, "yyyyMMdd_HHmm"))

  /** Append only rows whose id is not already present in the sink.
    * Returns the number of rows actually written.
    *
    * @param pruneCol when set (e.g. "timestamp"), the existing-ids scan is
    *   filtered to the batch's [min, max] range of that column — prunes
    *   parquet row groups via min/max stats (mirrors the reference's
    *   per-window dedup scan, sheets_client.py:128-148).
    * @param partitionCol when set (e.g. "dt"), appends are laid out with
    *   `partitionBy(partitionCol)` and the existing-ids scan filters on the
    *   batch's value range of that column — directory-level partition
    *   pruning, so the dedup read-back touches only the partitions a replay
    *   could collide with instead of listing the whole history. This is the
    *   100 TB posture; row-group stats alone still scan every file's footer.
    */
  def appendDedup(batch: DataFrame, sinkDir: String, idCol: String = "id",
                  pruneCol: Option[String] = None,
                  partitionCol: Option[String] = None): Long = {
    assertLayout(batch.sparkSession, sinkDir, partitionCol)
    val existing = existingIds(batch, sinkDir, idCol, pruneCol, partitionCol)
    val fresh = batch.join(existing, Seq(idCol), "left_anti").cache()
    try {
      val n = fresh.count()
      if (n > 0) {
        val writer = fresh.write.mode(SaveMode.Append)
        partitionCol match {
          case Some(pc) if fresh.columns.contains(pc) => writer.partitionBy(pc).parquet(sinkDir)
          case _ => writer.parquet(sinkDir)
        }
      }
      n
    } finally fresh.unpersist()
  }

  /** Guard against mixing flat and hive-partitioned layouts in one sink
    * directory: Spark cannot read a dir holding both loose parquet files
    * and `col=value/` subdirs, so an append that would create the mix
    * breaks every LATER read-back (and hence every later append's dedup
    * scan) — fail the write now instead of poisoning the sink. One
    * driver-side listStatus; no data is read.
    */
  private[graft] def assertLayout(spark: SparkSession, sinkDir: String,
                                  partitionCol: Option[String]): Unit = {
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    val entries = fs.listStatus(path)
    val flat = entries.exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    val onDiskCols = entries.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.contains("="))
      .map(_.split("=", 2).head).distinct
    partitionCol match {
      case Some(pc) =>
        if (flat) throw new IllegalStateException(
          s"sink $sinkDir holds flat parquet files but this append is partitioned by $pc; " +
            "a mixed layout is unreadable")
        onDiskCols.find(_ != pc).foreach(other =>
          throw new IllegalStateException(
            s"sink $sinkDir is partitioned by $other but this append partitions by $pc"))
      case None =>
        onDiskCols.headOption.foreach(pc =>
          throw new IllegalStateException(
            s"sink $sinkDir is partitioned by $pc but this append is unpartitioned; " +
              s"pass partitionCol=Some(\"$pc\") (a mixed layout is unreadable)"))
    }
  }

  /** The pruned existing-ids scan used by [[appendDedup]] — package-visible
    * so specs can assert partition pruning via `inputFiles`.
    */
  private[graft] def existingIds(batch: DataFrame, sinkDir: String, idCol: String,
                                 pruneCol: Option[String],
                                 partitionCol: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val keep = (pruneCol.toSeq ++ partitionCol).distinct
    val existingAll = readIdsWith(spark, sinkDir, idCol, keep)
    val cols = keep.filter(c =>
      batch.columns.contains(c) && existingAll.columns.contains(c))
    if (cols.isEmpty) existingAll.select(idCol)
    else {
      // ONE driver action computes every bound — a per-column agg would
      // re-execute the batch plan once per prune column
      val aggExprs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
      val bounds = batch.agg(aggExprs.head, aggExprs.tail: _*).head()
      cols.zipWithIndex.foldLeft(existingAll) { case (df, (c, i)) =>
        if (bounds.isNullAt(2 * i)) df
        else df.where(col(c) >= lit(bounds.get(2 * i)) && col(c) <= lit(bounds.get(2 * i + 1)))
      }.select(idCol)
    }
  }

  /** The sink's ids plus whichever of `extraCols` it holds. Only a missing
    * or never-written sink reads as empty: a sink whose rows lack `idCol`
    * fails the projection loudly, since an empty id set there would
    * re-append every row and break exactly-once.
    */
  private def readIdsWith(spark: SparkSession, dir: String, idCol: String,
                          extraCols: Seq[String]): DataFrame =
    readIfPresent(spark, dir) match {
      case Some(df) =>
        df.select((idCol +: extraCols.filter(df.columns.contains)).map(col): _*)
      case None =>
        import org.apache.spark.sql.types._
        val fields = StructField(idCol, StringType) ::
          extraCols.map(StructField(_, StringType)).toList
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
    }

  /** `dir` as one parquet relation, or None while it is missing or holds no
    * data files yet. Existence is checked on the FileSystem first: reading
    * a missing path makes Spark's metadata probe log a stack trace and the
    * read build an exception, which the market sink's per-batch
    * dead-letter check would pay on every batch.
    */
  private[graft] def readIfPresent(spark: SparkSession, dir: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) None
    else try Some(spark.read.parquet(dir)) catch { case _: AnalysisException => None }
  }

  /** appendDedup with retry/backoff and dead-letter fallback
    * (write_pipeline.py:199-285). Backoff base is in millis so tests run
    * fast; the reference uses 1/2/4/8/16 s.
    */
  def appendWithRetry(batch: DataFrame, sinkDir: String, deadLetterDir: String,
                      idCol: String = "id", maxRetries: Int = 5,
                      baseDelayMs: Long = 1000L,
                      pruneCol: Option[String] = None,
                      partitionCol: Option[String] = None): Either[Throwable, Long] = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxRetries) {
      try return Right(appendDedup(batch, sinkDir, idCol, pruneCol, partitionCol))
      catch {
        case e: Throwable =>
          last = e
          attempt += 1
          if (attempt < maxRetries)
            Thread.sleep(baseDelayMs * (1L << (attempt - 1)))
      }
    }
    // park the batch for a later drain. Park-and-continue (Left) holds ONLY
    // when the park succeeded: if the park fails too, the rows exist in
    // neither the sink nor the dead letter, and returning Left would let a
    // foreachBatch caller commit offsets over permanently lost data — so a
    // failed park rethrows, the stream halts, the checkpoint does not
    // advance, and the batch replays (at-least-once preserved).
    try {
      batch.write.mode(SaveMode.Append).parquet(deadLetterDir)
      Left(last)
    } catch {
      case e: Throwable =>
        val fatal = new RuntimeException(
          s"sink append failed after $maxRetries retries AND dead-letter park failed: ${e.getMessage}",
          last)
        fatal.addSuppressed(e)
        throw fatal
    }
  }

  /** Drain dead letters into the sink (idempotent re-append), then clear the
    * dead-letter dir. Run before each new batch (write_pipeline.py:287-326).
    */
  def drainDeadLetters(spark: SparkSession, deadLetterDir: String, sinkDir: String,
                       idCol: String = "id",
                       partitionCol: Option[String] = None): Long = {
    readIfPresent(spark, deadLetterDir) match {
      case None => 0L
      case Some(parked) =>
        val n = appendDedup(parked, sinkDir, idCol, partitionCol = partitionCol)
        // clear drained batches
        val path = new org.apache.hadoop.fs.Path(deadLetterDir)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
        n
    }
  }

  /** Append-only event log (`system_log`, schema_manager.py:137-164);
    * failures are swallowed — logging must never take down the pipeline.
    * One file per call: chatty callers should batch through [[logEvents]]
    * (the [[graft.streaming.Alerts.buffered]] channel does).
    */
  def logEvent(spark: SparkSession, dir: String, level: String, event: String,
               window: String, details: String): Unit =
    logEvents(spark, dir,
      Seq((java.time.Instant.now.toString, level, event, window, details)))

  /** Per-log-dir write lock: TWO log channels flushing the same dir from
    * different driver threads (e.g. a query listener's alert ladder and
    * the supervision loop reacting to the SAME failure) would otherwise
    * run two concurrent append jobs whose FileOutputCommitter staging
    * collides under one `_temporary` — the loser's rows vanish into the
    * swallowed-failure path. The event log is driver-side by design, so a
    * JVM-level lock (keyed by the dir string both channels share) is the
    * whole fix; cross-process writers should use distinct log dirs.
    */
  private val logLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def logLock(dir: String): Object =
    logLocks.computeIfAbsent(dir, _ => new Object)

  /** Batched event-log append: every row (timestamp, level, event, window,
    * details) lands in ONE parquet file per call — the per-micro-batch
    * shape, instead of one file per event. Timestamps are caller-stamped
    * (at dispatch time, not flush time). Failures are swallowed.
    */
  def logEvents(spark: SparkSession, dir: String,
                rows: Seq[(String, String, String, String, String)]): Unit =
    if (rows.nonEmpty) logLock(dir).synchronized {
      try {
        import spark.implicits._
        rows.toDF("timestamp", "level", "event", "window", "details")
          .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
      } catch { case _: Throwable => () }
    }

  /** Size-triggered compaction sweep for the event log: once the dir holds
    * more than `maxFiles` part files, rewrite that snapshot of files as
    * one. The compacted file lands BEFORE the originals are deleted, so a
    * crash mid-sweep can duplicate log rows but never lose them — the
    * right failure side for a diagnostic log (and the reason this sweep is
    * only for system_log: the dedup sink's id contract forbids duplicate
    * rows). Files appended concurrently with the sweep are untouched —
    * only the snapshotted list is compacted and deleted. Failures
    * swallowed, like every other log-channel operation.
    */
  def compactLog(spark: SparkSession, dir: String, maxFiles: Int = 64): Unit =
    logLock(dir).synchronized {
      try {
        val path = new org.apache.hadoop.fs.Path(dir)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(path)) {
          val parts = fs.listStatus(path)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
          if (parts.length > maxFiles) {
            spark.read.parquet(parts.map(_.toString).toIndexedSeq: _*)
              .coalesce(1).write.mode(SaveMode.Append).parquet(dir)
            parts.foreach(p => fs.delete(p, false))
          }
        }
      } catch { case _: Throwable => () }
    }
}
