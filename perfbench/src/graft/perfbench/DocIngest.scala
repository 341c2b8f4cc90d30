package graft.perfbench

import graft.app.IngestRunner
import graft.operators.Dedup
import graft.sink.EpochKeyedStore
import graft.streaming.DedupStream
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `doc_ingest`: incremental near-duplicate ingest through
  * [[IngestRunner.startDocs]] — `DedupStream` over the `EpochKeyedStore`
  * index with deferred compaction — fed one staged parquet file per
  * micro-batch in the same closed loop as `market_live`.
  *
  * The stream starts on an index that already holds the generated history
  * (one delta per store per history batch, as after a restart), so after
  * the warm-up batch the stores sit at their fold threshold: the first
  * timed batch's `maintain` starts a background fold of all three stores,
  * and the next batch runs beside it. Write, probe and fold costs all
  * show.
  *
  * Correctness: every planted near-copy pair whose copy was fed is in the
  * pairs sink, no pair id appears twice, and the id ledger holds exactly
  * the history and fed doc_ids, each once.
  *
  * Traced run: beside the production stream, the same batches are driven
  * through `DedupStream.processBatch` and `IndexStores.maintain` directly
  * on a copy of the preloaded index, each call timed, with the store
  * layout read from disk between batches and the fold's jobs timed by the
  * listener.
  */
object DocIngest {
  val WarmBatches = 1
  /** The first timed batch starts the fold and the second runs beside it,
    * so every run times at least these two. */
  val MinTimedBatches = 2
  // IngestRunner.startDocs defaults
  private val (n, numPerms, bands, threshold) = (5, 64, 16, 0.5)
  /** Batch b holds doc ids b * BatchIds + i (gen.py). */
  private val BatchIds = 1000000L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val files = Main.staged(ctx)
    val docsIn = readCounts(s"${ctx.dataDir}/counts.json")
    val root = s"${ctx.workDir}/prod"
    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))
    val cfg = IngestRunner.Config(s"$root/index", s"$root/pairs", s"$root/ckpt", s"$root/system_log")
    val p0 = System.currentTimeMillis()
    val historyBatches =
      preload(spark, cfg.indexDir, spark.read.parquet(s"${ctx.dataDir}/history.parquet"))
    val preloadMs = System.currentTimeMillis() - p0
    val traced = ctx.tracer.map { t =>
      copyTree(Paths.get(cfg.indexDir), Paths.get(ctx.workDir, "traced", "index"))
      new TracedIndex(spark, t, s"${ctx.workDir}/traced")
    }
    val running = IngestRunner.startDocs(spark.readStream.schema(docSchema).parquet(src), cfg)
    val startedMs = System.currentTimeMillis()

    var k = 0
    var failed = 0
    def step(): Option[Double] = {
      val f = files(k)
      k += 1
      try {
        Main.publish(f, src, copy = traced.isDefined)
        val t0 = System.nanoTime()
        running.query.processAllAvailable()
        val ms = (System.nanoTime() - t0) / 1e6
        traced.foreach(_.batch(f))
        Some(ms)
      } catch {
        case e: Exception =>
          System.err.println(s"[doc_ingest] batch ${k - 1} failed: $e")
          failed += 1
          None
      }
    }
    ctx.tracer.foreach(_.on = false)
    val warm = (0 until WarmBatches).flatMap(_ => step())
    ctx.tracer.foreach(_.on = true)
    traced.foreach(_.reset())
    val warmEndMs = System.currentTimeMillis()
    val first = k
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val samples = Vector.newBuilder[Double]
    while ((System.nanoTime() < deadline || k - first < MinTimedBatches) && k < files.size &&
           failed == 0)
      step().foreach(samples += _)
    val opsMs = samples.result()
    val docs = docsIn.slice(first, k).sum
    val loopEndMs = System.currentTimeMillis()
    running.stop()

    val (incorrect, checks) = check(ctx, root)
    val checkedMs = System.currentTimeMillis()
    Outcome(opsMs, docs, failed, incorrect, warmEndMs,
      Map("doc_batch_p50_ms" -> Stats.median(opsMs),
        "docs_per_s" -> docs / (opsMs.sum / 1000.0),
        "batches_timed" -> opsMs.size.toDouble),
      traced.map(_.metrics(opsMs, ctx.cpus)).getOrElse(Map.empty),
      checks ++ Map("history_batches" -> historyBatches, "preload_ms" -> preloadMs,
        "warm_ms" -> warm, "started_ms" -> startedMs, "loop_end_ms" -> loopEndMs,
        "checked_ms" -> checkedMs))
  }

  private def readCounts(path: String): IndexedSeq[Long] =
    "\\d+".r.findAllIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(_.toLong).toIndexedSeq

  /** Planted pairs present, pair ids unique, ledger == history + fed ids.
    * Returns the number of batches found wrong. */
  private def check(ctx: Ctx, root: String): (Int, Map[String, Any]) = {
    val spark = ctx.spark
    import spark.implicits._
    val fed = spark.read.parquet(s"$root/src").select("doc_id")
    val fedIds = fed.as[Long].collect().toSet
    val planted = "\\[(\\d+),\\s*(\\d+)\\]".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(ctx.dataDir, "planted.json")), "UTF-8"))
      .map(m => (m.group(1).toLong, m.group(2).toLong))
      .filter(p => fedIds.contains(p._2)).toSeq
    val pairs = spark.read.parquet(s"$root/pairs")
    val got = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val missing = planted.filterNot(p => got.contains(p))
    val dupIds = pairs.groupBy("id").count().where(col("count") > 1).count()
    val indexed = fed.union(spark.read.parquet(s"${ctx.dataDir}/history.parquet").select("doc_id"))
    val ledger = new EpochKeyedStore(s"$root/index/ids", mergeKeys = Seq("doc_id"))
      .read(spark).map(_.select("doc_id")).getOrElse(spark.emptyDataset[Long].toDF("doc_id"))
    val (nLedger, nDistinct, nIndexed) =
      (ledger.count(), ledger.distinct().count(), indexed.count())
    val ledgerOk = nLedger == nDistinct && nLedger == nIndexed && indexed.exceptAll(ledger).isEmpty
    val badBatches = missing.map(_._2 / BatchIds).distinct.size +
      (if (dupIds > 0) 1 else 0) + (if (ledgerOk) 0 else 1)
    if (badBatches > 0)
      System.err.println(s"[doc_ingest] correctness: ${missing.size} planted pair(s) missing, " +
        s"$dupIds duplicated pair id(s), ledger $nLedger rows / $nDistinct distinct / " +
        s"$nIndexed history + fed")
    (badBatches, Map("planted_checked" -> planted.size, "planted_missing" -> missing.size,
      "pairs" -> got.size, "dup_pair_ids" -> dupIds, "ledger_rows" -> nLedger,
      "indexed_docs" -> nIndexed))
  }

  /** The band rows `DedupStream.processBatch` indexes for a batch's
    * signatures: MinHash band keys plus their key bucket. */
  private def bandRows(sigs: DataFrame): DataFrame =
    Dedup.bandKeys(sigs, numPerms, bands, stringKey = true)
      .withColumn("kb", pmod(xxhash64(col("key")), lit(DedupStream.KeyBuckets)))

  /** Index `history` the way `DedupStream.processBatch` ends a batch —
    * bands, then sigs, then the id ledger — one delta per store per
    * history batch, and return the number of history batches. No fold
    * starts: only `maintain` folds these stores. */
  private def preload(spark: SparkSession, indexDir: String, history: DataFrame): Int = {
    import spark.implicits._
    val stores = DedupStream.epochStores(indexDir, deferCompaction = true)
    val sigs = Dedup.minhashSignatures(history, n, numPerms)
      .withColumn("h", (col("doc_id") / BatchIds).cast("long")).cache()
    try {
      val hs = sigs.select("h").distinct().as[Long].collect().sorted
      hs.foreach { h =>
        val s = sigs.where(col("h") === h).drop("h").repartition(col("doc_id"))
        stores.bands.upsert(bandRows(s), Seq("doc_id", "band"))
        stores.sigs.upsert(s, Seq("doc_id"))
        stores.ids.append(s.select("doc_id"))
      }
      hs.length
    } finally { sigs.unpersist(); () }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.toArray.map(_.asInstanceOf[Path]).foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  /** The same batches driven through `processBatch` + `maintain` directly. */
  private final class TracedIndex(spark: SparkSession, t: Tracer, root: String) {
    private val indexDir = s"$root/index"
    private val stores = DedupStream.epochStores(indexDir, deferCompaction = true)
    private val sparkTrace = SparkTrace.attach(spark)
    private val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    private def tagged[T](tag: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(SparkTrace.TagKey, tag)
      try body finally spark.sparkContext.setLocalProperty(SparkTrace.TagKey, null)
    }
    private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val folds = mutable.Set.empty[String]
    private var known = Map.empty[String, Long]
    private var batches = 0

    def reset(): Unit = {
      counts.clear(); folds.clear(); batches = 0; opWindows.clear(); sparkTrace.reset()
    }

    def batch(file: Path): Unit = {
      // candidates the batch's probe will see, counted against the
      // pre-batch index (outside the timed operation)
      val cand = candidates(spark.read.parquet(file.toString))
      val w0 = System.currentTimeMillis()
      val (_, _, ms) = t.op("batch") {
        val b = t.span("dedup.input")(spark.read.parquet(file.toString).persist())
        try {
          val docs = t.span("dedup.input")(b.count())
          val written = t.span("dedup.batch")(tagged("dedup")(
            DedupStream.processBatch(b, stores, s"$root/pairs", n, numPerms, bands, threshold)))
          counts("dedup.pairs_written") += written
          counts("docs") += docs
        } finally { b.unpersist(); () }
        // maintain runs no job itself; a fold it starts inherits this tag
        t.span("store.maintain")(tagged("fold")(stores.maintain(spark)))
      }
      opWindows += ((w0, System.currentTimeMillis()))
      counts("traced_ms") += ms
      counts("dedup.candidates") += cand
      val r0 = System.nanoTime()
      Seq(stores.ids, stores.bands, stores.sigs).foreach(_.read(spark).foreach(_.count()))
      counts("store.read_ms") += (System.nanoTime() - r0) / 1e6
      val now = files()
      counts("store.bytes_written") += now.collect { case (p, s) if !known.contains(p) => s }.sum
      known = now
      counts("store.deltas_pending") += Seq("ids", "bands", "sigs").map(pending).sum
      batches += 1
    }

    private def candidates(batch: DataFrame): Long = {
      val nb = bandRows(Dedup.minhashSignatures(batch, n, numPerms))
      val nn = nb.as("a").join(nb.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      val nh = stores.bands.read(spark).map { idx =>
        nb.as("a").join(idx.as("b"), col("a.band") === col("b.band") &&
          col("a.kb") === col("b.kb") && col("a.key") === col("b.key"))
          .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      }
      nh.fold(nn)(nn.union).distinct().count()
    }

    private def files(): Map[String, Long] = {
      val p = Paths.get(indexDir)
      if (!Files.exists(p)) Map.empty
      else {
        val s = Files.walk(p)
        try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toMap
        finally s.close()
      }
    }

    private def committed(store: String, tier: String): Seq[Long] = {
      val p = Paths.get(indexDir, store, tier)
      if (!Files.exists(p)) Nil
      else {
        val s = Files.list(p)
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(d => Files.exists(d.resolve("_COMMIT")))
          .flatMap(d => d.getFileName.toString.stripPrefix("epoch=").toLongOption).toSeq
        finally s.close()
      }
    }

    /** Committed deltas above the newest committed base or merge epoch;
      * also records every fold (base or merge epoch) seen so far. */
    private def pending(store: String): Int = {
      val floors = Seq("base", "merge").flatMap { tier =>
        val es = committed(store, tier)
        es.foreach(e => folds += s"$store/$tier/$e")
        es
      }
      val floor = (-1L +: floors).max
      committed(store, "delta").count(_ > floor)
    }

    def metrics(untraced: Seq[Double], cores: Int): Map[String, Double] = {
      val nb = math.max(1, batches).toDouble
      val docs = math.max(1.0, counts("docs"))
      val input = t.totalMs("dedup.input")
      val dedup = t.totalMs("dedup.batch")
      val maintain = t.totalMs("store.maintain")
      val traced = counts("traced_ms")
      // let a fold still running finish, so its jobs and epoch count
      Seq(stores.ids, stores.bands, stores.sigs).foreach {
        case s: EpochKeyedStore => s.awaitMaintenance(spark)
        case _ => ()
      }
      Seq("ids", "bands", "sigs").foreach(pending)
      sparkTrace.quiesce()
      sparkTrace.detach()
      val foldJobs = sparkTrace.folds.asScala.toSeq.filter(_._1 == "fold")
      SparkTrace.execMetrics(sparkTrace, Set("dedup"), sparkTrace.plansWithin(opWindows.toSeq),
        nb, traced, cores) ++ Map(
        "dedup.batch_ms" -> dedup / nb,
        "dedup.pairs_written" -> counts("dedup.pairs_written"),
        "dedup.candidates" -> counts("dedup.candidates"),
        "store.maintain_ms" -> maintain / nb,
        "store.read_ms" -> counts("store.read_ms") / nb,
        "store.deltas_pending" -> counts("store.deltas_pending") / nb,
        "store.folds_completed" -> folds.size.toDouble,
        "store.fold_jobs" -> foldJobs.size.toDouble,
        "store.fold_job_ms" -> foldJobs.map(j => (j._3 - j._2).toDouble).sum,
        "store.fold_wall_ms" -> (if (foldJobs.isEmpty) 0.0
                                 else (foldJobs.map(_._3).max - foldJobs.map(_._2).min).toDouble),
        "store.bytes_written_per_doc" -> counts("store.bytes_written") / docs,
        "store.files" -> files().size.toDouble,
        "layer.input_ms" -> input / nb,
        "layer.dedup_ms" -> dedup / nb,
        "layer.store_ms" -> maintain / nb,
        "layer.driver_ms" -> (traced - input - dedup - maintain) / nb,
        "trace.untraced_op_ms" -> Stats.mean(untraced),
        "trace.traced_op_ms" -> traced / nb,
        "trace.overhead_ms" -> (traced / nb - Stats.mean(untraced)))
    }
  }
}
