package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs and scratch space. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    dataDir: String,
    workDir: String,
    cpus: Int,
    tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
}

/** What a workload reports back.
  *
  * @param opsMs latency of every timed operation (window, batch)
  * @param items units of work the timed operations completed (rows
  *   committed, documents indexed)
  * @param warmEndMs wall clock (epoch ms) when warm-up ended, i.e. just
  *   before the first timed operation
  * @param incorrect timed operations a correctness gate found wrong
  */
final case class Outcome(
    opsMs: Seq[Double],
    items: Long,
    failed: Int,
    incorrect: Int,
    warmEndMs: Long,
    workloadMetrics: Map[String, Double],
    perLayer: Map[String, Double] = Map.empty,
    notes: Map[String, Any] = Map.empty)

/** Benchmark JVM entry point, launched by `run.py` (never by hand):
  *
  *   --workload market_live|doc_ingest --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR --out FILE [--trace-out FILE]
  *
  * Runs one workload on `local[cpus]` and writes one JSON result file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cpus = opt.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = opt("work")
    Files.createDirectories(Paths.get(work))
    val runId = s"$workload-${opt("seed")}-${java.util.UUID.randomUUID().toString.take(8)}"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer(runId)) else None
    val ctx = Ctx(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("data"), work, cpus, tracer)
    val out = workload match {
      case "market_live" => MarketLive.run(ctx)
      case "doc_ingest" => DocIngest.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val context = Map(
      "cpus" -> cpus,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "run_id" -> runId)
    tracer.foreach(_.write(opt("trace-out"), out.perLayer, Map("context" -> context,
      "workload" -> workload, "seed" -> ctx.seed)))
    spark.stop()
    Json.write(opt("out"), Map(
      "ops_ms" -> out.opsMs,
      "items" -> out.items,
      "failed" -> out.failed,
      "incorrect" -> out.incorrect,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "warm_end_ms" -> out.warmEndMs,
      "peak_rss_mb" -> peakRssMb(),
      "context" -> context,
      "workload_metrics" -> out.workloadMetrics,
      "per_layer" -> out.perLayer,
      "notes" -> out.notes))
  }

  /** VmHWM of this process, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Staged input files (one per operation), in feed order. */
  def staged(ctx: Ctx): IndexedSeq[Path] = {
    val s = Files.list(Paths.get(ctx.dataDir, "stage"))
    try s.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString).toIndexedSeq
    finally s.close()
  }

  /** Publish a staged file into a streaming source directory in one atomic
    * rename (the file source never sees a partial file). With `copy`, the
    * staged file stays put for a second consumer. */
  def publish(file: Path, srcDir: String, copy: Boolean = false): Unit = {
    val dst = Paths.get(srcDir, file.getFileName.toString)
    if (copy) {
      val tmp = Paths.get(srcDir, "." + file.getFileName.toString + ".tmp")
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    } else Files.move(file, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Total bytes and regular-file count under a directory (0 when absent). */
  def du(dir: String, suffix: String = ""): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.toArray.map(_.asInstanceOf[Path])
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        (files.map(Files.size).sum, files.length.toLong)
      } finally s.close()
    }
  }
}
