package graft

import graft.streaming.DedupStream
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class DedupStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today " +
    "while morning light spreads across the valley and distant hills glow softly under a pale winter sun " +
    "as birds begin their familiar songs in the tall oak trees beside the old stone bridge"
  private val nearDup = base.replace("quiet", "silent")
  private val other = "completely different words about spark catalyst optimizer plans and shuffles everywhere"

  private def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  /** The cross-batch + replay scenario every backend must pass identically:
    * batch 1 indexes two docs; batch 2 finds a cross-batch near-dup pair
    * via the persisted index; a replay of batch 2 is a complete no-op.
    */
  private def runScenario(stores: DedupStream.IndexStores, pairsDir: String): Unit = {
    val w1 = DedupStream.processBatch(batch(1L -> base, 3L -> other),
      stores, pairsDir, n = 5, numPerms = 64, bands = 16, threshold = 0.3)
    assert(w1 === 0L)
    assert(stores.sigs.read(spark).get.count() === 2L)

    val w2 = DedupStream.processBatch(batch(2L -> nearDup, 4L -> other),
      stores, pairsDir, n = 5, numPerms = 64, bands = 16, threshold = 0.3)
    assert(w2 === 2L)
    val pairs = spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))

    // replay of batch 2 (checkpoint recovery): nothing recomputed, nothing
    // duplicated — docs are already indexed, pairs already written
    val w3 = DedupStream.processBatch(batch(2L -> nearDup, 4L -> other),
      stores, pairsDir, n = 5, numPerms = 64, bands = 16, threshold = 0.3)
    assert(w3 === 0L)
    assert(spark.read.parquet(pairsDir).count() === 2L)
    assert(stores.sigs.read(spark).get.count() === 4L)
    assert(stores.ids.read(spark).get.distinct().count() === 4L)
    assert(stores.ids.read(spark).get.count() === 4L)
    assert(stores.bands.read(spark).get.count() === 4L * 16)
  }

  test("incremental dedup dataflow: epoch-store default backend") {
    val root = Files.createTempDirectory("graft-dstream-e").toString
    val indexDir = s"$root/index"
    runScenario(DedupStream.epochStores(indexDir), s"$root/pairs")
    // durable layout: per-batch delta epochs, each published by _COMMIT
    val deltas = new java.io.File(s"$indexDir/sigs/delta").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(deltas.nonEmpty && deltas.forall(_.startsWith("epoch=")))
    assert(deltas.forall(d =>
      new java.io.File(s"$indexDir/sigs/delta/$d/_COMMIT").exists()))
    // band DELTAS are flat (every epoch-store delta is): a partitioned
    // delta write fans one batch into |bands × kb| tiny files whose commit
    // dominated the batch; the hive layout belongs to the fold tiers
    val bandDelta = new java.io.File(s"$indexDir/bands/delta").listFiles()
      .filter(_.isDirectory).head
    assert(!bandDelta.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("band=")))
    // ... and reappears on the compacted base, where pruning pays off
    val bands = DedupStream.epochStores(indexDir).bands
    bands.asInstanceOf[graft.sink.EpochKeyedStore].compact(spark)
    val base = new java.io.File(s"$indexDir/bands/base").listFiles()
      .filter(_.isDirectory).head
    assert(base.listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("band=")))
  }

  test("incremental dedup dataflow: in-memory true-upsert backend") {
    val root = Files.createTempDirectory("graft-dstream-m").toString
    runScenario(DedupStream.IndexStores(
      ids = new graft.sink.InMemoryKeyedStore,
      bands = new graft.sink.InMemoryKeyedStore,
      sigs = new graft.sink.InMemoryKeyedStore), s"$root/pairs")
  }

  test("band-store probe scans only the batch's (band, kb) partitions") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-dprune").toString
    val (indexDir, pairsDir) = (s"$root/index", s"$root/pairs")
    val stores = DedupStream.epochStores(indexDir)
    DedupStream.processBatch(batch(1L -> base, 3L -> other),
      stores, pairsDir, n = 5, numPerms = 64, bands = 16, threshold = 0.3)
    // fold the flat delta into the hive-partitioned BASE — deltas are
    // deliberately unpartitioned (O(batch), row-filtered), so directory
    // pruning is a property of the folded tiers
    stores.bands.asInstanceOf[graft.sink.EpochKeyedStore].compact(spark)
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$indexDir/bands"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    // probe with a copy of doc 1: its (band, kb) combos miss most of the
    // unrelated doc 3's buckets, so the pruned scan must list fewer files —
    // THROUGH the epoch store's merge window (band, kb are merge keys, so
    // the partition predicate pushes below it)
    val sigs = graft.operators.Dedup.minhashSignatures(batch(5L -> base), 5, 64)
    val nb = graft.operators.Dedup.bandKeys(sigs, 64, 16, stringKey = true)
      .withColumn("kb", pmod(xxhash64(col("key")), lit(DedupStream.KeyBuckets)))
    // AQE off: the merge window's exchange would wrap the scan in a query
    // stage the metric collection below cannot see
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = DedupStream.pruneToBatchCombos(stores.bands.read(spark).get, nb)
      // collect() (not count()) so the metrics below come from THIS plan
      val hits = pruned.collect()
      assert(hits.length >= 16) // doc 1's 16 identical band rows are all retained
      val scans = pruned.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val scanned = scans.map(_.metrics("numFiles").value).sum
      assert(scanned > 0 && scanned < totalFiles,
        s"scanned $scanned of $totalFiles files — partition pruning did not engage")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("decontamination gate: hits are quarantined, never indexed, and the replay is a no-op") {
    val root = Files.createTempDirectory("graft-dgate").toString
    val stores = DedupStream.epochStores(s"$root/index")
    val benchSpan = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = batch(100L -> s"benchmark question text $benchSpan with answer choices")
    val contaminated = s"leading words then $benchSpan trailing tail words"
    val gate = DedupStream.ContaminationGate(bench, s"$root/quarantine",
      systemLogDir = Some(s"$root/syslog"))
    val w = DedupStream.processBatch(
      batch(1L -> base, 2L -> nearDup, 9L -> contaminated),
      stores, s"$root/pairs", n = 5, numPerms = 64, bands = 16, threshold = 0.3,
      gate = Some(gate))
    // the clean near-dup pair still lands; the contaminated doc is out
    assert(w === 1L)
    assert(spark.read.parquet(s"$root/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    // quarantined with its overlap count, and excluded from EVERY index table
    val quarantine = spark.read.parquet(s"$root/quarantine")
    assert(quarantine.select("doc_id").as[Long].collect().toSeq === Seq(9L))
    assert(quarantine.select("n_shared").as[Long].head() === 1L)
    assert(stores.ids.read(spark).get.as[Long].collect().toSet === Set(1L, 2L))
    assert(stores.sigs.read(spark).get.select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(stores.bands.read(spark).get.where($"doc_id" === 9L).count() === 0L)
    // the gate's WARNING row landed in the system log
    val log = spark.read.parquet(s"$root/syslog")
    assert(log.where($"event" === "decontamination_gate").count() === 1L)
    assert(log.where($"event" === "decontamination_gate")
      .select("details").as[String].head().contains("quarantined=1"))
    // replay (checkpoint recovery): indexed docs skip via the ledger; the
    // contaminated doc re-gates onto the id-deduped quarantine — no-op
    val w2 = DedupStream.processBatch(
      batch(1L -> base, 2L -> nearDup, 9L -> contaminated),
      stores, s"$root/pairs", n = 5, numPerms = 64, bands = 16, threshold = 0.3,
      gate = Some(gate))
    assert(w2 === 0L)
    assert(spark.read.parquet(s"$root/quarantine").count() === 1L)
    assert(spark.read.parquet(s"$root/pairs").count() === 1L)
  }

  test("doc gate: per-document gates reject with reasons before indexing; replay is a no-op") {
    val root = Files.createTempDirectory("graft-docgate").toString
    val stores = DedupStream.epochStores(s"$root/index")
    // one victim per gate, checked in gate order: pii fires before quality
    // (the pii doc is otherwise healthy), quality before language (the
    // German doc passes the quality bar: 105 tokens, no digits/punct)
    val german = Seq.fill(15)("der die das und nicht ist ein").mkString(" ")
    val piiDoc = base + " contact someone@example.com now"
    val gate = DedupStream.DocGate(s"$root/rejects",
      systemLogDir = Some(s"$root/syslog"))
    val w = DedupStream.processBatch(
      batch(1L -> base, 2L -> nearDup, 7L -> piiDoc, 8L -> "x", 9L -> german),
      stores, s"$root/pairs", n = 5, numPerms = 64, bands = 16, threshold = 0.3,
      gate = None, docGate = Some(gate))
    // the clean near-dup pair still lands; every reject stayed out
    assert(w === 1L)
    assert(spark.read.parquet(s"$root/pairs")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    val reasons = spark.read.parquet(s"$root/rejects")
      .select("doc_id", "reject_reason").as[(Long, String)].collect().toMap
    assert(reasons === Map(7L -> "pii", 8L -> "quality", 9L -> "language"))
    assert(stores.ids.read(spark).get.as[Long].collect().toSet === Set(1L, 2L))
    assert(stores.bands.read(spark).get.where($"doc_id" >= 7L).count() === 0L)
    // WARNING row carries the reason histogram
    val details = spark.read.parquet(s"$root/syslog")
      .where($"event" === "doc_gate").select("details").as[String].head()
    assert(details.contains("rejected=3") && details.contains("pii=1")
      && details.contains("quality=1") && details.contains("language=1"))
    // replay (checkpoint recovery): indexed docs skip via the ledger,
    // rejects re-gate onto the id-deduped dir — full no-op
    val w2 = DedupStream.processBatch(
      batch(1L -> base, 2L -> nearDup, 7L -> piiDoc, 8L -> "x", 9L -> german),
      stores, s"$root/pairs", n = 5, numPerms = 64, bands = 16, threshold = 0.3,
      gate = None, docGate = Some(gate))
    assert(w2 === 0L)
    assert(spark.read.parquet(s"$root/rejects").count() === 3L)
    assert(spark.read.parquet(s"$root/pairs").count() === 1L)
  }

  test("in-memory keyed store: the NEW row wins a key collision") {
    val s = new graft.sink.InMemoryKeyedStore
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    s.upsert(Seq((1L, "v2"), (2L, "w")).toDF("k", "v"), Seq("k"))
    val got = s.read(spark).get.as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "v2", 2L -> "w")) // MERGE shape: update replaces
    s.append(Seq((3L, "x")).toDF("k", "v"))
    assert(s.read(spark).get.count() === 3L)
  }

  test("streaming wiring: two micro-batches through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-dstream2").toString
    val stream = MemoryStream[(Long, String)]
    val q = DedupStream.start(stream.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/pairs", s"$root/ckpt", threshold = 0.3)
    try {
      stream.addData(1L -> base, 3L -> other)
      q.processAllAvailable()
      stream.addData(2L -> nearDup)
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$root/pairs")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 2L)))
    } finally q.stop()
  }
}
