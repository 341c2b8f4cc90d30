package graft

import graft.sink.EpochKeyedStore
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class EpochStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-epoch").toString + "/store"

  /** Run `body` with AQE off: the merge-window plan gains an exchange, and
    * AQE wraps executed scans in query stages `collectWithSubqueries`
    * cannot see — the scan-metric assertions need the plain plan. */
  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def deltaDirs(dir: String) = {
    val f = new java.io.File(s"$dir/delta")
    if (!f.exists()) Array.empty[String] else f.listFiles().filter(_.isDirectory).map(_.getName)
  }
  private def baseDirs(dir: String) = {
    val f = new java.io.File(s"$dir/base")
    if (!f.exists()) Array.empty[String] else f.listFiles().filter(_.isDirectory).map(_.getName)
  }
  private def mergeDirs(dir: String) = {
    val f = new java.io.File(s"$dir/merge")
    if (!f.exists()) Array.empty[String] else f.listFiles().filter(_.isDirectory).map(_.getName)
  }
  private def parquetFiles(dir: String): Long =
    Files.walk(java.nio.file.Paths.get(dir)).filter(_.toString.endsWith(".parquet")).count()

  /** `body`'s result and the Spark jobs it started on this thread. Jobs are
    * told apart by job group; a marker job run afterwards flushes the
    * asynchronous listener bus, which delivers events in order. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"epoch-store-read-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == s"$group-flush") flushed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Rewrite `marker`'s body through the Hadoop FS (keeps its checksum file
    * consistent). */
  private def rewriteMarker(marker: java.nio.file.Path, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(marker.toUri)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def markers(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString == "_COMMIT").toSeq.sortBy(_.toString)
  }

  test("MERGE semantics: the NEW row wins a key collision, appends accumulate") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    s.upsert(Seq((1L, "v2"), (2L, "w")).toDF("k", "v"), Seq("k"))
    val got = s.read(spark).get.as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "v2", 2L -> "w")) // same contract InMemoryKeyedStore pins
    s.append(Seq((3L, "x"), (4L, "y")).toDF("k", "v").repartition(2))
    assert(s.read(spark).get.count() === 4L)
    // each write is one committed delta epoch; no base until compaction
    assert(deltaDirs(dir).sorted === Array("epoch=1", "epoch=2", "epoch=3"))
    assert(baseDirs(dir).isEmpty)
    // an unpartitioned store writes each delta as ONE file, whatever the
    // batch's partitioning (the append arrives in two partitions)
    assert(deltaDirs(dir).forall(d => parquetFiles(s"$dir/delta/$d") == 1L))
  }

  test("uncommitted epochs are invisible: a crashed write never surfaces") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    // simulate a crash mid-write: stage a delta WITHOUT its _COMMIT marker
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$dir/delta/epoch=99")
    assert(s.read(spark).get.as[(Long, String)].collect().toMap === Map(1L -> "v1"))
    // the next real write allocates ABOVE the crashed stage (no collision)
    s.upsert(Seq((2L, "w")).toDF("k", "v"), Seq("k"))
    assert(deltaDirs(dir).contains("epoch=100"))
    assert(s.read(spark).get.count() === 2L)
  }

  test("auto-compaction folds deltas into a base and bounds the files a read scans") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 3)
    (1 to 5).foreach(i => s.upsert(Seq((i.toLong, s"v$i")).toDF("k", "v"), Seq("k")))
    // 4th delta crossed the threshold → compacted at epoch 4; 5th is a new delta
    assert(baseDirs(dir) === Array("epoch=4"))
    assert(deltaDirs(dir) === Array("epoch=5"))
    withoutAqe {
      val merged = s.read(spark).get
      val rows = merged.collect()
      assert(rows.length === 5)
      // the read's scans list base + one delta — NOT one file per historical batch
      val scans = merged.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val scanned = scans.map(_.metrics("numFiles").value).sum
      assert(scanned === 2L, s"read listed $scanned files; compaction should bound it at 2")
    }
    // update an already-compacted key: the delta must beat the base
    s.upsert(Seq((1L, "v1b")).toDF("k", "v"), Seq("k"))
    assert(s.read(spark).get.as[(Long, String)].collect().toMap.apply(1L) === "v1b")
  }

  test("a base and five deltas read as at most three relations, one over all deltas, with no job to build") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 99)
    s.upsert(Seq((1L, "b1"), (2L, "b2")).toDF("k", "v"), Seq("k"))
    s.compact(spark)
    // the same key in three successive deltas, then two more keys
    (1 to 3).foreach(i => s.upsert(Seq((1L, s"d$i")).toDF("k", "v"), Seq("k")))
    s.upsert(Seq((3L, "x")).toDF("k", "v"), Seq("k"))
    s.upsert(Seq((4L, "y")).toDF("k", "v"), Seq("k"))
    assert(baseDirs(dir).length === 1 && deltaDirs(dir).length === 5)
    // every member's marker records its schema, so no inference job runs
    val (merged, jobs) = jobsStartedBy(s.read(spark).get)
    assert(jobs === 0, s"building the read started $jobs Spark jobs")
    withoutAqe {
      val rows = merged.as[(Long, String)].collect().toMap
      assert(rows === Map(1L -> "d3", 2L -> "b2", 3L -> "x", 4L -> "y"))
      val scans = merged.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size <= 3, s"${scans.size} scans")
      val deltaScans = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("/delta/")))
      assert(deltaScans.size === 1, s"${deltaScans.size} delta-tier scans")
      assert(deltaScans.head.relation.location.rootPaths.size === 5)
    }
  }

  test("schema drift across epochs raises on read and compact, naming both epochs") {
    def drifted(first: org.apache.spark.sql.DataFrame, second: org.apache.spark.sql.DataFrame): Unit = {
      val dir = tmp()
      val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
      s.upsert(first, Seq("k"))
      s.upsert(second, Seq("k"))
      Seq(intercept[IllegalStateException](s.read(spark)),
        intercept[IllegalStateException](s.compact(spark))).foreach { e =>
        assert(e.getMessage.contains("delta/epoch=1") && e.getMessage.contains("delta/epoch=2"),
          e.getMessage)
      }
    }
    // an added column
    drifted(Seq((1L, "v")).toDF("k", "v"), Seq((2L, "w", 7)).toDF("k", "v", "extra"))
    // a changed type: int → long (a union would have widened it)
    drifted(Seq((1L, 1)).toDF("k", "n"), Seq((2L, 2L)).toDF("k", "n"))
    // column order and nullability are not drift
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq((1L, 1)).toDF("k", "n"), Seq("k"))
    s.upsert(Seq((Option(2), 2L)).toDF("n", "k"), Seq("k"))
    assert(s.read(spark).get.as[(Long, Int)].collect().toMap === Map(1L -> 1, 2L -> 2))
  }

  test("markers written before schemas were recorded still read; the next fold records one") {
    val dir = tmp()
    // partitioned, with a long partition column: an older base marker's
    // schema is inferred, and partition inference reads kb=<n> as int
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("id", "band", "kb"),
      partitionCols = Seq("band", "kb"), compactAfterDeltas = 99)
    val rows = (0 until 16).map(i => (i.toLong, i % 2, (i % 4).toLong, s"p$i"))
    s.upsert(rows.toDF("id", "band", "kb", "payload"), Seq("id", "band"))
    s.compact(spark)
    s.upsert(Seq((1L, 1, 1L, "u1")).toDF("id", "band", "kb", "payload"), Seq("id", "band"))
    s.upsert(Seq((1L, 1, 1L, "u2"), (99L, 0, 3L, "n")).toDF("id", "band", "kb", "payload"),
      Seq("id", "band"))
    def snapshotRows() = s.read(spark).get.select("id", "band", "kb", "payload")
      .as[(Long, Int, Long, String)].collect().toSet
    val before = snapshotRows()
    assert(before.size === 17 && before.contains((1L, 1, 1L, "u2")))
    val ms = markers(dir)
    assert(ms.size === 3 && ms.forall(m => new String(Files.readAllBytes(m), "UTF-8")
      .linesIterator.exists(_.startsWith("schema="))))
    // rewrite every marker the older way: files=<n> only, the base's empty
    ms.foreach { m =>
      val body = new String(Files.readAllBytes(m), "UTF-8")
      rewriteMarker(m, if (m.toString.contains("/base/")) ""
        else body.linesIterator.filter(_.startsWith("files=")).map(_ + "\n").mkString)
    }
    assert(snapshotRows() === before)
    s.compact(spark)
    val base = markers(dir)
    assert(base.size === 1 && base.head.toString.contains("/base/"))
    assert(new String(Files.readAllBytes(base.head), "UTF-8").linesIterator
      .exists(_.startsWith("schema=")))
    assert(snapshotRows() === before)
  }

  test("a store root holding non-tier parquet refuses to read or compact") {
    val dir = tmp()
    // a plain parquet table at the root, beside (not inside) the tiers: the
    // store never reads it, so treating the root as empty would hand a
    // dedup stream an empty index and re-admit its whole history
    Seq((1L, "v1"), (2L, "w")).toDF("k", "v").write.parquet(dir)
    val stray = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    assert(stray.nonEmpty)
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    val onRead = intercept[IllegalStateException] { s.read(spark) }
    val onCompact = intercept[IllegalStateException] { s.compact(spark) }
    Seq(onRead, onCompact).foreach { e =>
      assert(stray.exists(e.getMessage.contains), e.getMessage)
    }
  }

  test("partitioned epoch store: pruning predicates push through the merge window") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("id", "band", "kb"),
      partitionCols = Seq("band", "kb"))
    val rows = (0 until 64).map(i => (i.toLong, i % 4, i % 8, s"payload$i"))
    s.upsert(rows.toDF("id", "band", "kb", "payload"), Seq("id", "band"))
    // the fold writes the hive-partitioned base; the next delta is flat,
    // so the merge window holds both tiers
    s.compact(spark)
    s.upsert(Seq((9L, 1, 1, "updated"), (100L, 2, 2, "added"))
      .toDF("id", "band", "kb", "payload"), Seq("id", "band"))
    assert(deltaDirs(dir).length === 1)
    assert(!new java.io.File(s"$dir/delta/${deltaDirs(dir).head}").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("band=")))
    val totalFiles = parquetFiles(dir)
    withoutAqe {
      val probe = s.read(spark).get.where(col("band") === 1 && col("kb") === 1)
      // collect() on `probe` itself, so the metrics below come from THIS plan
      val hits = probe.collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
      assert(hits === (1L until 64L by 8).map(i => i -> s"payload$i").toMap
        .updated(9L, "updated"))
      val scans = probe.queryExecution.executedPlan.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val scanned = scans.map(_.metrics("numFiles").value).sum
      assert(scanned > 0 && scanned < totalFiles,
        s"scanned $scanned of $totalFiles — (band, kb) pruning did not push through the merge")
    }
  }

  test("a data file missing under a committed marker raises instead of reading empty") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    assert(s.read(spark).get.count() === 1L)
    // corrupt the committed epoch: delete its data file, keep the marker
    val part = new java.io.File(s"$dir/delta/epoch=1").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(part.length === 1)
    part.foreach(_.delete())
    // a silent None here would hand DedupStream an empty index and
    // re-admit its whole history — must fail loudly
    val e = intercept[IllegalStateException] { s.read(spark) }
    assert(e.getMessage.contains("files=1"))
  }

  test("a zero-row upsert commits a legitimately-empty epoch, not corruption") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"))
    assert(s.read(spark).map(_.count()).getOrElse(0L) === 0L)
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    assert(s.read(spark).get.as[(Long, String)].collect().toMap === Map(1L -> "v1"))
  }

  test("concurrent writers: the epoch claim is exclusive, second claimer errors") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"))
    s.upsert(Seq((1L, "v1")).toDF("k", "v"), Seq("k"))
    // every delta write goes through the claim: the marker is in the dir
    assert(new java.io.File(s"$dir/delta/epoch=1/_STAGE").exists())
    // two writers that raced to the same computed epoch: second create fails
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(s"$dir/delta/epoch=2")
    s.claimEpoch(f, target)
    val e = intercept[IllegalStateException] { s.claimEpoch(f, target) }
    assert(e.getMessage.contains("concurrent writer"))
    // the loser's crashed claim stays invisible and is never renumbered
    s.upsert(Seq((2L, "w")).toDF("k", "v"), Seq("k"))
    assert(deltaDirs(dir).sorted === Array("epoch=1", "epoch=2", "epoch=3"))
    assert(s.read(spark).get.count() === 2L)
  }

  test("debug mode catches a violated merge-key functional dependency at write time") {
    val dir = tmp()
    // kb pretends to be functionally dependent on k but isn't: the same
    // caller key arrives with two different kb values across epochs, so
    // the (k, kb)-wide merge keeps both rows where replace was expected
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k", "kb"),
      verifyMergeDependency = true)
    s.upsert(Seq((1L, 10, "v1")).toDF("k", "kb", "v"), Seq("k"))
    val e = intercept[IllegalStateException] {
      s.upsert(Seq((1L, 11, "v2")).toDF("k", "kb", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("functionally dependent"))
    // honest inputs never trip it
    val ok = new EpochKeyedStore(tmp(), mergeKeys = Seq("k", "kb"),
      verifyMergeDependency = true)
    ok.upsert(Seq((1L, 10, "v1")).toDF("k", "kb", "v"), Seq("k"))
    ok.upsert(Seq((1L, 10, "v2"), (2L, 20, "w")).toDF("k", "kb", "v"), Seq("k"))
    assert(ok.read(spark).get.count() === 2L)
  }

  test("randomized MERGE-equivalence soak vs the in-memory model (20 ops, compaction crossings)") {
    import graft.sink.InMemoryKeyedStore
    val rnd = new scala.util.Random(11)
    val dir = tmp()
    // compactAfterDeltas=3: the sequence crosses several folds, so the
    // equivalence holds across base rewrites, not just delta accumulation
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 3)
    val m = new InMemoryKeyedStore
    for (op <- 1 to 20) {
      // unique keys per batch: within-batch collisions would make the
      // surviving row backend-arbitrary (dropDuplicates picks one)
      val batch = Seq.fill(rnd.nextInt(6) + 1)(rnd.nextInt(12).toLong).distinct
        .map(k => (k, s"v$op-$k-${rnd.nextInt(100)}"))
      val df = batch.toDF("k", "v")
      if (op % 5 == 0) {
        // append of provably-fresh keys (shifted range never collides)
        val fresh = batch.map { case (k, v) => (k + 1000L * op, v) }.toDF("k", "v")
        s.append(fresh); m.append(fresh)
      } else {
        s.upsert(df, Seq("k")); m.upsert(df, Seq("k"))
      }
      val got = s.read(spark).get.as[(Long, String)].collect().toSet
      val want = m.read(spark).get.as[(Long, String)].collect().toSet
      assert(got === want, s"diverged after op $op")
    }
  }

  test("deferred compaction: writes never fold; maintain folds in the background while reads serve old epochs") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 2,
      deferCompaction = true)
    (1 to 5).foreach(i => s.upsert(Seq((i.toLong, s"v$i")).toDF("k", "v"), Seq("k")))
    // inline mode would have folded at the 3rd delta; the deferred write
    // path NEVER does — that is the decoupling (no fold stall in a batch)
    assert(baseDirs(dir).isEmpty && deltaDirs(dir).length === 5)
    s.maintain(spark) // starts the background fold
    // reads stay correct while the fold runs: old committed epochs serve
    assert(s.read(spark).get.count() === 5L)
    // a write racing the fold lands above the fold's target epoch, so it
    // wins the merge whether or not the fold's snapshot caught it
    s.upsert(Seq((1L, "v1b"), (6L, "v6")).toDF("k", "v"), Seq("k"))
    s.awaitMaintenance(spark) // drain the fold, publish its sweep
    assert(baseDirs(dir).nonEmpty)
    assert(s.read(spark).get.as[(Long, String)].collect().toMap ===
      Map(1L -> "v1b", 2L -> "v2", 3L -> "v3", 4L -> "v4", 5L -> "v5", 6L -> "v6"))
  }

  test("a crash mid-fold leaves an uncommitted staged base: reads ignore it, the next compact recovers") {
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 99)
    (1 to 3).foreach(i => s.upsert(Seq((i.toLong, s"v$i")).toDF("k", "v"), Seq("k")))
    // simulate a fold killed between its parquet write and its _COMMIT:
    // a staged base dir holding (stale) data but no marker
    Seq((1L, "stale"), (9L, "ghost")).toDF("k", "v").write.parquet(s"$dir/base/epoch=3")
    assert(s.read(spark).get.as[(Long, String)].collect().toMap ===
      Map(1L -> "v1", 2L -> "v2", 3L -> "v3")) // old epochs still serve
    s.compact(spark) // Overwrites the crashed attempt, publishes, sweeps
    assert(baseDirs(dir) === Array("epoch=3") && deltaDirs(dir).isEmpty)
    assert(s.read(spark).get.as[(Long, String)].collect().toMap ===
      Map(1L -> "v1", 2L -> "v2", 3L -> "v3"))
  }

  test("deferred-compaction soak: model equivalence across fold cycles, delta tier stays bounded") {
    import graft.sink.InMemoryKeyedStore
    val rnd = new scala.util.Random(23)
    val dir = tmp()
    // compactAfterDeltas=3 over 10 ops: several background folds run
    // CONCURRENTLY with later upserts/reads — the spec-scale version of
    // DedupScaleCheck's bounded saw-tooth, locked against regressions
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 3,
      deferCompaction = true)
    val m = new InMemoryKeyedStore
    for (op <- 1 to 10) {
      val batch = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextInt(10).toLong).distinct
        .map(k => (k, s"v$op-$k"))
      val df = batch.toDF("k", "v")
      s.upsert(df, Seq("k")); m.upsert(df, Seq("k"))
      s.maintain(spark)
      assert(s.read(spark).get.as[(Long, String)].collect().toSet ===
        m.read(spark).get.as[(Long, String)].collect().toSet, s"diverged after op $op")
    }
    s.awaitMaintenance(spark)
    // folds actually happened off the write path, and the delta tier is
    // bounded by one fold cycle's accumulation — not the whole history
    assert(baseDirs(dir).nonEmpty, "no background fold ever published")
    assert(deltaDirs(dir).length <= 8,
      s"delta tier grew unbounded: ${deltaDirs(dir).length} deltas after draining")
    assert(s.read(spark).get.as[(Long, String)].collect().toSet ===
      m.read(spark).get.as[(Long, String)].collect().toSet)
  }

  test("tiered compaction: partial folds build an L1 merge, every k-th fold goes to base") {
    import graft.sink.InMemoryKeyedStore
    val dir = tmp()
    val s = new EpochKeyedStore(dir, mergeKeys = Seq("k"), compactAfterDeltas = 1,
      deferCompaction = true, fullCompactEvery = 3)
    val m = new InMemoryKeyedStore
    def step(op: Int): Unit = {
      val df = Seq((op.toLong % 5, s"v$op")).toDF("k", "v")
      s.upsert(df, Seq("k")); m.upsert(df, Seq("k"))
      s.maintain(spark)         // starts a fold when pending > 1
      s.awaitMaintenance(spark) // drain + sweep, so the tier state is deterministic
      assert(s.read(spark).get.as[(Long, String)].collect().toSet ===
        m.read(spark).get.as[(Long, String)].collect().toSet, s"diverged after op $op")
    }
    (1 to 2).foreach(step)
    // fold #1 goes FULL (no base existed — a partial would cost the same
    // without establishing the base that makes later partials cheap)
    assert(baseDirs(dir) === Array("epoch=2") && mergeDirs(dir).isEmpty)
    assert(deltaDirs(dir).isEmpty)
    (3 to 4).foreach(step)
    // fold #2 PARTIAL: deltas 3-4 fold into merge epoch=4 ABOVE the base
    assert(baseDirs(dir) === Array("epoch=2") && mergeDirs(dir) === Array("epoch=4"))
    (5 to 6).foreach(step)
    // fold #3 PARTIAL: old merge + deltas 5-6 -> merge epoch=6, old swept
    assert(baseDirs(dir) === Array("epoch=2") && mergeDirs(dir) === Array("epoch=6"))
    (7 to 8).foreach(step)
    // fold #4 is the k-th since the base: FULL — sweeps the merge tier
    assert(baseDirs(dir) === Array("epoch=8") && mergeDirs(dir).isEmpty)
    assert(deltaDirs(dir).isEmpty)
    // a crashed partial fold (no _COMMIT) is invisible and gets replaced
    Seq((99L, "ghost")).toDF("k", "v").write.parquet(s"$dir/merge/epoch=11")
    val before = s.read(spark).get.as[(Long, String)].collect().toSet
    assert(!before.exists(_._1 == 99L))
    (9 to 10).foreach(step)
    // fold #5 PARTIAL above base=8; the ghost dir never surfaced
    assert(baseDirs(dir) === Array("epoch=8") && mergeDirs(dir).nonEmpty)
    assert(s.read(spark).get.as[(Long, String)].collect().toSet ===
      m.read(spark).get.as[(Long, String)].collect().toSet)
  }

  test("mergeKeys must cover partitionCols and upsert keys") {
    intercept[IllegalArgumentException] {
      new EpochKeyedStore("/tmp/x", mergeKeys = Seq("a"), partitionCols = Seq("b"))
    }
    val s = new EpochKeyedStore(tmp(), mergeKeys = Seq("a"))
    intercept[IllegalArgumentException] {
      s.upsert(Seq((1L, 2L)).toDF("a", "b"), Seq("b"))
    }
  }
}
