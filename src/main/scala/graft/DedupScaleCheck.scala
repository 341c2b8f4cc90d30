package graft

import graft.streaming.DedupStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: incremental-dedup scale probe — drives [[DedupStream]]'s
  * batch body over a growing persisted index and reports per-batch wall
  * time with inline and with deferred compaction, making the epoch
  * store's O(batch) write claim measurable: it writes one delta per table
  * per batch with no existing-keys scan, so per-batch cost stays flat
  * while reads pay a merge window that each fold bounds.
  *
  * Batches are the sf documents table with a batch token interleaved
  * after every second word, so every 5-gram shingle carries the token:
  * batches are mutually DISSIMILAR (cross-batch pair output stays zero,
  * keeping per-batch verify/write volume constant — the trend then
  * measures the index machinery, not a growing true-pair flood) while
  * each batch keeps the base corpus's natural within-batch dup structure.
  *
  * Shuffle parallelism is deliberately small: the bands store's folds
  * partition by (band, kb) and every fold epoch writes up to
  * shufflePartitions × activePartitions part files — at probe scale the
  * local-FS small-file overhead would otherwise drown the trend being
  * measured. (At production scale the same product is the object-count
  * knob: bound it with fewer key buckets.)
  *
  * Usage: runMain graft.DedupScaleCheck [sfDir] [batches] [docFactor] [backendSubstr]
  * (backendSubstr filters the backend list by label substring — e.g.
  * "deferred" probes only the tiered-deferred leg.)
  */
object DedupScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val docFactor = args.lift(2).map(_.toInt).getOrElse(1) // docs/batch = 500 × this
    val backendFilter = args.lift(3)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Tables.documents(spark, sfDir).cache()
    val nBase = base.count()

    def batchDf(i: Int) = base
      .withColumn("rep", explode(sequence(lit(0), lit(docFactor - 1))))
      .select(
        (col("doc_id") + lit(i.toLong * docFactor * nBase) + col("rep") * nBase).as("doc_id"),
        concat(
          regexp_replace(col("text"), "(\\S+\\s+\\S+)", s"$$1 batch$i"),
          lit(" rep"), col("rep")).as("text"))

    Seq(
      "epoch" -> ((d: String) => DedupStream.epochStores(d)),
      "epoch-deferred" -> ((d: String) => DedupStream.epochStores(d, deferCompaction = true))
    ).filter { case (label, _) => backendFilter.forall(label.contains) }
      .foreach { case (label, mk) =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-dscale-$label").toString
      val stores = mk(s"$root/index")
      val times = (0 until nBatches).map { i =>
        val t0 = System.nanoTime()
        val written = DedupStream.processBatch(batchDf(i), stores, s"$root/pairs",
          n = 5, numPerms = 32, bands = 8, threshold = 0.5)
        // the between-batches maintenance point (no-op except deferred
        // mode, where it harvests/starts background folds); deliberately
        // OUTSIDE the timed window — that is the decoupling being measured
        val s = (System.nanoTime() - t0) / 1e9
        stores.maintain(spark)
        println(f"[dedup-scale] $label batch=$i docs=${nBase * docFactor} pairs=$written t=$s%.2f s")
        s
      }
      val head3 = times.take(3).sum / 3
      val tail3 = times.takeRight(3).sum / 3
      println(f"[dedup-scale] $label SUMMARY: batches=$nBatches docs/batch=${nBase * docFactor} " +
        f"first3=$head3%.2f s last3=$tail3%.2f s max=${times.max}%.2f s " +
        f"growth=${tail3 / head3}%.2fx (index grew ${nBatches}x over the run)")
    }

    // HAMMING SKETCH INDEX growth: per-batch cost of the incremental
    // banded-Hamming front door (text SimHash / image pHash near-dup at
    // ingest) over a growing persisted index — writes are one flat
    // O(batch) delta per batch, so the trend must stay flat like the
    // MinHash index's
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft-hscale").toString
      val stores = graft.streaming.HammingStream.epochStores(s"$root/index")
      val times = (0 until nBatches).map { i =>
        val sk = graft.operators.Dedup.simhash64Portable(batchDf(i))
          .select(col("doc_id").as("id"), col("simhash_lo").as("lo"),
            col("simhash_hi").as("hi"))
        val t0 = System.nanoTime()
        val written = graft.streaming.HammingStream.processBatch(
          sk, stores, s"$root/pairs")
        val s = (System.nanoTime() - t0) / 1e9
        stores.maintain(spark)
        println(f"[dedup-scale] hamming-index batch=$i docs=${nBase * docFactor} pairs=$written t=$s%.2f s")
        s
      }
      val head3 = times.take(3).sum / 3
      val tail3 = times.takeRight(3).sum / 3
      println(f"[dedup-scale] hamming-index SUMMARY: batches=$nBatches " +
        f"docs/batch=${nBase * docFactor} first3=$head3%.2f s last3=$tail3%.2f s " +
        f"growth=${tail3 / head3}%.2fx (index grew ${nBatches}x over the run)")
    }

    // HOT-HISTORY KEY GATE (VERDICT r11 #2): a 10k-posting single-key
    // history crowd — the months-old flat-color pHash / boilerplate
    // SimHash accumulation — probed by small batches. Asserts EXACT
    // pair counts (each batch doc is a Hamming-0 twin of exactly one
    // history doc) and that the probe join's candidate emission spreads
    // across partitions instead of concentrating in the hot key's one
    // task (the pre-chunking shape).
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft-hhot").toString
      val stores = graft.streaming.HammingStream.epochStores(s"$root/index")
      val nHist = 10000
      // single-error-detecting encode (i << 1 | parity): any two distinct
      // codewords differ in ≥ 2 bits, and the code replicates across
      // bands 1-3, so every distinct sketch pair sits at Hamming ≥ 6 —
      // band 0 is the ONE shared crowd key, everything else is unique
      def enc(i: Int): Long = (i.toLong << 1) | (java.lang.Integer.bitCount(i) & 1).toLong
      val crowdKey = 0xBEEFL
      def mkSketches(ids: Seq[(Long, Int)]) = {
        import spark.implicits._
        ids.map { case (id, i) =>
          val e = enc(i)
          (id, crowdKey | ((e & 0xFFFFL) << 16), ((e & 0xFFFFL) << 16) | (e & 0xFFFFL))
        }.toDF("id", "lo", "hi")
      }
      val hist = mkSketches((0 until nHist).map(i => (i.toLong, i)))
      val t0 = System.nanoTime()
      val w0 = graft.streaming.HammingStream.processBatch(hist, stores, s"$root/pairs")
      val tIngest = (System.nanoTime() - t0) / 1e9
      // the crowd ingest itself rides the within-batch chunk discipline:
      // C(10k,2) band-0 candidates, zero qualifying pairs
      require(w0 == 0, s"hot-history: crowd ingest expected 0 pairs, got $w0")
      val batches = 3
      val m = 50
      val batchTimes = (0 until batches).map { b =>
        val ids = (0 until m).map(j => b * m + j)
        val batch = mkSketches(ids.map(i => (1000000L + i, i)))
        val t1 = System.nanoTime()
        val w = graft.streaming.HammingStream.processBatch(batch, stores, s"$root/pairs")
        val s = (System.nanoTime() - t1) / 1e9
        require(w == m,
          s"hot-history: batch $b expected $m twin pairs against the crowd, got $w")
        println(f"[dedup-scale] hot-history batch=$b docs=$m pairs=$w t=$s%.2f s")
        s
      }
      // spread census on the probe join's CANDIDATE emission (Hamming
      // budget 128 = no cut, pre-dedup — the survivors alone carry no
      // spread information about the hot key's m×nHist candidate volume):
      // a fresh batch against the full 10k-key history. Every (probe,
      // hist) pair meets exactly once in band 0 (chunks PARTITION the
      // key's postings), plus one meeting per band 1-3 for each twin.
      val probeBatch = mkSketches((0 until m).map(j => (2000000L + j, batches * m + j)))
      val newBands = graft.streaming.HammingStream.bandPostings(probeBatch)
      val idx = stores.bands.read(spark).get
      val pruned = graft.streaming.DedupStream.pruneToBatchCombos(idx, newBands)
      val byPart = graft.streaming.HammingStream.historyPairsRaw(newBands, pruned, 128)
        .groupBy(spark_partition_id().as("p"))
        .agg(count(lit(1)).as("n")).collect()
      val parts = spark.sessionState.conf.numShufflePartitions
      val minSpread = math.min(10, parts)
      // the indexed history is the crowd PLUS the three earlier batches
      // (their postings upserted per batch, all carrying the band-0
      // crowd key); twins add one meeting per band 1-3
      val expectRaw = m.toLong * (nHist + batches * m) + 3L * m
      val rawTotal = byPart.map(_.getLong(1)).sum
      require(rawTotal == expectRaw,
        s"hot-history probe completeness regressed: $rawTotal raw rows vs $expectRaw")
      require(byPart.length >= minSpread,
        s"hot-history candidate emission concentrated on ${byPart.length} " +
          "partitions — the per-(band, key) history chunking regressed")
      val maxShare = byPart.map(_.getLong(1)).max.toDouble / rawTotal
      require(maxShare <= math.max(0.5, 2.0 / parts),
        f"hot-history max task share $maxShare%.2f — one task owns the crowd")
      println(f"[dedup-scale] hot-history SUMMARY: crowd=$nHist ingest=$tIngest%.2f s " +
        f"batch p50=${batchTimes.sorted.apply(batches / 2)}%.2f s " +
        f"spread=${byPart.length} partitions maxShare=${maxShare * 100}%.0f%%")
    }

    // GATED INGEST THROUGHPUT (VERDICT r9 #5): the number a 100 TB ingest
    // design actually needs — the sf corpus replayed as DISJOINT
    // micro-batch slices (a real ingest, unlike the mutually-dissimilar
    // replica batches above) through the full front door: per-doc gate
    // stack (PII/quality/language/classifier) → decontamination gate →
    // incremental LSH index on the epoch backend. Reports input rows/s
    // over the whole run plus per-batch p50/p95 seconds.
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft-ingest-tp").toString
      val stores = DedupStream.epochStores(s"$root/index")
      // ~1% of the corpus plays the benchmark/eval set (broadcast side)
      val bench = base.where(pmod(col("doc_id"), lit(97)) === 0)
      val gate = DedupStream.ContaminationGate(bench, s"$root/quarantine")
      val docGate = DedupStream.DocGate(s"$root/rejects", minQuality = 0.2,
        classifierThreshold = -1.0)
      val times = (0 until nBatches).map { i =>
        val slice = base.where(pmod(col("doc_id"), lit(nBatches)) === i)
        val t0 = System.nanoTime()
        val pairs = DedupStream.processBatch(slice, stores, s"$root/pairs",
          n = 5, numPerms = 32, bands = 8, threshold = 0.5,
          gate = Some(gate), docGate = Some(docGate))
        val s = (System.nanoTime() - t0) / 1e9
        stores.maintain(spark)
        println(f"[dedup-scale] gated-ingest batch=$i docs~${nBase / nBatches} pairs=$pairs t=$s%.2f s")
        s
      }
      val sorted = times.sorted
      def pct(p: Double) = sorted(math.min(sorted.length - 1,
        math.ceil(p * sorted.length).toInt - 1))
      val total = times.sum
      println(f"[dedup-scale] gated-ingest SUMMARY: docs=$nBase batches=$nBatches " +
        f"total=$total%.1f s rows/s=${nBase / total}%.0f " +
        f"p50=${pct(0.5)}%.2f s p95=${pct(0.95)}%.2f s max=${sorted.last}%.2f s")
    }
    spark.stop()
  }
}
