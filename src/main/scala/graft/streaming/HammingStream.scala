package graft.streaming

import graft.operators.{ChunkedJoin, Dedup}
import graft.sink.{IdempotentSink, KeyedStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental banded-Hamming near-duplicate detection over a STREAM of
  * 64-bit sketches — the continuously-running form of
  * [[graft.operators.Dedup.bandedHamming64Pairs]], closing the ingest
  * loop for the sketch modalities [[DedupStream]] (MinHash bands) does
  * not cover: text SimHash ([[Dedup.simhash64Portable]]) and image pHash
  * ([[graft.sources.Multimodal.perceptualHashes]]) both produce the
  * (id, lo, hi) shape this front door indexes, so re-encoded images and
  * boilerplate-templated text are caught AT INGEST against everything
  * seen so far — the reference's dedup-scan-before-append discipline
  * (write_pipeline.py:151-183), applied to sketch near-dup instead of
  * exact row ids.
  *
  * State under `indexDir` — two [[graft.sink.EpochKeyedStore]] tables:
  *   - `ids/`   — ledger of indexed ids, written LAST per batch (same
  *                replay contract as [[DedupStream]]: a doc reaches the
  *                ledger only if the whole batch landed before it);
  *   - `bands/` — (id, band, kb, key, lo, hi): the four 16-bit band
  *                postings with the full sketch DENORMALIZED onto each
  *                row, so the history probe verifies exact Hamming
  *                distance from the posting itself — no second store
  *                round-trip per batch. Partitioned (band, kb) on the
  *                fold tiers only (flat deltas — the [[DedupStream]]
  *                band-store lesson).
  *
  * Per batch: ledger anti-join → within-batch pairs via the chunk-
  * hardened batch join (identical code path, so the crowd discipline
  * and its ScaleCheck gates apply verbatim) → new×history candidates
  * via a (band, kb, key) equi-join against the pruned posting store →
  * exact bit_count verify → pairs append idempotently → bands upsert →
  * ledger append. Within-batch and cross-batch pairs are disjoint by
  * construction (fresh is anti-joined against the ledger), and the
  * 4×16 banding is complete to Hamming ≤ 3 across the split — any
  * qualifying pair shares a band whichever batches its ends arrived
  * in — so a replayed corpus yields EXACTLY the batch operator's pairs
  * (spec-pinned).
  *
  * Scale posture: index writes are one flat O(batch) delta per batch;
  * the probe prunes to the (band, kb) combos the batch hashes into.
  * Both joins are the batch operator's hot-key join
  * ([[graft.operators.ChunkedJoin]]): the within-batch pairs ride
  * [[Dedup.bandedHamming64Pairs]] itself, and the history probe chunks
  * the batch and the pruned history slice per (band, key) — a hot
  * history key (a flat-color crowd accumulated over months) spreads
  * its per-batch candidates across |key postings|/512 tasks instead of
  * one, spread-gated by the DedupScaleCheck hot-history probe.
  */
object HammingStream {

  final case class HammingStores(ids: KeyedStore, bands: KeyedStore) {
    def maintain(spark: SparkSession): Unit = {
      ids.maintain(spark); bands.maintain(spark)
    }
  }

  /** Production stores under `indexDir`, laid out like
    * [[DedupStream.epochStores]]'s ledger and band tables. */
  def epochStores(indexDir: String, compactAfterDeltas: Int = 6,
                  deferCompaction: Boolean = false): HammingStores = {
    val store = DedupStream.indexStore(indexDir, compactAfterDeltas, deferCompaction) _
    HammingStores(
      ids = store("ids", Seq("id"), Nil),
      bands = store("bands", Seq("id", "band", "kb"), Seq("band", "kb")))
  }

  /** The four 16-bit band keys of a (id, lo, hi) sketch relation
    * ([[Dedup.hammingBands]]) plus the kb pruning bucket
    * ([[DedupStream.KeyBuckets]], the bucket count
    * [[DedupStream.pruneToBatchCombos]] encodes combos with), sketch
    * denormalized onto every row.
    * Package-visible so the DedupScaleCheck hot-history gate can build
    * the probe input the way the batch body does. */
  private[graft] def bandPostings(sketches: DataFrame): DataFrame =
    Dedup.hammingBands(sketches)
      .select(col("id"), col("band"), col("key"), col("lo"), col("hi"))
      .withColumn("kb", pmod(xxhash64(col("key")), lit(DedupStream.KeyBuckets)))

  /** New×history candidate probe, BEFORE the pair dedup — one row per
    * (pair, agreeing band meeting). `newBands`/`idx` are band-posting
    * relations ([[bandPostings]] shape; `idx` already pruned to the
    * batch's combos).
    *
    * Hot-history hardening: the probe is a [[graft.operators.ChunkedJoin]]
    * on (band, key), the batch operator's hot-key join. A months-old
    * flat-color/boilerplate crowd on ONE (band, key) would otherwise
    * meet the whole batch in one join task; both sides' postings split
    * into id-ordered chunks and every batch chunk meets every history
    * chunk of its key, so the crowd's candidates spread across
    * |key postings|/512 tasks. Exposed pre-dedup so the DedupScaleCheck
    * hot-history gate can census rows per task at the join output (the
    * dedup exchange re-hashes on the pair key and would erase the
    * spread being asserted).
    */
  private[graft] def historyPairsRaw(newBands: DataFrame, idx: DataFrame,
                                     maxHamming: Int): DataFrame =
    ChunkedJoin(newBands, idx, Seq("band", "key"), Seq(col("id")))(
        Dedup.chunkPairsAcross(_, _, Seq("band", "key")))
      .where(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), Dedup.pairHamming)
      .where(col("hamming") <= maxHamming)

  /** Process one micro-batch of 64-bit sketches (columns: id long,
    * lo long, hi long — e.g. [[Dedup.simhash64Portable]] output renamed,
    * or [[graft.sources.Multimodal.perceptualHashes]]) against the
    * persisted index. Returns the number of new near-dup pairs written.
    */
  def processBatch(sketches: DataFrame, stores: HammingStores, pairsDir: String,
                   maxHamming: Int = 3): Long = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4×16-bit banding is complete only up to Hamming 3")
    val spark = sketches.sparkSession
    val fresh = DedupStream.antiJoin(sketches, stores.ids.read(spark), Seq("id")).cache()
    try {
      if (fresh.isEmpty) return 0L
      val newBands = bandPostings(fresh)
      // within-batch pairs ride the batch operator itself — identical
      // banding, chunk-hardening, and dedup semantics
      val nn = Dedup.bandedHamming64Pairs(fresh, maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
      // new × history: equi-join on (band, kb, key) against the pruned
      // posting store; the posting carries the historical sketch, so the
      // exact verify needs no second store read
      val nh = stores.bands.read(spark) match {
        case Some(idx0) =>
          historyPairsRaw(newBands, DedupStream.pruneToBatchCombos(idx0, newBands),
            maxHamming).dropDuplicates("id_a", "id_b")
        case None => nn.limit(0)
      }
      // within-batch and history pairs are disjoint in the HAPPY path
      // (fresh is ledger-anti-joined), but a crashed batch that upserted
      // bands and lost the ids append re-ingests its docs as "fresh" —
      // a pair can then arrive from BOTH legs, and appendDedup only
      // anti-joins against the sink, not within the batch
      val pairs = nn.unionByName(nh)
        .select(concat_ws("_", col("id_a"), col("id_b")).as("id"),
          col("id_a"), col("id_b"), col("hamming"))
        .dropDuplicates("id")
      val written = IdempotentSink.appendDedup(pairs, pairsDir)
      // bands upsert replay-idempotently at (id, band) granularity; the
      // ledger lands LAST as an unchecked append (fresh was anti-joined
      // against it at the top) — do not reorder these writes
      stores.bands.upsert(newBands, Seq("id", "band"))
      stores.ids.append(fresh.select("id"))
      written
    } finally { fresh.unpersist(); () }
  }

  /** Wire the incremental sketch near-dup onto a STREAM of (id, lo, hi)
    * sketches — [[DedupStream.start]]'s shape for the sketch modalities:
    * long-lived deferred-compaction stores (the write path never folds)
    * driven by [[DedupStream.startIndexed]]'s micro-batch loop.
    */
  def start(sketches: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, maxHamming: Int = 3): StreamingQuery = {
    val stores = epochStores(indexDir, deferCompaction = true)
    DedupStream.startIndexed(sketches, checkpointDir, stores.maintain) { batch =>
      processBatch(batch, stores, pairsDir, maxHamming)
      ()
    }
  }

  /** TEXT front door: gate → sketch → index → pairs over a document
    * stream (columns: doc_id long, text string) — the SimHash sibling of
    * [[DedupStream.start]]'s gated MinHash ingest, sharing its
    * [[DedupStream.DocGate]] (rejects quarantined with reasons, never
    * indexed; the quarantine write is id-deduped so a replayed batch
    * re-rejects without duplicating audit rows).
    */
  def startText(docs: DataFrame, indexDir: String, pairsDir: String,
                checkpointDir: String, maxHamming: Int = 3,
                docGate: Option[DedupStream.DocGate] = None): StreamingQuery = {
    val stores = epochStores(indexDir, deferCompaction = true)
    DedupStream.startIndexed(docs, checkpointDir, stores.maintain) { batch =>
      // one cached triage pass, DedupStream's gate discipline: rejects
      // land id-deduped with reasons, admitted docs sketch
      val triage = docGate.map(g => DedupStream.triageBatch(batch, Some(g), None))
      try {
        val admitted = triage.fold(batch)(DedupStream.writeTriage(_, docGate, None))
        val sk = Dedup.simhash64Portable(admitted)
          .select(col("doc_id").as("id"), col("simhash_lo").as("lo"),
            col("simhash_hi").as("hi"))
        processBatch(sk, stores, pairsDir, maxHamming)
        ()
      } finally { triage.foreach(_.unpersist()); () }
    }
  }
}
