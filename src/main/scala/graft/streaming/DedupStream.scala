package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import graft.sink.{EpochKeyedStore, IdempotentSink, KeyedStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Incremental MinHash-LSH near-duplicate detection over a document STREAM —
  * the continuously-running form of [[graft.operators.Dedup.minhashLshPairs]]
  * for a training-data ingest pipeline: every micro-batch of new documents is
  * checked against everything seen so far, without recomputing the
  * historical corpus's signatures.
  *
  * State layout under `indexDir` — three [[KeyedStore]] tables, in
  * production the durable true-upsert [[EpochKeyedStore]] (base + delta
  * parquet epochs, `_COMMIT`-published, auto-compacting — [[epochStores]]):
  *   - `ids/`   — compact ledger of indexed doc_ids, written LAST per batch;
  *                the replay check reads this narrow table, not the wide
  *                signature store;
  *   - `bands/` — (doc_id, band, kb, key) partitioned by (band, kb) where
  *                kb is a hash bucket of the key — the probe join includes
  *                both partition columns, so candidate fetches prune to the
  *                key buckets the batch actually hashes into (the pruning
  *                predicate pushes through the epoch store's merge window
  *                because (band, kb) are merge-key columns);
  *   - `sigs/`  — (doc_id, sig) for exact estimate verification.
  *
  * Per batch: signatures + band keys for the NEW docs only; candidates =
  * new×new ∪ new×index probe; exact est_jaccard verify; pairs append
  * idempotently (keyed "a_b"); then bands → sigs → ids. Bands and sigs
  * upsert keyed at ROW granularity — bands by (doc_id, band), sigs by
  * doc_id — so a crash between or even inside writes replays to exactly
  * the same state. The id LEDGER is different: it lands LAST via an
  * unchecked append, and its replay safety comes from the anti-join at
  * the TOP of the batch (a doc reaches the ledger write only if it was
  * absent when the batch started) plus the write ordering — do not
  * reorder the three writes or reuse the ledger append elsewhere.
  *
  * Scale posture, stated precisely: index WRITES are O(batch) — one delta
  * epoch per store per batch, no existing-keys scan (the epoch store
  * resolves key collisions at read). The band PROBE prunes to the
  * partitions the new keys hash into; the replay check reads the id
  * ledger (narrow, but still O(corpus) ids); the estimate fetch scans the
  * signature store once per batch and shuffles only candidate partners.
  * Swapping in a table format (Delta/Iceberg) or a KV store remains a
  * [[KeyedStore]] binding, not a dataflow change.
  */
object DedupStream {

  /** Key-hash partition fan-out of the band store (partitions = bands ×
    * KeyBuckets); the probe's DPP pruning granularity. */
  val KeyBuckets = 64

  /** The three index state tables behind [[KeyedStore]]: swapping the
    * backend (the epoch store ↔ the in-memory MERGE model, or a
    * Delta/Iceberg binding) does not touch the dataflow in [[processBatch]].
    */
  final case class IndexStores(ids: KeyedStore, bands: KeyedStore, sigs: KeyedStore) {
    /** Between-batches maintenance pass over all three stores (no-op for
      * backends without deferred housekeeping). */
    def maintain(spark: SparkSession): Unit = {
      ids.maintain(spark); bands.maintain(spark); sigs.maintain(spark)
    }
  }

  /** Production stores under `indexDir`: one [[EpochKeyedStore]] per
    * table. The bands store's merge key extends the logical (doc_id, band)
    * key with the functionally-dependent kb bucket so the probe's
    * (band, kb) pruning predicate pushes through the merge window to the
    * fold tiers, which are hive-partitioned by (band, kb). Like every
    * epoch-store delta, a bands delta is flat: a batch touches up to
    * bands × KeyBuckets partition values, and a partitioned delta write
    * fanned each batch into hundreds of tiny files whose driver-side
    * commit dominated the whole batch (measured: ~6 s write + ~10 s
    * commit of a 26 s gated batch at probe scale).
    *
    * `compactAfterDeltas` defaults LOWER than the store's own default
    * (6 vs 16): this dataflow reads all three stores every batch, and the
    * merge window's duplicate work grows with the rows pending above the
    * newest fold, so a read-heavy access pattern wants frequent small
    * folds. [[graft.DedupScaleCheck]] measured the per-batch cost climbing
    * roughly linearly with the pending delta count (~30 s at 1 delta to
    * ~150 s at 16 at probe scale, resetting after each fold) when every
    * delta was its own parquet relation with its own schema-inference job;
    * the deltas now read as ONE relation under their recorded schema, so
    * that slope includes a per-delta overhead the read no longer pays and
    * has not been re-measured. Writes stay O(batch) either way; the fold
    * itself amortizes to O(corpus / k) per batch.
    *
    * `deferCompaction` moves those folds OFF the write path entirely: the
    * fold runs on a background thread between batches while reads serve
    * the old committed epochs, so no micro-batch ever stalls on an
    * O(corpus/k) fold (the 155 s cliff DedupScaleCheck measured at probe
    * scale). Requires long-lived stores and a caller that invokes
    * [[IndexStores.maintain]] after each batch — [[start]] does both.
    */
  def epochStores(indexDir: String, compactAfterDeltas: Int = 6,
                  deferCompaction: Boolean = false): IndexStores = {
    val store = indexStore(indexDir, compactAfterDeltas, deferCompaction) _
    IndexStores(
      ids = store("ids", Seq("doc_id"), Nil),
      bands = store("bands", Seq("doc_id", "band", "kb"), Seq("band", "kb")),
      sigs = store("sigs", Seq("doc_id"), Nil))
  }

  /** One ingest index table `indexDir/table`, configured the same way for
    * both ingest streams. `fullCompactEvery = 4` makes deferred
    * maintenance TIERED: three partial folds (old L1 merge + pending
    * deltas, O(index-since-base)) for every O(corpus) base fold — base
    * folds run 4× less often and the read-side member count stays capped
    * at merge + pending. Inline mode ignores the knob (writeDelta's
    * auto-compact is always full).
    */
  private[streaming] def indexStore(indexDir: String, compactAfterDeltas: Int,
                                    deferCompaction: Boolean)(
      table: String, mergeKeys: Seq[String], partitionCols: Seq[String]): EpochKeyedStore =
    new EpochKeyedStore(s"$indexDir/$table", mergeKeys, partitionCols,
      compactAfterDeltas = compactAfterDeltas, deferCompaction = deferCompaction,
      fullCompactEvery = 4)

  /** Optional ingest-time decontamination gate: a document sharing any
    * word `n`-gram with the benchmark/eval set is quarantined BEFORE its
    * signatures are computed — it never reaches the index stores or the
    * pair output (a real pipeline blocks contaminated docs at ingest, not
    * in a later batch audit; [[graft.operators.TextAnalysis.contamination]]
    * is that batch audit). The benchmark side's distinct shingles
    * broadcast, so the gate adds no shuffle to the corpus side.
    *
    * @param benchmark the eval set (doc_id, text) — orders of magnitude
    *   smaller than the corpus by assumption
    * @param quarantineDir hits land here (doc columns + n_shared),
    *   id-deduped so a replayed batch re-quarantines idempotently
    * @param systemLogDir when set, each batch with hits logs a WARNING
    *   row (`quarantined=<n>`) to this event-log dir
    */
  final case class ContaminationGate(benchmark: DataFrame,
                                     quarantineDir: String,
                                     n: Int = 8,
                                     systemLogDir: Option[String] = None)

  /** Optional ingest-time per-document gate stack — the q71 batch gates
    * (PII, quality, language, classifier, mixture) applied to each
    * micro-batch BEFORE anything is hashed or indexed: a real pipeline
    * rejects a PII-bearing or off-language document at the door, with an
    * audit trail, not in a nightly sweep. All gates are pure column
    * expressions ([[graft.operators.TextAnalysis.gateVerdict]]), so the
    * stage adds ZERO shuffles to the batch; rejects land id-deduped in
    * `rejectsDir` with their `reject_reason`, so a replayed batch
    * re-rejects idempotently and the reason histogram is queryable.
    */
  final case class DocGate(rejectsDir: String,
                           minQuality: Double = 0.4,
                           lang: String = "en",
                           classifierThreshold: Double = -1.0,
                           rates: Map[String, Double] = Map.empty,
                           defaultRate: Double = 1.0,
                           systemLogDir: Option[String] = None)

  /** ONE triage projection for both ingest gates: the per-doc gate stack's
    * `reject_reason` and the decontamination gate's `n_shared` computed
    * together over the batch and CACHED — the audit writes, the log rows,
    * and the admitted remainder all read the same materialization. The
    * r10 floor came from each gate consumer being its own job over the
    * raw batch (gate stack re-run ~5×, contamination ~3× per batch).
    * Caller must unpersist the returned frame once the admitted rows'
    * signatures are materialized. Semantics preserved from the split
    * gates: the doc gates fire first (a rejected doc is never checked for
    * contamination), contamination runs on the survivors only.
    */
  private[streaming] def triageBatch(seen: DataFrame, docGate: Option[DocGate],
                          gate: Option[ContaminationGate]): DataFrame = {
    val verdict = docGate.fold(
      seen.withColumn("reject_reason", lit(null).cast("string")))(g =>
      TextAnalysis.gateVerdict(seen, g.minQuality, g.lang,
        g.classifierThreshold, g.rates, g.defaultRate))
    gate.fold(verdict.withColumn("n_shared", lit(null).cast("long"))) { g =>
      // (doc_id, n_shared) hits over the gate survivors; the benchmark
      // side broadcasts, so this adds no shuffle to the corpus side
      val hits = TextAnalysis.contamination(
        verdict.where(col("reject_reason").isNull), g.benchmark, g.n)
      verdict.join(hits, Seq("doc_id"), "left_outer")
    }.cache()
  }

  /** Audit writes off the cached triage: rejects (with reasons) and
    * quarantine hits land id-deduped in their dirs, WARNING rows to the
    * system logs. Returns the admitted remainder (still reading the
    * triage cache — unpersist only after its signatures materialize).
    */
  private[streaming] def writeTriage(triage: DataFrame, docGate: Option[DocGate],
                          gate: Option[ContaminationGate]): DataFrame = {
    val spark = triage.sparkSession
    docGate.foreach { g =>
      val rejected = triage.where(col("reject_reason").isNotNull).drop("n_shared")
      val nRejected = IdempotentSink.appendDedup(
        rejected.withColumn("id", col("doc_id").cast("string")), g.rejectsDir)
      if (nRejected > 0) g.systemLogDir.foreach { d =>
        // reason histogram: bounded by the number of gates (≤ 5 rows)
        val hist = rejected.groupBy("reject_reason").count()
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
          .sorted.mkString(" ")
        IdempotentSink.logEvents(spark, d, Seq((
          java.time.Instant.now.toString, "WARNING", "doc_gate", "-",
          s"rejected=$nRejected $hist dir=${g.rejectsDir}")))
      }
    }
    gate.foreach { g =>
      val quarantined = IdempotentSink.appendDedup(
        triage.where(col("reject_reason").isNull && col("n_shared").isNotNull)
          .drop("reject_reason")
          .withColumn("id", col("doc_id").cast("string")),
        g.quarantineDir)
      if (quarantined > 0) g.systemLogDir.foreach { d =>
        IdempotentSink.logEvents(spark, d, Seq((
          java.time.Instant.now.toString, "WARNING", "decontamination_gate", "-",
          s"quarantined=$quarantined dir=${g.quarantineDir}")))
      }
    }
    triage.where(col("reject_reason").isNull && col("n_shared").isNull)
      .drop("reject_reason", "n_shared")
  }

  private[streaming] def antiJoin(rows: DataFrame, existing: Option[DataFrame],
                                  keys: Seq[String]): DataFrame =
    existing match {
      case Some(ex) =>
        rows.join(ex.select(keys.map(col): _*).distinct(), keys, "left_anti")
      case None => rows
    }

  /** Static partition pruning for the history probe: the batch's distinct
    * (band, kb) combinations are bounded by bands × [[KeyBuckets]] (≤ ~1k),
    * so collecting them and pushing an explicit partition-column predicate
    * prunes the band store's directories at PLAN time — deterministic,
    * instead of hoping dynamic partition pruning fires for this join
    * shape. One tiny driver collect per batch.
    */
  private[graft] def pruneToBatchCombos(idx: DataFrame, newBands: DataFrame): DataFrame = {
    def combo(band: org.apache.spark.sql.Column, kb: org.apache.spark.sql.Column) =
      band.cast("long") * KeyBuckets + kb.cast("long")
    val combos = newBands.select(combo(col("band"), col("kb")).as("c"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (combos.isEmpty) idx.limit(0)
    else idx.where(combo(col("band"), col("kb")).isin(combos: _*))
  }

  /** Process one batch of new documents against the persisted index.
    * Returns the number of new near-dup pairs written. Package-visible so
    * the spec can drive it without a streaming harness — and backend-
    * parameterized so the spec proves the dataflow against both the epoch
    * store and the in-memory MERGE model.
    */
  private[graft] def processBatch(batch: DataFrame, stores: IndexStores, pairsDir: String,
                                  n: Int, numPerms: Int, bands: Int,
                                  threshold: Double,
                                  gate: Option[ContaminationGate] = None,
                                  docGate: Option[DocGate] = None): Long = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val spark = batch.sparkSession
    // replay fast-path: docs in the id ledger are fully indexed — skip them
    // before computing anything (the ledger is doc_id-only, never the sigs)
    val seen = antiJoin(batch, stores.ids.read(spark), Seq("doc_id"))
    // gates run AFTER the replay check (quarantine writes are id-deduped
    // anyway, but no point rehashing docs the ledger already admitted) and
    // BEFORE signatures: a rejected doc never reaches index or pairs.
    // Both gates triage in ONE cached pass; the triage cache lives until
    // the admitted docs' signatures are themselves materialized below
    val triage = if (docGate.isEmpty && gate.isEmpty) None
                 else Some(triageBatch(seen, docGate, gate))
    // triage unpersists on the success path as soon as newSigs
    // materializes through it (below), but a throw anywhere before that
    // point — writeTriage's quarantine write, the isEmpty job — must not
    // leave the cached batch persisted for the session (the same
    // block-accumulation class Pins.sweepAll exists for); the outer
    // finally re-unpersists, a no-op when the early release already ran
    try {
    val fresh = triage.fold(seen)(writeTriage(_, docGate, gate))
    val newSigs = Dedup.minhashSignatures(fresh, n, numPerms)
      .repartition(col("doc_id")).cache()
    try {
      // materializes newSigs through the triage cache, after which the
      // triage copy of the batch is dead weight — release it now
      val noneAdmitted = newSigs.isEmpty
      triage.foreach(_.unpersist())
      if (noneAdmitted) return 0L
      // kb = hash bucket of the band key: the store partitions by
      // (band, kb), and the probe joins on kb too, so a batch's candidate
      // fetch dynamic-partition-prunes to the key buckets it actually
      // hashes into instead of scanning every band's full partition
      val newBands = Dedup.bandKeys(newSigs, numPerms, bands, stringKey = true)
        .withColumn("kb", pmod(xxhash64(col("key")), lit(KeyBuckets)))
      // new × new candidates within the batch
      val nn = newBands.as("a").join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // new × history candidates via the persisted band index: the index
      // side is pre-filtered to the batch's (band, kb) combinations — a
      // static partition-column predicate that directory-prunes the store
      // — and the join keys still include both partition columns
      val nh = stores.bands.read(spark) match {
        case Some(idx0) =>
          val idx = pruneToBatchCombos(idx0, newBands)
          newBands.as("a").join(idx.as("b"),
            col("a.band") === col("b.band") && col("a.kb") === col("b.kb") &&
              col("a.key") === col("b.key") && col("a.doc_id") =!= col("b.doc_id"))
            .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        case None => nn.limit(0)
      }
      val cand = nn.union(nh).distinct()
      val allSigs = stores.sigs.read(spark).fold(newSigs)(old =>
        newSigs.unionByName(old.select("doc_id", "sig")))
      val pairs = cand
        .join(allSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
        .join(allSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
        .withColumn("est_jaccard", Dedup.estJaccardExpr(numPerms))
        .where(col("est_jaccard") >= threshold)
        .select(concat_ws("_", col("doc_a"), col("doc_b")).as("id"),
          col("doc_a"), col("doc_b"), col("est_jaccard"))
      val written = IdempotentSink.appendDedup(pairs, pairsDir)
      // index updates: bands/sigs upsert replay-idempotently at ROW
      // granularity — bands by (doc_id, band), sigs by doc_id — so a
      // crash mid-commit that leaves a doc's bands partially visible is
      // healed on replay (only the missing band rows land again). The id
      // ledger lands LAST as an UNCHECKED append: `fresh` was anti-joined
      // against it at the top of the batch, so no doc can reach this
      // write twice — reordering these three writes breaks that contract.
      stores.bands.upsert(newBands, Seq("doc_id", "band"))
      stores.sigs.upsert(newSigs, Seq("doc_id"))
      // the id ledger lands LAST, and `fresh` was already anti-joined
      // against it at the top of the batch — unchecked append, no second
      // full-ledger scan
      stores.ids.append(newSigs.select("doc_id"))
      written
    } finally { newSigs.unpersist(); () }
    } finally { triage.foreach(_.unpersist()); () }
  }

  /** Wire the incremental dedup onto a document stream
    * (columns: doc_id long, text string).
    *
    * Index compaction is DEFERRED here: the stores are built once (long-
    * lived, holding the in-flight fold handle) and `maintain` runs after
    * every batch (see [[startIndexed]]). The write path never folds, so
    * batch latency stays O(batch) even while an O(corpus/k) fold is
    * running alongside.
    */
  def start(docs: DataFrame, indexDir: String, pairsDir: String, checkpointDir: String,
            n: Int = 5, numPerms: Int = 64, bands: Int = 16,
            threshold: Double = 0.5,
            gate: Option[ContaminationGate] = None,
            docGate: Option[DocGate] = None): StreamingQuery = {
    val stores = epochStores(indexDir, deferCompaction = true)
    startIndexed(docs, checkpointDir, stores.maintain) { batch =>
      processBatch(batch, stores, pairsDir, n, numPerms, bands, threshold, gate, docGate)
      ()
    }
  }

  /** The ingest streams' micro-batch loop: persist each batch once (the
    * empty check, the ledger anti-join and the batch body would otherwise
    * each re-execute the micro-batch plan), run `body` on a non-empty
    * batch, then `maintain` the index — after EVERY batch, including
    * empty ones, which are quiescent points to publish a finished
    * background fold's sweep.
    */
  private[streaming] def startIndexed(input: DataFrame, checkpointDir: String,
                                      maintain: SparkSession => Unit)(
      body: DataFrame => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.persist()
        try { if (!batch.isEmpty) body(batch) }
        finally { batch.unpersist(); () }
        maintain(batch.sparkSession)
      }
      .start()
}
