package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Key-addressable store abstraction for incrementally-maintained state
  * tables (the dedup/ANN index stores): `upsert` must be IDEMPOTENT per
  * key — replaying the same rows leaves the store unchanged — which is the
  * contract the reference's read-modify-write sheet protocol provides
  * (write_pipeline.py:151-183) and a Delta/Iceberg MERGE provides natively.
  *
  * Two shipped implementations:
  *   - [[EpochKeyedStore]] (the durable store): true-upsert MERGE store
  *     over epoch-versioned base+delta parquet — O(batch) writes with no
  *     existing-keys scan, newest-epoch-wins reads, auto-compaction;
  *   - [[InMemoryKeyedStore]]: true upsert semantics in memory — the MERGE
  *     model the specs compare the durable store against, and the template
  *     for a Delta/Iceberg binding.
  *
  * Swapping backends must not touch the dataflow: [[graft.streaming.DedupStream]]
  * takes its three stores as parameters.
  */
trait KeyedStore {
  /** Full store contents, or None when the store is empty/nonexistent. */
  def read(spark: SparkSession): Option[DataFrame]

  /** Idempotent keyed append: a row whose key tuple is already present
    * replaces the stored row (the MERGE shape: the new row wins), so a
    * replay is a no-op. `keys` must be row-granular for the table — one
    * stored row per key tuple — or a crash mid-append could leave a key
    * partially written yet judged complete on replay.
    */
  def upsert(rows: DataFrame, keys: Seq[String]): Unit

  /** Unchecked append for rows the CALLER already proved fresh (e.g. the
    * batch was anti-joined against this store's keys at the top of the
    * dataflow): skips the per-upsert existing-keys scan. Using it with
    * possibly-present keys breaks the store's key-uniqueness contract.
    */
  def append(rows: DataFrame): Unit

  /** Owner-called maintenance hook, designed to sit BETWEEN batches — a
    * quiescent point where no reader planned against the store's current
    * files is still executing. Backends with deferred housekeeping
    * (e.g. [[EpochKeyedStore]]'s background compaction) override it;
    * the default is a no-op so dataflows can call it unconditionally.
    */
  def maintain(spark: SparkSession): Unit = ()
}

/** True-upsert in-memory store — the Delta/Iceberg MERGE shape: on key
  * collision the NEW row wins (old rows with colliding keys are dropped
  * before the union; a bare dropDuplicates over the union would keep an
  * arbitrary side). Each upsert materializes (localCheckpoint) so lineage
  * never grows across batches. Spec/backing-template use; not for
  * production state.
  */
final class InMemoryKeyedStore extends KeyedStore {
  private var data: Option[DataFrame] = None

  override def read(spark: SparkSession): Option[DataFrame] = synchronized(data)

  override def upsert(rows: DataFrame, keys: Seq[String]): Unit = synchronized {
    val deduped = rows.dropDuplicates(keys)
    val merged = data match {
      case Some(old) =>
        deduped.unionByName(
          old.join(deduped.select(keys.map(col): _*).distinct(), keys, "left_anti"))
      case None => deduped
    }
    data = Some(merged.localCheckpoint(true))
  }

  override def append(rows: DataFrame): Unit = synchronized {
    val merged = data match {
      case Some(old) => rows.unionByName(old)
      case None => rows
    }
    data = Some(merged.localCheckpoint(true))
  }
}
