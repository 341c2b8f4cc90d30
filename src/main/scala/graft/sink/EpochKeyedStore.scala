package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Durable TRUE-UPSERT keyed store: an epoch-versioned parquet MERGE table
  * — the Delta/Iceberg-shaped backend the [[KeyedStore]] contract was
  * written for, built from plain parquet + the create-file `_COMMIT`
  * publication pattern (no table-format jars needed; same machinery as
  * [[graft.operators.Similarity]]'s versioned ANN index).
  *
  * Layout (LSM shape):
  * {{{
  *   dir/base/epoch=<n>/   L2: one compacted snapshot holding every epoch ≤ n
  *   dir/merge/epoch=<n>/  L1: a partial fold of the deltas in (base, n]
  *   dir/delta/epoch=<n>/  L0: one upsert/append batch
  * }}}
  * All tiers share one increasing epoch sequence; every epoch directory
  * publishes via a `_COMMIT` marker (one atomic file create — object-store
  * safe, never a directory rename). Readers see only committed epochs, so
  * a crash mid-write leaves an invisible stage dir that the next
  * compaction sweeps. The merge tier exists only under tiered compaction
  * (`fullCompactEvery > 1`): most folds then cost O(pending deltas), not
  * O(corpus), and the O(corpus) base fold runs every k-th fold instead of
  * every fold.
  *
  * The contract costs, versus [[ParquetKeyedStore]]'s append emulation:
  *   - `upsert` is WRITE-ONLY — one delta per batch, O(batch) work, no
  *     existing-keys scan of the store at all (the emulation's O(store)
  *     anti-join per batch is gone). Key collisions resolve at READ time:
  *     for each merge-key tuple the row from the newest epoch wins —
  *     exactly the MERGE shape [[InMemoryKeyedStore]] spec-pins.
  *   - `read` unions the newest committed base, the newest committed L1
  *     merge above it (tiered mode), and the committed deltas above both,
  *     resolving newest-wins with one window over `mergeKeys`;
  *     [[compact]] (auto-triggered once the delta tier exceeds
  *     `compactAfterDeltas`) folds everything into a new base so the file
  *     count — and the merge window's duplicate work — stays bounded.
  *
  * Filter pushdown survives the merge: predicates over `mergeKeys` columns
  * (and hence over `partitionCols`, which must be covered by `mergeKeys` —
  * extend the logical key with functionally-dependent columns like the
  * band store's key bucket) push below the window to the scan, so
  * partition-pruned probes keep pruning.
  *
  * A directory previously written by [[ParquetKeyedStore]] (flat or
  * hive-partitioned, no epoch tiers) reads as an implicit epoch-0 base, so
  * swapping backends on an existing store is a binding change, not a
  * migration; the first compaction folds the legacy files into a real base
  * and sweeps them.
  *
  * Single-writer, like the reference's sheet protocol, and ENFORCED: a
  * delta write claims its epoch directory with an exclusive `_STAGE`
  * create before writing, so a second concurrent writer racing the epoch
  * counter errors instead of silently colliding.
  *
  * @param mergeKeys  read-side resolution key: one surviving row per tuple,
  *   newest epoch wins. Must cover `partitionCols` so pruning predicates
  *   push through the merge window. PRECONDITION: any mergeKeys column
  *   beyond the caller's upsert `keys` (e.g. the band store's `kb`) must be
  *   functionally dependent on those keys — if the same caller key ever
  *   arrives with a different extension value, the read-side merge resolves
  *   on the WIDER tuple and both rows survive where the other backends
  *   would replace.
  * @param partitionCols hive layout beneath each epoch (e.g. the band
  *   store's (band, kb)) — the probe side's pruning granularity
  * @param partitionDeltas apply `partitionCols` to DELTA writes too
  *   (default). Directory pruning pays off on the O(corpus) base/merge
  *   tiers; a delta is O(batch), and row-group filtering over a handful
  *   of plain files reads it just as well — while a partitioned delta
  *   write fans one batch into |live partition values| tiny files whose
  *   driver-side commit dominates the batch (measured on the dedup-stream
  *   band store: ~600 files, ~16 s of a 26 s batch at probe scale). Set
  *   false for high-frequency upsert streams; folds keep the hive layout
  *   either way, so steady-state reads still prune
  * @param compactAfterDeltas committed deltas above the base tolerated
  *   before a write auto-compacts
  * @param coalesceTo small-file control applied to delta AND base writes;
  *   None keeps the plan's natural parallelism (big partitioned stores)
  * @param verifyMergeDependency debug mode: every upsert re-checks that
  *   the post-merge view holds exactly one row per CALLER key tuple —
  *   catches a violated functional-dependency precondition (same caller
  *   key, different extension value across epochs) at write time instead
  *   of as silent duplicate survivors. One extra aggregation per upsert;
  *   leave off in production
  * @param deferCompaction decouple compaction from the write path: writes
  *   NEVER fold (no write-blocking stall however large the fold grows);
  *   instead the owner calls [[maintain]] between batches, which runs the
  *   fold on a background thread while reads keep serving the old
  *   committed epochs, and publishes/sweeps at the next quiescent point.
  *   The LSM posture — the reference never blocks its write path on
  *   maintenance either (write_pipeline.py:120-137 decouples via the
  *   consumer thread). Requires a LONG-LIVED store instance (the in-flight
  *   fold handle lives on it; constructing a fresh instance per batch
  *   could start overlapping folds) and an owner that calls `maintain`
  * @param fullCompactEvery tiered-compaction policy for [[maintain]]:
  *   1 (default) = every fold is a FULL base fold (O(corpus)); k > 1 =
  *   folds 1..k−1 are PARTIAL — old merge + pending deltas fold into a
  *   new L1 merge epoch, O(accumulated-since-base) — and every k-th fold
  *   (or any fold with a legacy layout present) goes to base. Caps the
  *   read-side member count at merge+pending instead of all pending,
  *   and divides base-fold frequency by k. [[compact]] is always full
  */
final class EpochKeyedStore(dir: String,
                            mergeKeys: Seq[String],
                            partitionCols: Seq[String] = Nil,
                            partitionDeltas: Boolean = true,
                            compactAfterDeltas: Int = 16,
                            coalesceTo: Option[Int] = Some(1),
                            verifyMergeDependency: Boolean = false,
                            deferCompaction: Boolean = false,
                            fullCompactEvery: Int = 1) extends KeyedStore {
  require(mergeKeys.nonEmpty, "EpochKeyedStore needs at least one merge key")
  require(partitionCols.forall(mergeKeys.contains),
    s"partitionCols ${partitionCols.mkString(",")} must be covered by mergeKeys " +
      s"${mergeKeys.mkString(",")} or pruning predicates cannot push through the merge")

  private val layout = new EpochLayout("epoch=")

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (epoch, path, committed) for one tier; empty when the tier is absent. */
  private def listEpochs(fs: FileSystem, tier: String): Seq[(Long, Path, Boolean)] =
    layout.list(fs, new Path(s"$dir/$tier"))

  /** Pre-epoch [[ParquetKeyedStore]] content directly under `dir`: data
    * files / hive dirs that are not the base/delta tiers. Read as an
    * implicit epoch-0 base until a compaction folds and sweeps it.
    */
  private def legacyPaths(fs: FileSystem): Seq[Path] = {
    val root = new Path(dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n != "base" && n != "merge" && n != "delta" &&
          !n.startsWith("_") && !n.startsWith(".") &&
          (s.isDirectory || n.endsWith(".parquet"))
      }
      .map(_.getPath)
  }

  /** A committed epoch participates in the read only if it actually holds
    * data files. The recorded `files=` count (written at commit) makes the
    * empty case checkable: zero files against a recorded zero (or a legacy
    * markless count) is a legitimately-empty epoch and is skipped; any
    * OTHER mismatch is a data file missing under a committed marker —
    * corruption — and raises instead of reading a populated store as empty
    * (which would hand a dedup stream an empty index and silently re-admit
    * its whole history). Schema drift across epochs likewise propagates
    * from the strict unionByName instead of being swallowed.
    */
  private def validMember(f: FileSystem, p: Path): Boolean = {
    val actual = layout.dataFileCount(f, p)
    layout.committedCount(f, p) match {
      case Some(expected) if expected != actual =>
        throw new IllegalStateException(
          s"epoch store $dir: $p committed with files=$expected but $actual data " +
            "files found — refusing to read a corrupt epoch (restore the files or " +
            "delete the epoch dir to drop its batch)")
      case _ => actual > 0
    }
  }

  /** The committed members visible at one listing instant: the newest
    * committed base, the committed deltas above it, the legacy tier.
    * [[foldOnce]] folds exactly one snapshot, so deltas committed WHILE a
    * background fold runs are simply not in it — they carry higher epoch
    * numbers, stay above the published base, and keep winning the merge.
    */
  private final case class Snapshot(base: Option[(Long, Path)],
                                    merge: Option[(Long, Path)],
                                    deltas: Seq[(Long, Path)],
                                    legacy: Seq[Path]) {
    def isEmpty: Boolean =
      base.isEmpty && merge.isEmpty && deltas.isEmpty && legacy.isEmpty
  }

  private def snapshot(f: FileSystem): Snapshot = {
    val bases = listEpochs(f, "base").filter(_._3)
    val baseOpt = bases.lastOption.filter(b => validMember(f, b._2)).map(b => (b._1, b._2))
    val floor = bases.lastOption.map(_._1).getOrElse(-1L)
    // newest committed L1 merge above the base; merges the base folded in
    // are superseded (swept lazily)
    val mergeOpt = listEpochs(f, "merge")
      .filter(m => m._3 && m._1 > floor).lastOption
      .filter(m => validMember(f, m._2)).map(m => (m._1, m._2))
    val mfloor = math.max(floor, mergeOpt.map(_._1).getOrElse(-1L))
    val deltas = listEpochs(f, "delta")
      .filter(d => d._3 && d._1 > mfloor && validMember(f, d._2))
      .map(d => (d._1, d._2))
    Snapshot(baseOpt, mergeOpt, deltas,
      legacyPaths(f).filter(p => layout.dataFileCount(f, p) > 0))
  }

  /** Newest-wins merge over one snapshot's members. */
  private def mergedFrom(spark: SparkSession, snap: Snapshot): Option[DataFrame] = {
    val members = Seq.newBuilder[DataFrame]
    // legacy tier = epoch 0; a committed base always supersedes it per key
    // (the base folded it in), so including both is crash-safe, never wrong
    if (snap.legacy.nonEmpty)
      members += spark.read.option("basePath", dir)
        .parquet(snap.legacy.map(_.toString): _*)
        .withColumn("__epoch", lit(0L))
    snap.base.foreach { case (n, p) =>
      members += spark.read.parquet(p.toString).withColumn("__epoch", lit(n))
    }
    snap.merge.foreach { case (n, p) =>
      members += spark.read.parquet(p.toString).withColumn("__epoch", lit(n))
    }
    // deltas read per-directory: a store that switched `partitionDeltas`
    // mid-life holds hive-partitioned AND flat delta epochs side by side,
    // and one multi-path read cannot infer both layouts — per-dir reads
    // auto-detect each epoch's own layout (the delta count is bounded by
    // compactAfterDeltas, so this stays a handful of scans)
    snap.deltas.foreach { case (n, p) =>
      members += spark.read.parquet(p.toString).withColumn("__epoch", lit(n))
    }
    val parts = members.result()
    if (parts.isEmpty) None
    else {
      val all = parts.reduce(_ unionByName _)
      val w = Window.partitionBy(mergeKeys.map(col): _*).orderBy(col("__epoch").desc)
      Some(all
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .drop("__rn", "__epoch"))
    }
  }

  override def read(spark: SparkSession): Option[DataFrame] =
    mergedFrom(spark, snapshot(fs(spark)))

  // all three tiers participate in allocation: after a partial fold
  // sweeps the folded deltas, the surviving merge epoch must still keep
  // new deltas above it or newest-wins resolution would invert
  private def nextEpoch(f: FileSystem): Long =
    layout.next(f, Seq(new Path(s"$dir/base"), new Path(s"$dir/merge"),
      new Path(s"$dir/delta")))

  /** Claim an epoch directory with one exclusive `_STAGE` create: two
    * writers that both computed the same next epoch cannot both win — the
    * loser errors here instead of silently interleaving part files with
    * the winner's batch. A crashed claim leaves an uncommitted dir that
    * stays invisible (and is never renumbered: [[nextEpoch]] allocates
    * above uncommitted dirs too) until a compaction sweeps it.
    *
    * Exclusivity note: `create(overwrite=false)` is atomic on HDFS, the
    * local FS, ABFS and GCS; on S3A (without conditional-write support
    * enabled) it is check-then-act, so there the claim is best-effort
    * defense in depth — the single-writer contract itself remains the
    * caller's responsibility on such stores. Implementations also differ
    * in exception type (`FileAlreadyExistsException` vs a plain
    * `IOException` naming the existing path), so both map to the
    * claim-collision error here.
    */
  private[graft] def claimEpoch(f: FileSystem, target: Path): Unit = {
    def collision(e: java.io.IOException): Nothing =
      throw new IllegalStateException(
        s"epoch store $dir: $target is already claimed — a concurrent writer " +
          "raced this upsert (the store is single-writer, like the reference's " +
          "sheet protocol); serialize writers and retry", e)
    try f.create(new Path(target, "_STAGE"), false).close()
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => collision(e)
      case e: java.io.IOException
          if f.exists(new Path(target, "_STAGE")) => collision(e)
    }
  }

  private def writeDelta(rows: DataFrame): Path = {
    val spark = rows.sparkSession
    val f = fs(spark)
    val target = new Path(s"$dir/delta/${layout.dirName(nextEpoch(f))}")
    claimEpoch(f, target)
    val shaped = coalesceTo.fold(rows)(rows.coalesce)
    // Append, not Overwrite: the claimed dir already exists (holding the
    // `_STAGE` marker), and an Overwrite would delete the claim mid-write
    val w = shaped.write.mode(SaveMode.Append)
    if (partitionCols.nonEmpty && partitionDeltas)
      w.partitionBy(partitionCols: _*).parquet(target.toString)
    else w.parquet(target.toString)
    layout.commit(f, target, recordFileCount = true)
    if (!deferCompaction && foldDue(f)) compact(spark)
    target
  }

  /** Delta tier over threshold, or a legacy layout awaiting its fold-in.
    * Pending counts above the newest committed base OR merge — deltas a
    * partial fold already absorbed are not pending. */
  private def foldDue(f: FileSystem): Boolean = {
    val floor = listEpochs(f, "base").filter(_._3).lastOption.map(_._1).getOrElse(-1L)
    val mfloor = math.max(floor,
      listEpochs(f, "merge").filter(_._3).lastOption.map(_._1).getOrElse(-1L))
    val pending = listEpochs(f, "delta").count(d => d._3 && d._1 > mfloor)
    pending > compactAfterDeltas || (legacyPaths(f).nonEmpty && pending > 0)
  }

  /** MERGE write: one delta, deduped within the batch on the caller's key
    * (which must be covered by `mergeKeys` — same tuple, possibly minus the
    * functionally-dependent extensions). No store scan.
    */
  override def upsert(rows: DataFrame, keys: Seq[String]): Unit = {
    require(keys.forall(mergeKeys.contains),
      s"upsert keys ${keys.mkString(",")} not covered by mergeKeys ${mergeKeys.mkString(",")}")
    val delta = writeDelta(rows.dropDuplicates(keys))
    if (verifyMergeDependency) read(rows.sparkSession).foreach { merged =>
      val dups = merged.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
      val sample = dups.limit(1).collect()
      if (sample.nonEmpty)
        throw new IllegalStateException(
          s"epoch store $dir: caller key ${keys.mkString(",")} tuple " +
            s"${sample.head.toSeq.init.mkString("(", ",", ")")} survives the merge " +
            s"${sample.head.getLong(keys.size)} times — a mergeKeys extension column " +
            "is not functionally dependent on the upsert keys (the same key arrived " +
            s"with different extension values across epochs). The violating batch " +
            s"was just committed as $delta — delete that epoch directory to drop it")
    }
  }

  /** Caller-proved-fresh rows: same write path, minus the in-batch dedup. */
  override def append(rows: DataFrame): Unit = writeDelta(rows)

  /** Fold one snapshot of the committed members into a staged base epoch
    * and publish it with one `_COMMIT` create — NO sweep (the caller owns
    * that; see [[compact]] and [[maintain]]). Returns the published (or
    * already-published) base epoch, or -1 when the store is empty.
    *
    * Safe under a live write path: the target epoch `n` is fixed from a
    * committed-epoch listing taken BEFORE the snapshot, so the snapshot
    * can only contain MORE than the epochs ≤ n (commits are monotone and
    * sweeps never run concurrently with a fold) — a delta that slips into
    * the snapshot with epoch > n is folded in early but still wins the
    * merge window above base n, so the result is identical either way.
    * The reverse order would be a data-loss bug: a base published as n+1
    * that never read delta n+1 would supersede it in every later read.
    */
  private def foldOnce(spark: SparkSession): Long = {
    val f = fs(spark)
    val committed = (listEpochs(f, "base") ++ listEpochs(f, "merge") ++
      listEpochs(f, "delta")).filter(_._3).map(_._1)
    val snap = snapshot(f)
    if (committed.isEmpty && snap.legacy.isEmpty) return -1L
    val n = if (committed.isEmpty) 1L else committed.max
    val current = listEpochs(f, "base").filter(_._3).lastOption
    if (current.exists(_._1 == n)) {
      // base n is already published — a previous compact crashed after
      // its _COMMIT but before the sweep. Everything ≤ n (and the legacy
      // tier, which that base folded in) is superseded: only the sweep
      // remains; never rewrite the directory readers are on.
      return n
    }
    mergedFrom(spark, snap) match {
      case None => -1L
      case Some(merged) =>
        val target = new Path(s"$dir/base/${layout.dirName(n)}")
        val shaped = coalesceTo.fold(merged)(merged.coalesce)
        // Overwrite is safe here: compaction is the single writer's own
        // maintenance step, and a crashed previous attempt at this epoch
        // (uncommitted partial dir) should be replaced, not collided with
        val w = shaped.write.mode(SaveMode.Overwrite)
        if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*).parquet(target.toString)
        else w.parquet(target.toString)
        layout.commit(f, target, recordFileCount = true)
        n
    }
  }

  /** Fold the current merged view into a new base epoch and sweep what it
    * supersedes: older bases, folded deltas, legacy flat files, and
    * crashed (uncommitted) stage dirs below the new epoch. Publication is
    * the `_COMMIT` create, so readers switch atomically and a crash mid-
    * sweep only leaves already-superseded directories for the next call to
    * finish sweeping. Synchronous; drains any background fold first.
    */
  def compact(spark: SparkSession): Unit = {
    awaitMaintenance(spark)
    val n = foldOnce(spark)
    if (n >= 0) sweepBelow(fs(spark), n)
    synchronized { partialsSinceFull = 0 }
  }

  /** At most one in-flight background fold (deferCompaction mode). */
  private final class Fold(val full: Boolean) {
    @volatile var thread: Thread = _
    @volatile var failure: Option[Throwable] = None
    @volatile var published: Long = -1L
  }
  @volatile private var inFlight: Option[Fold] = None
  // partial folds since the last base fold — the fullCompactEvery policy
  // counter; guarded by the store's monitor (maintain/awaitMaintenance/
  // compact are the only writers). Resets on restart: policy, not state.
  private var partialsSinceFull = 0

  /** Harvest a FINISHED background fold: clear the handle, rethrow its
    * failure, sweep below its published epoch (base sweep for a full
    * fold, merge sweep for a partial one). The sweep runs only here — in
    * the owner's thread, at a quiescent point — so no reader that
    * planned against the old epochs (the fold itself, or the owner's
    * previous batch) can still be executing when their files vanish.
    */
  private def harvest(spark: SparkSession, fold: Fold): Unit = {
    inFlight = None
    fold.failure.foreach(e => throw new IllegalStateException(
      s"epoch store $dir: background compaction failed — the delta tier keeps " +
        "accumulating (reads stay correct, just wider) until a fold succeeds", e))
    if (fold.published >= 0) {
      if (fold.full) { sweepBelow(fs(spark), fold.published); partialsSinceFull = 0 }
      else { sweepBelowMerge(fs(spark), fold.published); partialsSinceFull += 1 }
    }
  }

  /** Drain any in-flight background fold: block until it finishes, publish
    * its sweep, rethrow its failure. The owner's clean-shutdown hook (and
    * how [[compact]] serializes with the background path).
    */
  def awaitMaintenance(spark: SparkSession): Unit = synchronized {
    inFlight.foreach { fold => fold.thread.join(); harvest(spark, fold) }
  }

  /** Owner-called maintenance step (deferCompaction mode), designed to sit
    * AFTER each micro-batch commit: never blocks on fold work. If a
    * background fold finished since the last call, publish its sweep; if
    * one is still running, return immediately (reads keep serving the old
    * committed epochs); otherwise start one when the delta tier is over
    * threshold. The fold runs on a daemon thread owned by THIS instance —
    * the single-writer contract is preserved because the same owner that
    * writes deltas schedules the folds, and delta epochs allocated while a
    * fold runs are always above the fold's target (see [[foldOnce]]).
    */
  override def maintain(spark: SparkSession): Unit = synchronized {
    inFlight match {
      case Some(fold) if fold.thread.isAlive => return
      case Some(fold) => harvest(spark, fold)
      case None => ()
    }
    val f = fs(spark)
    if (foldDue(f)) {
      // tiered policy: k−1 partial folds (O(accumulated-since-base)),
      // then a full base fold. Full also when no base exists yet — with
      // nothing below it a partial would rewrite the whole index for the
      // same cost WITHOUT establishing the base that makes later partials
      // cheap — and when a legacy layout awaits its fold-in
      val goFull = fullCompactEvery <= 1 || legacyPaths(f).nonEmpty ||
        listEpochs(f, "base").forall(!_._3) ||
        partialsSinceFull >= fullCompactEvery - 1
      val fold = new Fold(goFull)
      fold.thread = new Thread(() => {
        try {
          spark.sparkContext.setJobDescription(
            s"epoch store background ${if (goFull) "base" else "partial"} compaction: $dir")
          fold.published = if (goFull) foldOnce(spark) else partialFoldOnce(spark)
        } catch { case scala.util.control.NonFatal(e) => fold.failure = Some(e) }
      }, s"graft-epoch-compact-${new Path(dir).getName}")
      fold.thread.setDaemon(true)
      fold.thread.start()
      inFlight = Some(fold)
    }
  }

  /** Delete everything the committed base at epoch `n` supersedes. */
  private def sweepBelow(f: FileSystem, n: Long): Unit = {
    layout.sweep(f, new Path(s"$dir/base")) { case (e, _) => e < n }
    layout.sweep(f, new Path(s"$dir/merge")) { case (e, _) => e <= n }
    layout.sweep(f, new Path(s"$dir/delta")) { case (e, _) => e <= n }
    legacyPaths(f).foreach(p => f.delete(p, true))
  }

  /** Delete everything the committed L1 merge at epoch `n` supersedes:
    * older merges and the deltas it folded. Base/legacy are untouched. */
  private def sweepBelowMerge(f: FileSystem, n: Long): Unit = {
    layout.sweep(f, new Path(s"$dir/merge")) { case (e, _) => e < n }
    layout.sweep(f, new Path(s"$dir/delta")) { case (e, _) => e <= n }
  }

  /** Fold the old L1 merge (if any) + the pending deltas into a NEW merge
    * epoch at the highest pending delta epoch — O(accumulated-since-base)
    * work that never reads the base or legacy tiers. Same crash contract
    * as [[foldOnce]]: publication is the single `_COMMIT` create, the
    * caller owns the sweep ([[sweepBelowMerge]]), and a kill mid-fold
    * leaves an unmarked dir readers ignore. All members come from ONE
    * snapshot and the target epoch is their max, so a delta committed
    * while the fold runs is simply above the target, stays in the read
    * set, and keeps winning the merge window. With nothing pending,
    * returns the current merge epoch so an interrupted sweep can finish.
    */
  private def partialFoldOnce(spark: SparkSession): Long = {
    val f = fs(spark)
    val snap = snapshot(f)
    if (snap.deltas.isEmpty) return snap.merge.map(_._1).getOrElse(-1L)
    val n = snap.deltas.map(_._1).max
    mergedFrom(spark, snap.copy(base = None, legacy = Nil)) match {
      case None => -1L
      case Some(merged) =>
        val target = new Path(s"$dir/merge/${layout.dirName(n)}")
        val shaped = coalesceTo.fold(merged)(merged.coalesce)
        // Overwrite: a crashed previous partial attempt at this epoch is
        // replaced, same as the base fold
        val w = shaped.write.mode(SaveMode.Overwrite)
        if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*).parquet(target.toString)
        else w.parquet(target.toString)
        layout.commit(f, target, recordFileCount = true)
        n
    }
  }
}
