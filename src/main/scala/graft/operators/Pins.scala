package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** Session-configurable pinning for multi-consumer relations.
  *
  * Several operators pin a small expensive-to-derive relation (a 24-byte
  * sketch row, a decoded image hash) because their banded joins re-derive
  * every upstream per consumer across AQE query stages — exchange reuse
  * does not survive query-stage boundaries, so an unpinned sketch pipeline
  * runs once per consumer (measured: the pHash caller re-ran its PNG
  * decode 3×, 4.8 s of decode inflating the operator to 28 s).
  *
  * The pin mechanism is a deployment decision, so it reads
  * `spark.graft.pin.mode` from the session:
  *
  *   - `local` (default): eager `localCheckpoint` — blocks live on
  *     executors, NON-REPLICATED, and are reaped by the ContextCleaner
  *     once the plan is unreferenced. This assumes a deployment where
  *     executor loss is not survived mid-query anyway (single-tenant
  *     local mode, static allocation without spot nodes). On a cluster
  *     with dynamic allocation / spot executors, losing an executor makes
  *     every downstream stage of the pinned plan unrecoverable — use
  *     `reliable` there.
  *   - `reliable`: `checkpoint(eager = true)` to the session's
  *     `SparkContext.setCheckpointDir` location — survives executor loss;
  *     costs a write to the checkpoint filesystem. Requires the
  *     checkpoint dir to be set (Spark errors otherwise).
  *   - `none`: no pin — always correct, upstreams re-derive per consumer.
  *
  * Harness note: pinned blocks are SESSION-lived until the cleaner
  * notices the plan is dead (a full GC cycle away on a big driver heap).
  * A harness running hundreds of independent queries in one session
  * should call [[sweepAll]] between them — accumulated pins from earlier
  * entries measurably slowed unrelated queries in the r10 bench
  * (q37 2.8 → 10.9 s monotone across passes).
  */
object Pins {

  /** Pin `df` per the session's `spark.graft.pin.mode` (see class doc).
    * When the conf is UNSET the default is deployment-derived via
    * [[defaultMode]] rather than a constant `local` — localCheckpoint
    * blocks are non-replicated, so on a dynamic-allocation deployment
    * (where executor loss is routine, not exceptional) a constant `local`
    * default would silently plant an unrecoverable-lineage footgun inside
    * every pinned query path.
    */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val mode = spark.conf.getOption("spark.graft.pin.mode")
      .getOrElse(defaultMode(
        spark.conf.getOption("spark.dynamicAllocation.enabled")
          .exists(_.equalsIgnoreCase("true")),
        spark.sparkContext.getCheckpointDir.isDefined))
    mode match {
      case "local"    => df.localCheckpoint(true)
      case "reliable" => df.checkpoint(true)
      case "none"     => df
      case other => throw new IllegalArgumentException(
        s"spark.graft.pin.mode=$other — expected local | reliable | none")
    }
  }

  /** The deployment-derived default pin mode (explicit
    * `spark.graft.pin.mode` always wins):
    *
    *   - static allocation (the local / dedicated-cluster case):
    *     `local` — eager localCheckpoint, the measured multi-consumer fix;
    *   - dynamic allocation WITH a checkpoint dir: `reliable` — executors
    *     come and go by design, so pins must survive executor loss;
    *   - dynamic allocation WITHOUT a checkpoint dir: `none` — correctness
    *     over speed: upstreams re-derive per consumer rather than risking
    *     an unrecoverable stage on the first reclaimed executor.
    */
  private[graft] def defaultMode(dynamicAllocation: Boolean,
                                 hasCheckpointDir: Boolean): String =
    if (!dynamicAllocation) "local"
    else if (hasCheckpointDir) "reliable"
    else "none"

  /** (count, memory bytes, disk bytes) of every block-persisted RDD still
    * registered with the session — pinned checkpoints and caches alike.
    * The bench's per-entry census column: a monotone climb here is the
    * accumulated-pins signature; flat means entry-to-entry interference
    * is not block-storage. */
  def census(spark: SparkSession): (Int, Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  /** Unpersist EVERY persistent RDD in the session — including localCheckpoint
    * blocks, whose lineage is already truncated, so the swept plans must
    * never be re-executed. Strictly a harness tool for BETWEEN independent
    * queries (Bench, Verify): inside an operator this would corrupt live
    * plans. Returns the pre-sweep census. */
  def sweepAll(spark: SparkSession): (Int, Long, Long) = {
    val before = census(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    before
  }
}
