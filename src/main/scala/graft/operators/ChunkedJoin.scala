package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The hot-key chunk join behind every keyed pair join in the engine:
  * the banded and multi-probe Hamming joins, the exact-Jaccard
  * within-family, prefix and signature-key joins, and the streaming
  * history probe. A key shared by a whole crowd — flat-color images
  * posting identical dHash bands, boilerplate posting identical SimHash
  * bands, 10⁶ re-posts of one page — would otherwise pair inside ONE
  * join task. Each key's postings split into [[Rows]]-row chunks, and
  * the pair join distributes over (key, chunk pair), so a crowd of f
  * postings squares across ~(f/512)²/2 chunk pairs instead of one task.
  *
  * Callers supply what differs between them: the chunk order, the
  * chunk-pair relation (every pair, a θ size window, a positional bound,
  * a history fan-out), and the row predicate and output columns they
  * apply to the joined rows. Chunks PARTITION each key's postings, so a
  * chunk-pair relation that keeps every chunk pair a row pair could
  * need leaves the pair output identical to the flat key join.
  */
private[graft] object ChunkedJoin {

  /** Postings per chunk. */
  private[graft] val Rows = 512

  /** `postings` plus `cid`: its chunk id within `key`, (row_number over
    * `key` in `order`) − 1) / [[Rows]]. */
  private[graft] def chunkIds(postings: DataFrame, key: Seq[String],
                              order: Seq[Column]): DataFrame =
    postings.withColumn("cid", ((row_number().over(
      Window.partitionBy(key.map(col): _*).orderBy(order: _*)) - 1) / Rows).cast("long"))

  /** left ⋈ chunk pairs ⋈ right on `key`, hot keys split into chunks.
    * Both sides carry the `key` columns and the `order` columns; each
    * side's postings are chunked in `order` within `key`, and
    * `chunkPairs(chunked left, chunked right)` (both with `cid`) returns
    * the chunk pairs to join: (key…, clo, chi).
    *
    * Two disciplines keep the quadratic emission spread across tasks at
    * every corpus size (each was defeated in measurement without it):
    *   - an EXPLICIT-count repartition on (key…, chunk) directly under
    *     each join, on the post-rename join keys. A chunk pair's join
    *     input is ≤ 1024 thin rows but its output up to 512² pairs, and
    *     AQE's coalescing reads input sizes only: left to itself it
    *     folds every chunk of a hot key back into one task (measured:
    *     30 partitions → 1). REPARTITION_BY_NUM shuffles are exempt from
    *     coalescing. Placed below a renaming Project, the repartition
    *     was re-exchanged on the join keys anyway, burying the exempt
    *     shuffle under a coalescible one;
    *   - shuffle_hash hints pin the join STRATEGY: on a small corpus
    *     both posting sides fit under the broadcast threshold, Spark
    *     broadcasts them, and the thin chunk-pair relation becomes the
    *     streamed side — AQE-coalesced to ONE partition (measured: a
    *     10k-posting hot key emitted all C(10⁴,2) rows in one task).
    *
    * No pin here: each posting relation is consumed by the chunk-pair
    * relation and a join side, and exchange reuse does not hold across
    * AQE query stages, so callers with an expensive sketch or decode
    * upstream pin their (small) input themselves (unpinned, the pHash
    * caller re-ran its image decode per consumer: 4.8 s of decode
    * inflating the operator to 28 s). Session-lived pinned
    * blocks of the wider posting relations measurably slowed unrelated
    * queries (q178 1.8 s → 4.8 s), and a checkpoint above the
    * repartition would erase its partitioning.
    *
    * Output: key…, clo, chi, then every other left column suffixed
    * `_a` and every other right column suffixed `_b`.
    */
  private[graft] def apply(left: DataFrame, right: DataFrame, key: Seq[String],
                           order: Seq[Column])(
      chunkPairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val parts = left.sparkSession.sessionState.conf.numShufflePartitions
    val l = chunkIds(left, key, order)
    val r = chunkIds(right, key, order)
    def side(chunked: DataFrame, chunk: String, suffix: String) =
      chunked.select(key.map(col) ++ Seq(col("cid").as(chunk)) ++
          chunked.columns.filterNot(c => c == "cid" || key.contains(c))
            .map(c => col(c).as(c + suffix)): _*)
        .repartition(parts, (key :+ chunk).map(col): _*)
    side(l, "clo", "_a")
      .join(chunkPairs(l, r).hint("shuffle_hash"), key :+ "clo")
      .join(side(r, "chi", "_b").hint("shuffle_hash"), key :+ "chi")
  }
}
