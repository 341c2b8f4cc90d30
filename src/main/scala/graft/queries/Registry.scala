package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named Spark builder over a table directory. */
sealed trait Entry {
  def name: String
  def build: (SparkSession, String) => DataFrame
}

/** An oracle-checked query: its Spark builder and the DuckDB SQL that must
  * return the same rows, side by side.
  *
  * Numeric outputs are either exact (counts, min/max,
  * decimal-summed-then-double) or rounded at a grid far above both
  * engines' float noise, so hashes match bit-for-bit. Timestamps are always
  * emitted as formatted strings — parquet µs vs ns physical types can never
  * skew the compare.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, sql: String)
  extends Entry

/** Bench-only production-hash twin of the query with the same number: the
  * same builder with `HashBase.Xx` where the query passes `HashBase.Md5`.
  * xxhash64 is not recomputable in an md5-only oracle engine, so a twin has
  * no SQL; the swap's correctness is spec-pinned instead (same survivor
  * shape / independent recompute in DedupSimilaritySpec). Bench runs the
  * twins beside the oracle queries so the md5-vs-production cost gap is a
  * measured number, not a claim — md5 per token/k-gram is the dominant CPU
  * cost of q45/q67/q71-class queries.
  */
final case class Twin(name: String, build: (SparkSession, String) => DataFrame) extends Entry

/** Entries in a fixed order; a name registered twice fails construction. */
final class Registry(val entries: Seq[Entry]) {
  private val byName: Map[String, Entry] = entries.groupMapReduce(_.name)(identity) { (e, _) =>
    throw new IllegalArgumentException(s"query name registered twice: ${e.name}")
  }

  /** The oracle-checked queries, in registry order. */
  val queries: Seq[Query] = entries.collect { case q: Query => q }

  def apply(name: String): Entry =
    byName.getOrElse(name, throw new NoSuchElementException(s"no query named $name"))
}

object Registry {
  /** Every query of every operator family, plus the bench twins. */
  lazy val all: Registry = new Registry(
    RelationalQueries.entries ++ MarketQueries.entries ++ DedupQueries.entries ++
      SimilarityQueries.entries ++ TextQueries.entries ++ StatsQueries.entries ++
      EngagementQueries.entries ++ MultimodalQueries.entries)
}
