package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exchange-reuse discipline the r12 plan audit installed: for
  * the inverted-index/token operators, the expensive text derivation must
  * appear ONCE in the static physical plan (AQE off so the ReuseExchange
  * rule is visible), not once per consumer branch. The defect class this
  * guards: an optimizer-inferred isnotnull on one branch, or a literal
  * count letting a value column prune, makes branch subtrees non-identical
  * and silently re-runs the tokenize/shingle scan per consumer — no test
  * fails, the plan is just N× slower. These assertions fail loudly if a
  * future edit (or Spark upgrade) reintroduces the divergence.
  */
class PlanReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sfDir = s"${TestSpark.testdataDir}/sf0.001"

  /** documents/embeddings scans in the static plan whose ReadSchema
    * includes the wide column (text / embedding) — the scans where a
    * duplicate evaluation actually costs. */
  private def wideScans(name: String): Int = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Registry.all(name).build(spark, sfDir)
        .queryExecution.executedPlan.toString
      plan.linesIterator
        .filter(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
        .count(l => l.contains("text:string") || l.contains("embedding:array"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("shingle family: one text scan per plan (df-cap + sizes + join sides share the pinch)") {
    assert(wideScans("q35_jaccard_pairs") === 1)   // sharedShinglePairStats
    assert(wideScans("q106_containment") === 1)    // same chain
    assert(wideScans("q126_winnow_overlap") === 1) // winnow pinch
    assert(wideScans("q81_ngram_novelty") === 1)   // shingle pinch
    assert(wideScans("q300_novelty_decay") === 1)  // shingle pinch (mx scan is id-only)
  }

  test("calibration chain: pinned pairs + pinched candidate shingles keep one text scan") {
    assert(wideScans("q103_lsh_calibration") === 1)
  }

  test("token family: shared tf/count aggregates reuse their exchange") {
    assert(wideScans("q83_tfidf_topk") === 1)  // tf exchange shared by df + join
    assert(wideScans("q212_cms_audit") === 1)  // exact agg shared by sketch + top-k
    // psiDrift pins its count grid (Pins.pin materializes eagerly), so
    // the FINAL plan reads the pinned blocks — zero parquet text scans;
    // the one quality scan happened exactly once, at pin time
    assert(wideScans("q259_psi_drift") === 0)
    assert(wideScans("q201_bm25") === 2)       // lens + tf derivations (tf filters by query terms)
    assert(wideScans("q204_rrf_fusion") === 3) // bm25's two + the quality prior
    // bigram stream ×2 (model agg + scoring join — the measured-faster
    // double derivation; the shared regroup was slower, see bigramLmScore)
    // + unigram model ×1 (vocab-size/model branches unified)
    assert(wideScans("q101_bigram_lm") === 3)
  }
}
