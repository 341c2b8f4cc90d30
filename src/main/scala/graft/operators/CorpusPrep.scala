package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition a data pipeline
  * actually runs, built entirely from this library's operators:
  *
  *   quality gate ([[TextAnalysis.qualityScore]]) →
  *   language gate ([[TextAnalysis.languageId]]) →
  *   exact dedup (keep the lowest doc_id per normalized fingerprint,
  *   [[TextAnalysis.fingerprint]]) →
  *   near-dup removal (connected components over the MinHash-LSH pair
  *   graph, [[Dedup.dupClusters]]: only each cluster's minimum doc_id
  *   survives — transitively canonical, unlike a greedy per-pair drop).
  *
  * Every stage is independently oracle-checked (q31/q32/q33/q46/q53); the
  * composition is oracle-checked as q52. All joins are on doc_id (or the
  * tiny fingerprint aggregate) — no stage is quadratic, so the pipeline
  * scales exactly as far as its dedup stage does.
  */
object CorpusPrep {

  /** @return surviving (doc_id, n_tokens, quality) rows.
    *
    * The MinHash stage is parameterized on its hash base because at corpus
    * scale the per-shingle digest dominates the whole pipeline's cost: the
    * production default is [[HashBase.Xx]] (codegen'd, digest-free);
    * [[HashBase.Md5]] (16 perms × 8 bands) exists only so the q52 oracle
    * can replay the identical arithmetic in DuckDB.
    */
  def prepare(docs: DataFrame, minQuality: Double = 0.4, lang: String = "en",
              nearDupThreshold: Double = 0.5,
              numPerms: Int = 64, bands: Int = 16,
              base: HashBase = HashBase.Xx): DataFrame = {
    // every per-document signal (token count, quality composite, language
    // scores, exact-dedup fingerprint) is a row-local column expression —
    // compute them all in ONE scan of the corpus instead of one scan plus
    // one shuffle join per signal (at corpus scale the extra full-table
    // reads and doc_id exchanges were the dominant cost of the gates)
    val scored = docs.select(Seq(
      col("doc_id"),
      TextAnalysis.nTokensExpr(col("text")).as("n_tokens"),
      TextAnalysis.qualityExpr(col("text")).as("quality"),
      md5(TextAnalysis.normalized(col("text"))).as("fingerprint")) ++
      TextAnalysis.langScoreCols(col("text")): _*)
    val perDoc = scored.select(col("doc_id"), col("n_tokens"), col("quality"),
      col("fingerprint"), TextAnalysis.predictedFromScores.as("predicted_lang"))
    // exact dedup: lowest doc_id per normalized-text fingerprint survives.
    // Canonicals are resolved over the FULL corpus (a group whose canonical
    // fails a gate drops entirely — same semantics as the staged form). A
    // whole-partition window min does it in ONE pass over perDoc; an
    // agg-then-self-join would run the regex-heavy projection twice (no
    // exchange reuse across the aggregate and the join side)
    val keepW = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
    val gatedKept = perDoc
      .withColumn("keep_id", min(col("doc_id")).over(keepW))
      .where(col("doc_id") === col("keep_id") &&
        col("quality") >= minQuality && col("predicted_lang") === lang)
    // near-dup removal: non-canonical members of every dup CLUSTER drop
    // (cluster label = min reachable doc_id through any chain of pairs)
    val nearDropped = Dedup.dupClusters(
      Dedup.minhashLshPairs(docs, numPerms = numPerms, bands = bands,
        threshold = nearDupThreshold, base = base))
      .where(col("cluster_id") =!= col("doc_id"))
      .select("doc_id")
    gatedKept
      .join(nearDropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality"))
  }

  /** The FULL production gate stack — [[prepare]]'s quality/language/
    * exact-dedup/near-dup core widened with the round-6 stages, every one
    * fused into the SAME single corpus scan (all are row-local column
    * expressions, so the widening adds zero scans and zero shuffles):
    *
    *   PII gate ([[TextAnalysis.piiFlagExpr]]: flagged docs never reach a
    *   training corpus) → quality gate → language gate → classifier gate
    *   ([[TextAnalysis.classifierScoreExpr]] > `classifierThreshold`) →
    *   domain-mixture draw ([[TextAnalysis.mixtureKeptExpr]]) → exact
    *   dedup → near-dup cluster removal → split assignment
    *   ([[TextAnalysis.splitExpr]], carried through as a column).
    *
    * Input needs (doc_id, text, source). Oracle-checked end-to-end as q71
    * (each stage is also independently oracle-checked: q31/q32/q33/q46/
    * q53/q60/q67/q68/q62).
    *
    * @return surviving (doc_id, n_tokens, quality, score, split) rows.
    */
  def prepareFull(docs: DataFrame, minQuality: Double = 0.4, lang: String = "en",
                  nearDupThreshold: Double = 0.5,
                  numPerms: Int = 64, bands: Int = 16,
                  base: HashBase = HashBase.Xx,
                  classifierThreshold: Double = -0.2,
                  rates: Map[String, Double] = Map.empty,
                  defaultRate: Double = 1.0,
                  trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    // `base` drives both the MinHash sketch and the salted per-doc draws
    // (classifier buckets/weights, mixture, split): the oracle
    // instantiation (q71) runs md5, a production run xxhash64
    val scored = docs.select(Seq(
      col("doc_id"),
      TextAnalysis.nTokensExpr(col("text")).as("n_tokens"),
      TextAnalysis.qualityExpr(col("text")).as("quality"),
      md5(TextAnalysis.normalized(col("text"))).as("fingerprint"),
      TextAnalysis.piiFlagExpr(col("text")).as("has_pii"),
      TextAnalysis.classifierScoreExpr(col("text"), base = base).as("score"),
      TextAnalysis.mixtureKeptExpr(col("source"), col("doc_id"), rates, defaultRate,
        base).as("kept"),
      TextAnalysis.splitExpr(trainPct, valPct, base).as("split")) ++
      TextAnalysis.langScoreCols(col("text")): _*)
    val perDoc = scored.select(col("doc_id"), col("n_tokens"), col("quality"),
      col("fingerprint"), col("has_pii"), col("score"), col("kept"), col("split"),
      TextAnalysis.predictedFromScores.as("predicted_lang"))
    val keepW = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
    val gatedKept = perDoc
      .withColumn("keep_id", min(col("doc_id")).over(keepW))
      .where(col("doc_id") === col("keep_id") &&
        !col("has_pii") &&
        col("quality") >= minQuality && col("predicted_lang") === lang &&
        col("score") > classifierThreshold && col("kept"))
    val nearDropped = Dedup.dupClusters(
      Dedup.minhashLshPairs(docs, numPerms = numPerms, bands = bands,
        threshold = nearDupThreshold, base = base))
      .where(col("cluster_id") =!= col("doc_id"))
      .select("doc_id")
    gatedKept
      .join(nearDropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality"), col("score"), col("split"))
  }
}
