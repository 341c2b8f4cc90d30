package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 operator specs: the multi-probe SimHash 4–7 front door,
  * epoch-aware novelty decay, and span-level exact-substring dedup. The
  * chunked hot-key join specs live in [[ChunkedJoinSpec]].
  */
class NewOpsR10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ham(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  test("simhashPairsMultiProbe is a superset of the 4-band portable pairs and exact on hamming") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappax"),
      (3L, "alpha beta gamma delta epsilon zeta eta thetaz iotaz kappaz"),
      (4L, "totally different words about catalyst plans and shuffles"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val p3 = Dedup.simhashPairsPortable(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val p6 = Dedup.simhashPairsMultiProbe(docs, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(p3.subsetOf(p6))
    // exactness: every emitted pair matches the sketch-level distance
    val h = Dedup.simhash64Portable(docs)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    p6.foreach { case (a, b, d) => assert(ham(h(a), h(b)).toLong === d && d <= 6) }
    assert(p6.contains((1L, 5L, 0L)))
  }

  test("noveltyDecayByEpoch: hand-computed curve on shuffled ids with explicit epochs") {
    // ids deliberately NON-chronological: doc 10 arrives in epoch 0, doc 1
    // in epoch 1 — id-range banding would invert the story
    val docs = Seq(
      (10L, "a b c", 0L), (5L, "b c d", 0L), (1L, "a b x", 1L)
    ).toDF("doc_id", "text", "batch")
    val got = TextAnalysis.noveltyDecayByEpoch(docs, col("batch"), n = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // firstSeen (epoch, doc): "a b"→(0,10), "b c"→(0,5), "c d"→(0,5), "b x"→(1,1)
    // epoch 0: 4 shingles, 3 novel → 7500 bp; epoch 1: 2 shingles, 1 novel → 5000 bp
    assert(got === Seq((0L, 4L, 3L, 7500L), (1L, 2L, 1L, 5000L)))
  }

  test("noveltyDecayByEpoch under id-derived monotone epochs agrees with arrivalNoveltyDecay") {
    val docs = Tables.documents(spark, s"${TestSpark.testdataDir}/sf0.001")
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val bands = 10
    val viaEpoch = TextAnalysis.noveltyDecayByEpoch(
        docs, expr(s"CAST(($bands * doc_id) div (${mx + 1}) AS BIGINT)"), n = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val viaId = TextAnalysis.arrivalNoveltyDecay(docs, n = 3, bands = bands)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaEpoch === viaId)
  }

  test("dedupSpans: hand-computed span cut — first container keeps, overlaps merge") {
    val docs = Seq(
      (1L, "a b c d e"),       // first container of "a b c" and "b c d"
      (2L, "x a b c d y"),     // both repeated spans cut -> positions 2-5 covered
      (3L, "z z a b c"),       // one repeated span -> positions 3-5 covered
      (4L, "q r"),             // shorter than n: kept whole
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupSpans(docs, n = 3, minDocs = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 5L, 5L, "a b c d e"),
      (2L, 6L, 2L, "x y"),
      (3L, 5L, 2L, "z z"),
      (4L, 2L, 2L, "q r"),
      (5L, 0L, 0L, "")))
  }

  test("dedupSpans: within-first-doc repeats survive; minDocs gate respected") {
    // "m n o" repeats twice inside doc 1 (the first container) and once in
    // doc 2; doc 1 keeps both occurrences, doc 2 loses its one
    val docs = Seq(
      (1L, "m n o p m n o"),
      (2L, "k m n o k")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupSpans(docs, n = 3, minDocs = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 7L, 7L, "m n o p m n o"),
      (2L, 5L, 2L, "k k")))
    // minDocs = 3: nothing repeats in >= 3 docs, everything kept
    val loose = TextAnalysis.dedupSpans(docs, n = 3, minDocs = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(loose.forall(r => r._2 === r._3))
  }

  test("simhashPairsPortable rejects budgets past the 4-band completeness bound") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairsPortable(docs, maxHamming = 4))
    assert(e.getMessage.contains("simhashPairsMultiProbe"))
  }
}
