package graft

import graft.operators.{Dedup, Engagement, Similarity, TextAnalysis}
import graft.queries.Registry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-test regression gate for the round-8 adversarial-layout contracts.
  *
  * The full cross-engine sweep (tools/make_adversarial.py + Verify +
  * tools/oracle_check.py --ordered) needs DuckDB and runs outside sbt;
  * this spec pins the ENGINE side of every semantic that sweep
  * established, on micro-fixtures carrying the same hazards — so a
  * regression trips in `sbt test` instead of costing a driver round:
  *
  *  - null group/output keys: sentinel or NULLS LAST, never Spark's
  *    NULLS FIRST default reaching a final sort
  *  - malformed ticks (null symbol/ts, null/NaN price) drop at ingest
  *  - NaN money is junk, zero-coalesced identically everywhere
  *  - zero-norm vectors never reach a cosine
  *  - null text: zero tokens, zero-byte media payload, 'zh' langid
  *  - ASCII-pinned case folding and marker counting
  */
class AdversarialLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T = 1736000000000000L // epoch micros
  private def us(o: Long) = new java.sql.Timestamp((T + o) / 1000)

  test("transitions: null event_type becomes the '<none>' sentinel, never a null key") {
    val ev = Seq(
      (1L, Option(1L), Option(us(0)), Option("a")),
      (2L, Option(1L), Option(us(1000000)), None), // untyped event, still a step
      (3L, Option(1L), Option(us(2000000)), Option("b")),
      (4L, Option(2L), Option(us(0)), Option("a")),
      (5L, Option(2L), Option(us(1000000)), Option("b"))
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Engagement.transitions(ev, "user_id", "ts", "event_type", "event_id")
      .as[(String, String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      ("a", "<none>") -> 1L, ("<none>", "b") -> 1L, ("a", "b") -> 1L))
    assert(got.keys.forall { case (f, t) => f != null && t != null })
  }

  test("langComposition: null source becomes '<none>' and sorts with the sentinel") {
    val docs = Seq(
      (1L, "the and of is to in that", Option("web")),
      (2L, "der die das und nicht", None),
      (3L, "el la los las es un", None)
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.langComposition(docs)
      .select("source", "predicted_lang", "n_docs")
      .as[(String, String, Long)].collect()
    assert(got.forall(_._1 != null))
    assert(got.filter(_._1 == "<none>").map(r => r._2 -> r._3).toMap ===
      Map("de" -> 1L, "es" -> 1L))
  }

  test("rfmSegments: null and NaN value are zero cents; no null segment key survives") {
    val ev = Seq(
      (1L, Option(1L), Option(us(0)), Option(10.0)),
      (2L, Option(1L), Option(us(86400L * 1000000)), None), // null value
      (3L, Option(2L), Option(us(0)), Option(Double.NaN)),  // NaN value
      (4L, Option(2L), Option(us(86400L * 1000000)), None),
      (5L, Option(3L), Option(us(0)), Option(250.0))
    ).toDF("event_id", "user_id", "ts", "value")
    val got = Engagement.rfmSegments(ev, "user_id", "ts", "value")
      .as[(Long, Long, Long, Long, Long)].collect()
    // every user lands in a fully-populated segment row: the all-junk
    // user (2) monetizes as 0, not NULL
    assert(got.map(_._4).sum === 3L) // n_users partitions the users
    got.foreach { case (r, f, m, _, _) =>
      assert(r >= 1 && f >= 1 && m >= 1, s"null/absent segment in ($r,$f,$m)")
    }
  }

  test("tick ingest parity: q10 candles drop null-symbol/null-ts/NaN-price events") {
    val dir = java.nio.file.Files.createTempDirectory("graft-adv-ticks").toString
    Seq(
      (1L, Option(us(0)), Option(7L), Option("click"), Option(10.0), "{}"),
      (2L, Option(us(1000000)), Option(7L), Option("click"), Option(11.0), "{}"),
      (3L, Option(us(2000000)), Option(7L), None, Option(12.0), "{}"),          // null symbol
      (4L, Option(us(3000000)), Option(7L), Option("click"), None, "{}"),        // null price
      (5L, Option(us(4000000)), Option(7L), Option("click"), Option(Double.NaN), "{}"), // NaN price
      (6L, None, Option(7L), Option("click"), Option(13.0), "{}")                // null ts
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Registry.all("q10_ohlc_candles").build(spark, dir)
      .select("symbol", "tick_count").as[(String, Long)].collect()
    assert(got.toSeq === Seq(("click", 2L))) // only the two clean ticks
  }

  test("value-quantiles: NaN excluded, null event_type group sorts LAST") {
    val dir = java.nio.file.Files.createTempDirectory("graft-adv-q130").toString
    Seq(
      (1L, Option(us(0)), Option(7L), Option("a"), Option(1.0), "{}"),
      (2L, Option(us(1)), Option(7L), Option("a"), Option(Double.NaN), "{}"),
      (3L, Option(us(2)), Option(7L), None, Option(5.0), "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Registry.all("q130_value_quantiles").build(spark, dir)
      .select("event_type", "n_rows").as[(Option[String], Long)].collect()
    assert(got.toSeq === Seq(Some("a") -> 1L, None -> 1L),
      "null group must exist (it is data) and must sort LAST (DuckDB order)")
  }

  test("zero-norm vectors never reach a cosine: brute kNN, pair dedup, IVF") {
    val emb = Seq(
      (0L, Array(1f, 0f)), (100L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0f, 0f)) // zero vector
    ).toDF("vec_id", "embedding")
    val knn = Similarity.knnCosineBrute(emb, pmod(col("vec_id"), lit(100)) === 0)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(!knn.exists(p => p._1 == 3L || p._2 == 3L))
    val dups = Similarity.cosineDupPairsBlocked(emb, threshold = -1.0)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(!dups.exists(p => p._1 == 3L || p._2 == 3L))
    assert(dups.length === 3) // all pairs among the three non-zero vectors
  }

  test("null text: zero-byte media payload, zero tokens, 'zh' language CASE-ELSE") {
    assert(graft.sources.Multimodal.pixelBytes(null, 8).toSeq === Seq.fill(8)(0: Byte))
    val docs = Seq((1L, Option.empty[String]), (2L, Option("the and of")))
      .toDF("doc_id", "text")
    val lang = TextAnalysis.languageId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(lang(1L) === "zh" && lang(2L) === "en")
    val cls = TextAnalysis.hashedClassifierScore(docs)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(cls(1L) === 0L)
  }

  test("ASCII-pinned case fold and marker counting on non-ASCII text") {
    val df = Seq(
      (1L, "STRASSE Weiß İIıi"),
      (2L, "combining áccents élève the and of")
    ).toDF("doc_id", "text")
    val folded = df.select(TextAnalysis.asciiLower(col("text"))).as[String].collect()
    // only A-Z folds; İ (U+0130) and ß are preserved as-is — Java's full
    // lowercase of İ would emit i+combining-dot, DuckDB's emits bare i
    assert(folded(0) === "strasse weiß İiıi")
    // marker count: \b-equivalent on ASCII; the combining mark SPLITS
    // (RE2 semantics), so the 'a' before U+0301 counts as a stopword
    val q = TextAnalysis.qualityScore(df)
      .select("doc_id", "stopword_ratio").as[(Long, Double)].collect().toMap
    assert(q(2L) > 0.5, s"expected 4 of 7 tokens as stopwords, got ratio ${q(2L)}")
  }

  test("manifest diff: the null-source bucket diffs as ONE row, never added+removed") {
    val m = Seq((Option("train"), Option.empty[String], 4L, 40L, 7L),
      (Option("train"), Option("web"), 2L, 20L, 3L))
      .toDF("split", "source", "n_docs", "n_tokens", "content_sum")
    val got = TextAnalysis.datasetManifestDiff(m, m)
      .select("split", "source", "status").as[(String, Option[String], String)].collect()
    assert(got.length === 2 && got.forall(_._3 === "unchanged"))
  }

  test("edit-distance verify folds non-ASCII to '?' so byte and codepoint engines agree") {
    val docs = Seq((1L, "emoji 🚀 pad"), (2L, "emoji ? pad")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.editDistanceVerify(docs, pairs)
      .select("lev").as[Long].head()
    assert(got === 0L) // the emoji IS '?' after the fold
  }
}
