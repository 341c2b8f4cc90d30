package graft

import graft.operators.{Dedup, HashBase}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pin: the row-local native MinHash signature is bit-identical
  * to the explode/groupBy reference formulation for BOTH hash bases —
  * the contract that lets minhashSignaturesFromTokens drop the per-shingle
  * aggregate and its exchange without moving a single oracle hash.
  */
class MinhashSigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent re-derivation of the permutation coefficients (the
    * md5("perm#p") hex-prefix draws — data-independent, public scheme). */
  private def permCoeff(p: Int): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"perm#$p".getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 7), 16) + 1,
      java.lang.Long.parseLong(hex.substring(8, 15), 16))
  }

  /** The pre-r13 exploded pipeline, verbatim, as the reference, over the
    * base's Column form. */
  private def referenceSigs(toks: org.apache.spark.sql.DataFrame, n: Int,
                            numPerms: Int, base: HashBase) = {
    val h = Dedup.shinglesFromTokens(toks, n)
      .select(col("doc_id"), base(col("shingle")).as("h"))
    val aggs = (0 until numPerms).map { p =>
      val (a, b) = permCoeff(p)
      min((col("h") * a + b) % 4294967311L).as(s"m$p") // the prime > 2³²
    }
    h.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerms).map(p => col(s"m$p")): _*).as("sig"))
  }

  private def corpus(seed: Int, docs: Int): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    (1 to docs).map { id =>
      val len = rnd.nextInt(30) // includes docs shorter than any n
      (id.toLong, Seq.fill(len)(s"t${rnd.nextInt(12)}")) // heavy dup shingles
    } :+ // null tokens, incl. a run longer than any n: array_join skips them
      ((docs + 1).toLong, Seq("t1", null, "t2", "t3", null, null, null, null, null, "t4", "t1", null))
  }

  test("native MinHash signature == exploded reference, md5 base") {
    val toks = corpus(7, 60).toDF("doc_id", "w")
    for ((n, perms) <- Seq((5, 16), (2, 16), (3, 64))) {
      val got = Dedup.minhashSignaturesFromTokens(toks, n, perms, HashBase.Md5)
        .as[(Long, Seq[Long])].collect().toMap
      val want = referenceSigs(toks, n, perms, HashBase.Md5)
        .as[(Long, Seq[Long])].collect().toMap
      assert(got === want, s"n=$n perms=$perms")
    }
  }

  test("native MinHash signature == exploded reference, xxhash base") {
    val toks = corpus(11, 60).toDF("doc_id", "w")
    for ((n, perms) <- Seq((5, 16), (2, 32))) {
      val got = Dedup.minhashSignaturesFromTokens(toks, n, perms, HashBase.Xx)
        .as[(Long, Seq[Long])].collect().toMap
      val want = referenceSigs(toks, n, perms, HashBase.Xx)
        .as[(Long, Seq[Long])].collect().toMap
      assert(got === want, s"n=$n perms=$perms")
    }
  }

  test("docs with fewer than n tokens are dropped, exactly like the reference") {
    val toks = Seq((1L, Seq("a", "b")), (2L, Seq("a", "b", "c", "d", "e")),
      (3L, Seq.empty[String])).toDF("doc_id", "w")
    val got = Dedup.minhashSignaturesFromTokens(toks, 5, 16, HashBase.Md5)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(2L))
  }
}
