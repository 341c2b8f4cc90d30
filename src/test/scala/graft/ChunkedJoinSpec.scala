package graft

import graft.operators.Dedup
import graft.streaming.HammingStream
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hot-key chunk join ([[graft.operators.ChunkedJoin]]) through its
  * callers: brute parity on crowds larger than one 512-row chunk, exact
  * row counts at the join output, and the spread of a crowd's pair
  * emission over more than one partition — the tier-1 form of the ×50
  * ScaleCheck / DedupScaleCheck crowd probes.
  */
class ChunkedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ham(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  /** Rows per non-empty partition of a relation's output. */
  private def byPartition(df: DataFrame): Seq[Long] =
    df.groupBy(spark_partition_id()).agg(count(lit(1))).collect().map(_.getLong(1)).toSeq

  /** A crowd value every row shares, through a NON-FOLDABLE expression:
    * a literal would constant-fold into the repartition's partitioning
    * expression and no longer match the join's required partitioning. */
  private def hotConst(v: Long) = pmod(col("id"), lit(1L)) + lit(v)

  /** Sketch corpus with a 600-strong identical crowd (two chunks on every
    * band key), a ladder of 1..8-bit perturbations of the crowd value, and
    * a scatter of unrelated sketches. All values stay in unsigned-32 range
    * (the lo/hi halves contract).
    */
  private lazy val sketches: Seq[(Long, Long, Long)] = {
    val baseLo = 0xABCD1234L
    val baseHi = 0x0F1E2D3CL
    val crowd = (0L until 600L).map(i => (i, baseLo, baseHi))
    // flip k bits spread across both halves: k = 1..8 at ids 1000+k
    val ladder = (1 to 8).map { k =>
      val flips = (0 until k).map(j => 7 * j + 3) // distinct positions < 64
      val lo = flips.filter(_ < 32).foldLeft(baseLo)((v, b) => v ^ (1L << b))
      val hi = flips.filter(_ >= 32).foldLeft(baseHi)((v, b) => v ^ (1L << (b - 32)))
      (1000L + k, lo, hi)
    }
    val rnd = new scala.util.Random(7)
    val scatter = (0 until 50).map(i =>
      (2000L + i, rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL))
    crowd ++ ladder ++ scatter
  }

  private def brutePairs(sk: Seq[(Long, Long, Long)],
                         maxHamming: Int): Set[(Long, Long, Long)] = {
    val m = sk.map(t => t._1 -> (t._2, t._3)).toMap
    val ids = m.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      d = ham(m(a), m(b)) if d <= maxHamming
    } yield (a, b, d.toLong)).toSet
  }

  test("bandedHamming64Pairs: chunked join is brute-parity on a 600-doc identical crowd") {
    val df = sketches.toDF("id", "lo", "hi")
    val got = Dedup.bandedHamming64Pairs(df, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // banding is COMPLETE at Hamming <= 3, so the banded set IS the brute set
    assert(got === brutePairs(sketches, 3))
    // the crowd alone contributes C(600,2) exact-dup pairs — two chunks per key
    assert(got.count { case (a, b, d) => a < 600 && b < 600 && d == 0L } === 600 * 599 / 2)
  }

  test("multiProbeHamming64Pairs: brute parity at budgets 4..7, crowd included") {
    val df = sketches.toDF("id", "lo", "hi")
    for (k <- 4 to 7) {
      val got = Dedup.multiProbeHamming64Pairs(df, maxHamming = k)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === brutePairs(sketches, k), s"multi-probe mismatch at maxHamming=$k")
    }
    // ladder sanity: the crowd pairs with perturbations up to the budget
    val got6 = Dedup.multiProbeHamming64Pairs(df, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    for (k <- 1 to 8)
      assert(got6.contains((0L, 1000L + k, k.toLong)) === (k <= 6))
  }

  test("exactJaccardPairs: mega-family chunking keeps counts exact across chunk boundaries") {
    // one identical family of 1200 (three 512-chunks), a second identical
    // family of 600 whose token set differs from the first by one token of
    // 30 (Jaccard 29/31 ≥ 19/20 is false; 29/31 ≥ 9/10 true → cross pairs
    // appear at the lower threshold only), plus unrelated docs
    val toks30 = (0 until 30).map(i => s"t$i")
    val famA = (0L until 1200L).map(i => (i, toks30.mkString(" ")))
    val famB = (2000L until 2600L).map(i => (i, (toks30.drop(1) :+ "zz").mkString(" ")))
    val other = Seq((9000L, "completely different words here"), (9001L, "more unrelated text"))
    val df = (famA ++ famB ++ other).toDF("doc_id", "text")
    val high = Dedup.exactJaccardPairs(df, 19, 20)
    val nA = 1200L * 1199L / 2; val nB = 600L * 599L / 2
    assert(high.count() === nA + nB)
    assert(high.where(col("jaccard") < 1.0).count() === 0L)
    assert(high.distinct().count() === nA + nB) // no duplicate emissions across chunks
    val low = Dedup.exactJaccardPairs(df, 9, 10)
    assert(low.count() === nA + nB + 1200L * 600L)
    val cross = low.where(col("jaccard") < 1.0)
    assert(cross.count() === 1200L * 600L)
    // cross stats: |A|=30, |B|=30, common=29 → jaccard 29/31 ≈ 0.9355
    val one = cross.limit(1).as[(Long, Long, Long, Long, Long, Double)].head()
    assert(one._3 === 30L && one._4 === 30L && one._5 === 29L && one._6 === 0.9355)
  }

  test("banded crowd of 1,100 identical sketches: exact raw rows, spread over partitions") {
    val n = 1100L
    val pairs = n * (n - 1) / 2
    val crowd = spark.range(n).select(col("id"),
      hotConst(0xABCD1234L).as("lo"), hotConst(0x0F1E2D3CL).as("hi"))
    // three chunks per band key: every pair meets once in each of 4 bands
    val parts = byPartition(Dedup.bandedHamming64PairsRaw(crowd, 3))
    assert(parts.sum === 4 * pairs)
    assert(parts.size >= 2, s"crowd emission on ${parts.size} partition(s)")
    assert(Dedup.bandedHamming64Pairs(crowd, 3).count() === pairs)
  }

  test("chunkedKeyedPairs on a 1,100-posting uniform-size hot key: one row per pair, spread") {
    val n = 1100L
    // uniform size keeps every chunk pair inside the θ window
    val posts = spark.range(n).select(hotConst(0L).cast("int").as("k1"),
      hotConst(42L).as("k2"), col("id").as("doc_id"), lit(40L).as("sz"))
    val out = Dedup.chunkedKeyedPairs(posts, 19, 20)
    val parts = byPartition(out)
    assert(parts.sum === n * (n - 1) / 2)
    assert(parts.size >= 2, s"hot-key emission on ${parts.size} partition(s)")
    assert(out.where(col("doc_a") >= col("doc_b")).count() === 0L)
  }

  test("HammingStream history probe against a 600-sketch crowd on one band key writes the brute pairs") {
    // every history sketch shares the band-0 key (two history chunks);
    // bands 1-3 replicate a single-error-detecting code of i, so distinct
    // crowd members sit at Hamming >= 6 and the crowd itself pairs nowhere
    val crowdKey = 0xBEEFL
    def enc(i: Int): Long = (i.toLong << 1) | (java.lang.Integer.bitCount(i) & 1).toLong
    def sketch(i: Int): (Long, Long) = {
      val e = enc(i)
      (crowdKey | (e << 16), (e << 16) | e)
    }
    val history = (0 until 600).map { i => val (lo, hi) = sketch(i); (i.toLong, lo, hi) }
    // twins of members in both history chunks: exact copies (even j) and
    // one-bit flips (odd j), plus one within-batch copy of the first twin
    val twins = (0 until 20).map { j =>
      val (lo, hi) = sketch(j * 29)
      (10000L + j, lo, if (j % 2 == 0) hi else hi ^ (1L << 3))
    }
    val batch = twins :+ (20000L, twins.head._2, twins.head._3)
    val root = Files.createTempDirectory("graft-chunked-hist").toString
    val stores = HammingStream.epochStores(s"$root/index")
    assert(HammingStream.processBatch(history.toDF("id", "lo", "hi"), stores,
      s"$root/pairs") === 0L)
    val written = HammingStream.processBatch(batch.toDF("id", "lo", "hi"), stores,
      s"$root/pairs")
    val expect = brutePairs(history ++ batch, 3)
    // 20 twins against the crowd, plus the within-batch copy's two pairs
    assert(expect.size === 22 && written === 22L)
    assert(expect.exists(_._1 >= 512L)) // a twin of a second-chunk member
    val got = spark.read.parquet(s"$root/pairs")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(got === expect)
  }
}
