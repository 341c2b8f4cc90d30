package graft

import graft.operators.{CorpusPrep, Dedup, HashBase, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today " +
    "while morning light spreads across the valley and distant hills glow softly under a pale winter sun " +
    "as birds begin their familiar songs in the tall oak trees beside the old stone bridge"
  private val nearDup = base.replace("quiet", "silent")
  private val other = "completely different words about spark catalyst optimizer plans and shuffles everywhere"

  private lazy val docs = Seq(
    (1L, base), (2L, nearDup), (3L, other), (4L, base),
    (5L, "  " + base.toUpperCase + " ") // normalizes to base → exact dup
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates") {
    val groups = Dedup.exactGroups(docs).where(col("n_docs") > 1).collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("n_docs") === 3) // 1, 4, and case/space variant 5
    assert(groups.head.getAs[Long]("canonical_doc_id") === 1)
  }

  test("exact jaccard pairs find near-duplicates, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH retrieves the near-dup pair sub-quadratically") {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairsPortable filter-first plan returns exactly the banded pairs within the cut") {
    val pairs = Dedup.simhashPairsPortable(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute-force reference: every id pair sharing a 16-bit band of the
    // (lo, hi) halves whose exact Hamming distance makes the cut — the
    // filter/dedup order in the plan must not change this set
    val h = Dedup.simhash64Portable(docs)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def bands(x: (Long, Long)) = Set((0, x._1 & 0xFFFFL), (1, x._1 >>> 16),
      (2, x._2 & 0xFFFFL), (3, x._2 >>> 16))
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = h.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids
      if a < b
      if bands(h(a)).intersect(bands(h(b))).nonEmpty
      if ham(h(a), h(b)) <= 3
    } yield (a, b)).toSet
    assert(pairs === expected)
    assert(pairs.contains((1L, 4L)))
  }

  test("portable 64-bit simhash halves") {
    val h = Dedup.simhash64Portable(docs)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // halves stay within unsigned 32-bit range (DuckDB-safe)
    h.values.foreach { case (lo, hi) =>
      assert(lo >= 0L && lo < (1L << 32) && hi >= 0L && hi < (1L << 32))
    }
    assert(h(1L) === h(4L)) // identical docs collide
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
    val pairs = Dedup.simhashPairsPortable(docs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("minhash LSH code path is hash-agnostic: md5-base instantiation finds the same near-dup") {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.3, base = HashBase.Md5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("brute-force cosine top-k ranks an exact duplicate vector first") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0f)),   // identical to query
      (2L, Array(0f, 1f, 0f, 0f)),   // orthogonal
      (3L, Array(0.9f, 0.1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnCosineBrute(emb, col("vec_id") === 0, k = 3)
      .select("neighbor_id", "cosine", "rnk").as[(Long, Double, Long)]
      .collect().sortBy(_._3)
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L))
    assert(out.head._2 === 1.0)
    assert(out.last._2 === 0.0)
  }

  test("LSH ANN buckets recall an identical vector") {
    val vecs = (0 to 40).map { i =>
      val arr = Array.fill(8)(0f); arr(i % 8) = 1f; arr((i + 3) % 8) = 0.5f
      (i.toLong, arr)
    }
    val emb = (vecs :+ (99L, vecs.head._2)).toDF("vec_id", "embedding")
    val out = Similarity.annLshTopK(emb, col("vec_id") === 99, k = 5, numPlanes = 6, numTables = 6)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.exists { case (id, cos) => id == 0L && cos == 1.0 })
  }

  test("IVF ANN recalls an identical vector through its probe lists") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val emb = (vecs :+ (99L, vecs(5)._2)).toDF("vec_id", "embedding")
    val out = Similarity.annIvfTopK(emb, col("vec_id") === 99, k = 5, nLists = 8, nProbe = 3)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(out.nonEmpty)
    // the clone of vector 5 lives in the same Voronoi cell → always probed
    assert(out.exists { case (id, cos) => id == 5L && cos == 1.0 })
    // IVF recall vs brute force on the probed queries is non-trivial
    val brute = Similarity.knnCosineBrute(emb, col("vec_id") === 99, k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    val ivf = out.map(_._1).toSet
    assert((brute intersect ivf).nonEmpty)
  }

  test("dup clusters: chained pairs collapse transitively to the min id (both paths)") {
    // components: {1,2,5,9} via chain 1-2, 2-5, 5-9; {3,7}; 8 isolated (no pair)
    val pairs = Seq((1L, 2L), (2L, 5L), (5L, 9L), (3L, 7L))
      .toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 9L -> 1L, 3L -> 3L, 7L -> 3L)
    // driver union-find path (default threshold)
    val uf = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(uf === want)
    // distributed label-propagation path (threshold 0 forces it)
    val lp = Dedup.dupClusters(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(lp === want)
    // a longer chain still converges (diameter > 2 needs multiple rounds)
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    Seq(0L, 1000000L).foreach { thr =>
      val out2 = Dedup.dupClusters(chain, driverThreshold = thr)
        .as[(Long, Long)].collect().toMap
      assert(out2.values.toSet === Set(1L))
      assert(out2.keySet === (1L to 12L).toSet)
    }
  }

  test("corpus prep: production xxhash base keeps the same survivor set as the oracle base") {
    val portable = CorpusPrep.prepare(docs, minQuality = 0.0,
      numPerms = 16, bands = 8, base = HashBase.Md5)
      .select("doc_id").as[Long].collect().toSet
    val prod = CorpusPrep.prepare(docs, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(prod.nonEmpty)
    assert(prod === portable)
  }

  test("dup clusters: union-find and label propagation agree on random graphs") {
    // property check: both execution paths produce identical labels on
    // arbitrary pair graphs (chains, cliques, stars, isolated pairs)
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val n = 30 + trial * 10
      val edges = (0 until n).map { _ =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val pairs = edges.toDF("doc_a", "doc_b")
      val uf = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
      val lp = Dedup.dupClusters(pairs, driverThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(uf === lp, s"trial $trial: paths diverged")
      // labels are canonical: every cluster id is a member of its own cluster
      assert(uf.values.toSet.subsetOf(uf.keySet))
      assert(uf.forall { case (d, c) => c <= d })
    }
  }

  test("dup clusters work for non-numeric ids and preserve the id type") {
    // string ids: the driver shortcut cannot apply — the distributed loop
    // must serve them, not silently null them out through a long cast
    val sp = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("doc_a", "doc_b")
    val sOut = Dedup.dupClusters(sp).as[(String, String)].collect().toMap
    assert(sOut === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // int ids stay int on the driver path
    val ip = Seq((1, 2), (2, 3)).toDF("doc_a", "doc_b")
    val iOut = Dedup.dupClusters(ip)
    assert(iOut.schema("cluster_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(iOut.as[(Int, Int)].collect().toMap === Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("dup clusters raise loudly instead of returning unconverged labels") {
    // an 8-hop chain cannot converge in 2 rounds of neighbor-min propagation
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      // threshold 0: the guard lives on the distributed loop (the driver
      // union-find has no rounds to run out of)
      Dedup.dupClusters(chain, maxRounds = 2, driverThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("blocked cosine pair join matches the brute-force baseline exactly") {
    val rnd = new scala.util.Random(7)
    val emb = (0 until 50).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val brute = asSet(Similarity.cosineDupPairs(emb, threshold = 0.3))
    val blocked = asSet(Similarity.cosineDupPairsBlocked(emb, threshold = 0.3, blocks = 4))
    assert(brute.nonEmpty)
    assert(blocked === brute)
  }

  test("LSH cosine pairs are an exact-verified subset of the brute pairs") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val emb = (vecs :+ (99L, vecs.head._2)).toDF("vec_id", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
    val brute = asSet(Similarity.cosineDupPairs(emb, threshold = 0.5))
    val lsh = asSet(Similarity.cosineDupPairsLsh(emb, threshold = 0.5,
      numPlanes = 6, numTables = 6, dim = 8))
    assert(lsh.subsetOf(brute))
    // the identical pair survives bucketing in every table → always recalled
    assert(lsh.exists { case (a, b, c) => a == 0L && b == 99L && c == 1.0 })
  }

  test("k-means-trained IVF centroids: deterministic and recall beats the id-picked default") {
    val rnd = new scala.util.Random(13)
    // 4 well-separated direction clusters + noise
    val protos = Seq.tabulate(4) { c =>
      Array.tabulate(8)(i => if (i == c * 2) 1f else 0f)
    }
    val vecs = (0 until 80).map { i =>
      val p = protos(i % 4)
      (i.toLong, p.zipWithIndex.map { case (x, j) => x + (rnd.nextFloat() - 0.5f) * 0.2f })
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val c1 = Similarity.trainCentroids(emb, k = 4, iters = 5)
    val c2 = Similarity.trainCentroids(emb, k = 4, iters = 5)
    assert(c1 === c2) // fully deterministic — no RNG anywhere
    val brute = Similarity.knnCosineBrute(emb, col("vec_id") === 0, k = 10)
      .select("neighbor_id").as[Long].collect().toSet
    val ivf = Similarity.annIvfTopK(emb, col("vec_id") === 0, k = 10,
      nLists = 4, nProbe = 1, centroidsOpt = Some(c1))
      .select("neighbor_id").as[Long].collect().toSet
    // with trained Voronoi cells and clustered data, probing vec 0's one
    // cell recovers its full brute-force top-10 (all from the same cluster)
    assert((brute intersect ivf).size >= 8)
  }

  test("persisted LSH index serves the same answers as the in-plan ANN") {
    val vecs = (0 to 40).map { i =>
      val arr = Array.fill(8)(0f); arr(i % 8) = 1f; arr((i + 3) % 8) = 0.5f
      (i.toLong, arr)
    }
    val emb = (vecs :+ (99L, vecs.head._2)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString + "/index"
    graft.operators.Similarity.buildLshIndex(emb, dir, numPlanes = 6, numTables = 6, dim = 8)
    // bucket store is hive-partitioned by (table, bucket) for pruned probes,
    // inside the committed version dir
    val vdir = graft.operators.Similarity.currentIndexDir(spark, dir)
      .stripPrefix("file:")
    assert(vdir.endsWith("/v1"))
    val tableDirs = new java.io.File(s"$vdir/buckets").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(tableDirs.toSet === (0 until 6).map(t => s"table=$t").toSet)
    val queries = emb.where($"vec_id" === 99L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
    val served = rows(graft.operators.Similarity.queryLshIndex(spark, dir, queries, k = 5))
    val inPlan = rows(Similarity.annLshTopK(emb, col("vec_id") === 99,
      k = 5, numPlanes = 6, numTables = 6, dim = 8))
    assert(served === inPlan)
    assert(served.exists { case (_, id, cos, _) => id == 0L && cos == 1.0 })
  }

  test("index rebuilds are versioned: a crashed rebuild never destroys the serving index") {
    val vecs = (0 to 20).map { i =>
      val arr = Array.fill(8)(0f); arr(i % 8) = 1f
      (i.toLong, arr)
    }
    val emb = (vecs :+ (99L, vecs.head._2)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx2").toString + "/index"
    graft.operators.Similarity.buildLshIndex(emb, dir, numPlanes = 6, numTables = 4, dim = 8)
    val served1 = graft.operators.Similarity
      .queryLshIndex(spark, dir, emb.where($"vec_id" === 99L), k = 3).count()
    assert(served1 > 0)
    // simulate a rebuild that crashed before committing: unmarked v-dir
    Seq(Tuple1(1)).toDF("x").write.parquet(s"$dir/v7/meta")
    assert(graft.operators.Similarity.currentIndexDir(spark, dir).endsWith("/v1"))
    assert(graft.operators.Similarity
      .queryLshIndex(spark, dir, emb.where($"vec_id" === 99L), k = 3).count() === served1)
    // the next successful build commits ABOVE the crashed stage and sweeps it
    graft.operators.Similarity.buildLshIndex(emb, dir, numPlanes = 6, numTables = 4, dim = 8)
    assert(graft.operators.Similarity.currentIndexDir(spark, dir).endsWith("/v8"))
    assert(!new java.io.File(s"$dir/v7").exists())
    // previous good version is retained for recovery
    assert(new java.io.File(s"$dir/v1/_COMMIT").exists())
  }

  test("incremental index appends serve exactly a fresh full build on the union; crashed appends stay invisible") {
    def mk(ids: Range) = ids.map { i =>
      val arr = Array.fill(8)(0f); arr(i % 8) = 1f; arr((i + 3) % 8) = 0.5f
      (i.toLong, arr)
    }
    val (a, b, c) = (mk(0 to 15), mk(16 to 25), mk(26 to 35))
    val q99 = Seq((99L, a.head._2)).toDF("vec_id", "embedding")
    def rows(root: String) = graft.operators.Similarity
      .queryLshIndex(spark, root, q99, k = 5)
      .select("query_id", "neighbor_id", "cosine", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx3").toString + "/index"
    graft.operators.Similarity.buildLshIndex(a.toDF("vec_id", "embedding"), dir,
      numPlanes = 6, numTables = 6, dim = 8)
    graft.operators.Similarity.appendToLshIndex(b.toDF("vec_id", "embedding"), dir)
    graft.operators.Similarity.appendToLshIndex(c.toDF("vec_id", "embedding"), dir)
    // still serving v1, now with two committed delta epochs inside it
    val vdir = graft.operators.Similarity.currentIndexDir(spark, dir).stripPrefix("file:")
    assert(vdir.endsWith("/v1"))
    assert(new java.io.File(s"$vdir/delta").listFiles().count(_.isDirectory) === 2)
    val incremental = rows(dir)
    assert(incremental.nonEmpty)
    // a fresh FULL build over the union answers identically (same planes)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-lshidx4").toString + "/index"
    graft.operators.Similarity.buildLshIndex((a ++ b ++ c).toDF("vec_id", "embedding"),
      dir2, numPlanes = 6, numTables = 6, dim = 8)
    assert(incremental === rows(dir2))
    // crash between the delta write and its _COMMIT: the uncommitted epoch
    // is invisible and the index keeps serving the pre-append answers
    Seq((999L, a.head._2)).toDF("vec_id", "embedding")
      .write.parquet(s"$vdir/delta/epoch=9/vectors")
    assert(rows(dir) === incremental)
    // crossing the rebuild threshold folds base+deltas into a fresh full
    // version (inheriting v1's hash family), and answers do not move
    val dir3 = java.nio.file.Files.createTempDirectory("graft-lshidx5").toString + "/index"
    graft.operators.Similarity.buildLshIndex(a.toDF("vec_id", "embedding"), dir3,
      numPlanes = 6, numTables = 6, dim = 8)
    graft.operators.Similarity.appendToLshIndex(b.toDF("vec_id", "embedding"), dir3,
      rebuildAfterDeltas = 1)
    graft.operators.Similarity.appendToLshIndex(c.toDF("vec_id", "embedding"), dir3,
      rebuildAfterDeltas = 1)
    assert(graft.operators.Similarity.currentIndexDir(spark, dir3).endsWith("/v2"))
    assert(rows(dir3) === incremental)
  }

  test("winnowing fingerprints: shared substrings collide, guarantee holds") {
    val f = TextAnalysis.winnowingFingerprints(docs)
      .select("doc_id", "fingerprints").as[(Long, Seq[Long])].collect().toMap
    assert(f(1L) === f(4L))                      // identical docs
    val shared12 = f(1L).toSet intersect f(2L).toSet
    val shared13 = f(1L).toSet intersect f(3L).toSet
    // near-dup shares a long prefix/suffix → many common fingerprints;
    // unrelated text shares (almost) none
    assert(shared12.size > f(1L).size / 2)
    assert(shared13.size < f(1L).size / 10)
  }

  test("PII scan counts each class; redaction removes every match") {
    val fixture = Seq(
      (1L, "mail me A@b.co and c.d@e-f.org or ping 10.1.2.3 then call 123-456-7890"),
      (2L, "a perfectly clean document about spark plans")).toDF("doc_id", "text")
    val scanned = TextAnalysis.piiScan(fixture)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(scanned(0) === ((1L, 2L, 1L, 1L, true)))
    assert(scanned(1) === ((2L, 0L, 0L, 0L, false)))
    val redacted = TextAnalysis.redactPii(fixture)
      .as[(Long, String)].collect().toMap
    assert(redacted(1L) ===
      "mail me <EMAIL> and <EMAIL> or ping <IP> then call <PHONE>")
    assert(redacted(2L) === "a perfectly clean document about spark plans")
  }

  test("chunking: fixed windows with stride overlap, partial tail kept") {
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.chunkDocs(
      Seq((1L, ten), (2L, ""), (3L, "only three tokens here")).toDF("doc_id", "text"),
      chunkTokens = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect().sorted
    // doc 1: 10 tokens -> chunks at 1,4,7,10 (1-based), last is the tail
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (1L, 3L, 1L, "t10")))
    assert(!out.exists(_._1 == 2L)) // empty doc emits nothing
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0L, 4L, "only three tokens here"),
      (3L, 1L, 1L, "here")))
    // adjacent chunks overlap by chunkTokens - stride: no token dropped
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(Seq((1L, ten)).toDF("doc_id", "text"),
        chunkTokens = 4, stride = 5)
    }
  }

  test("repeated n-grams: a 13-token span shared by two docs surfaces, unique spans do not") {
    val span = (1 to 13).map(i => s"w$i").mkString(" ")
    val fixture = Seq(
      (1L, s"intro $span tail one"),
      (2L, s"other prefix words $span"),
      (3L, "completely different text with no shared window at all here and now then")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repeatedNgrams(fixture)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq((span, 2L)))
    // raising minDocs filters it out
    assert(TextAnalysis.repeatedNgrams(fixture, minDocs = 3).count() === 0L)
  }

  test("OOV rate against the corpus's own top-k vocabulary") {
    val fixture = Seq((1L, "a a a b c"), (2L, "a b b x y z")).toDF("doc_id", "text")
    // token counts: a=4 b=3 c=1 x=1 y=1 z=1 -> top-2 vocab = {a, b}
    val out = TextAnalysis.oovRate(fixture, vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 5L, 1L, 0.2)))   // c is OOV
    assert(out(1) === ((2L, 6L, 3L, 0.5)))   // x y z are OOV
  }

  test("hash split: deterministic, engine-portable buckets, consistent labels") {
    val fixture = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = TextAnalysis.hashSplit(fixture).as[(Long, Long, String)].collect().sortBy(_._1)
    val b = TextAnalysis.hashSplit(fixture).as[(Long, Long, String)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq) // no RNG, no ordering dependence
    assert(a.forall { case (_, bucket, _) => bucket >= 0 && bucket < 100 })
    assert(a.forall { case (_, bucket, split) =>
      split === (if (bucket < 90) "train" else if (bucket < 95) "val" else "test")
    })
    // the md5-prefix bucket is independently recomputable (portability)
    val id7 = java.security.MessageDigest.getInstance("MD5")
      .digest("7".getBytes("UTF-8")).take(4).map(x => f"$x%02x").mkString
    val expected7 = java.lang.Long.parseLong(id7, 16) % 100
    assert(a.find(_._1 == 7L).get._2 === expected7)
    // all three splits are populated at this fixture size
    assert(a.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("token stats and fingerprint normalization") {
    val stats = TextAnalysis.tokenStats(Seq((1L, "a bb  ccc ")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(stats._3 === 3L)          // n_tokens
    assert(stats._5 === 2.0)         // avg token len (1+2+3)/3
    val fp = TextAnalysis.fingerprint(docs)
      .select("doc_id", "fingerprint").as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(5L))        // case/whitespace-insensitive
    assert(fp(1L) !== fp(2L))
  }

  test("repetition stats: dup fractions and top n-gram, hand-computed") {
    val rep = Seq(
      (1L, "a a a a"),      // 4 words 1 distinct; 3-grams [aaa, aaa]
      (2L, "a b c d"),      // all distinct; 3-grams [abc, bcd]
      (3L, "x y"),          // too short for 3-grams
      (4L, "spam spam spam spam spam eggs") // 3-grams [sss x3, sse]
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(rep).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got === Array(
      (1L, 0.75, 0.5, 1.0, true),
      (2L, 0.0, 0.0, 0.5, false),
      (3L, 0.0, 0.0, 0.0, false),
      (4L, 0.6667, 0.5, 0.75, true)))
  }

  test("int8 quantization: symmetric scale, deterministic rounding, zero vector") {
    val embs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)), // maxabs 1.0, scale 1/127
      (2L, Seq(0.0f, 0.0f, 0.0f))    // zero vector -> scale 0, all q 0
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.quantizeInt8(embs)
      .orderBy("vec_id", "i")
      .as[(Long, Double, Long, Long)].collect()
    assert(got === Array(
      (1L, 0.007874, 1L, 127L),  // 1.0 / (1/127) = 127
      (1L, 0.007874, 2L, -63L),  // floor(-63.5 + 0.5) = -63
      (1L, 0.007874, 3L, 32L),   // floor(31.75 + 0.5) = 32
      (2L, 0.0, 1L, 0L), (2L, 0.0, 2L, 0L), (2L, 0.0, 3L, 0L)))
  }

  test("vocab top-k: counts, corpus frequency, deterministic tie-break") {
    val vdocs = Seq((1L, "b a a"), (2L, "c b A")).toDF("doc_id", "text")
    val got = TextAnalysis.vocab(vdocs, k = 2)
      .as[(String, Long, Double)].collect()
    // 6 tokens total: a×3 (case-folded), b×2, c×1
    assert(got === Array(("a", 3L, 0.5), ("b", 2L, 0.333333)))
  }

  test("decontamination: corpus docs sharing an 8-gram with the benchmark") {
    val eight = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, s"prefix $eight suffix tail"),                        // shares it
      (2L, "totally different words with no overlap at all ok"), // clean
      (3L, eight)                                                // IS the 8-gram
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"intro $eight outro")).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(corpus, bench).orderBy("doc_id")
      .as[(Long, Long)].collect()
    assert(got === Array((1L, 1L), (3L, 1L)))
  }

  test("line dedup: cross-doc boilerplate dropped, within-doc repeats kept in order") {
    val fixture = Seq(
      (1L, "keep one\nshared boiler\nkeep two"),
      (2L, "shared boiler\nunique line"),
      (3L, "third doc only\nshared boiler"),
      (4L, "shared boiler"),            // all boilerplate -> empty cleaned
      (5L, "twice here\ntwice here")    // repeats in ONE doc: df=1, both kept
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(fixture).orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got === Array(
      (1L, 3L, 2L, "keep one\nkeep two"),
      (2L, 2L, 1L, "unique line"),
      (3L, 2L, 1L, "third doc only"),
      (4L, 1L, 0L, ""),
      (5L, 2L, 2L, "twice here\ntwice here")))
  }

  test("line dedup: boiler side broadcasts by default; hashed-key fallback is equivalent") {
    // one hot line in half the docs — the exact shape that melts a
    // line-keyed shuffle join at scale
    val hot = "cookie banner accept all"
    val fixture = (0L until 40L)
      .map(i => (i, if (i % 2 == 0) s"$hot\ncontent $i" else s"content $i"))
      .toDF("doc_id", "text")
    val bc = TextAnalysis.dedupLines(fixture)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "default path must broadcast the boiler side")
    val sh = TextAnalysis.dedupLines(fixture, broadcastBoiler = false)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    assert(bc.orderBy("doc_id").collect().map(key) ===
      sh.orderBy("doc_id").collect().map(key))
    // every even doc lost exactly the hot line
    val cleaned = bc.orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(cleaned.filter(_._1 % 2 == 0).forall(r => r._4 == s"content ${r._1}"))
  }

  test("hashed classifier: score independently recomputable from md5, empty doc scores 0") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(x => f"$x%02x").mkString
    def weight(tok: String): Double = {
      val b = java.lang.Long.parseLong(md5hex(tok).take(8), 16) % 1024
      java.lang.Long.parseLong(md5hex(s"w:$b").take(8), 16).toDouble / 2147483648.0 - 1.0
    }
    val toks = Seq("alpha", "beta", "alpha")
    val expected = BigDecimal(toks.map(weight).sum / toks.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.hashedClassifierScore(
        Seq((1L, "Alpha beta ALPHA"), (2L, "   ")).toDF("doc_id", "text"))
      .orderBy("doc_id").as[(Long, Long, Double, Boolean)].collect()
    assert(got(0) === ((1L, 3L, expected, expected > 0.0)))
    assert(got(1) === ((2L, 0L, 0.0, false)))
  }

  test("mixture sample: rate-0 source drops all, rate-1 keeps all, cut recomputable from md5") {
    val fixture = (0L until 100L).map(i => (i, s"src${i % 5}", s"doc $i"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.mixtureSample(fixture,
        Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    def u(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8")).take(4).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(h, 16) % 10000
    }
    got.foreach { case (id, src, uu, kept) =>
      assert(uu === u(id))
      val cut = src match { case "src0" => 10000L; case "src1" => 0L; case _ => 5000L }
      assert(kept === (uu < cut), s"doc $id src $src u $uu")
    }
    assert(got.filter(_._2 == "src0").forall(_._4))
    assert(got.filter(_._2 == "src1").forall(!_._4))
    val mid = got.filter(r => r._2 != "src0" && r._2 != "src1")
    assert(mid.exists(_._4) && mid.exists(!_._4)) // 0.5 cut genuinely splits
  }

  test("split contamination: train docs sharing a 13-gram with holdout are flagged") {
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(h, 16) % 100
    }
    val ids = 0L until 60L
    val trainId = ids.find(bucket(_) < 90).get
    val trainClean = ids.filter(i => bucket(i) < 90 && i != trainId).head
    val holdId = ids.find(bucket(_) >= 90).get
    val span = (1 to 13).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (trainId, s"$span extra words here"),
      (trainClean, "entirely different thirteen token free text with no overlap at all whatsoever okay fine"),
      (holdId, s"prefix words $span")
    ).toDF("doc_id", "text")
    // the only 13-gram present in BOTH a train and a holdout doc is the span
    val got = TextAnalysis.splitContamination(docs).as[(Long, Long)].collect()
    assert(got === Array((trainId, 1L)))
  }

  test("prepareFull: fused gate stack equals the standalone operator composition") {
    // one doc per gate: 1 survives; 2 near-dup of 1; 3 PII; 4 exact dup of
    // 1; 5 low quality; 6 English + decent quality but its source's mixture
    // rate is 0.0 — each is dropped by exactly the gate it was built for
    val en3 = "please contact our support team at the office and we will reply to all of " +
      "the questions about the new schedule for the coming spring events in the town hall"
    val en6 = "a short note about the weather today with plenty of the usual small words " +
      "to keep the quality gate happy for this document in the corpus over here"
    val corpus = Seq(
      (1L, base, "web"),
      (2L, nearDup, "web"),
      (3L, en3 + " contact user3@example.com", "web"),
      (4L, base, "web"),
      (5L, "x", "web"),
      (6L, en6, "drop_src")
    ).toDF("doc_id", "text", "source")
    val rates = Map("drop_src" -> 0.0)
    val out = CorpusPrep.prepareFull(corpus, numPerms = 16, bands = 8,
      base = HashBase.Md5, classifierThreshold = -1.0, rates = rates)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
    // expected survivors: prepare's quality/lang/exact/near-dup core (same
    // params) ∩ PII-clean ∩ mixture-kept (classifier gate open at -1.0:
    // every score is a mean of weights in (-1, 1))
    val core = CorpusPrep.prepare(corpus, numPerms = 16, bands = 8,
      base = HashBase.Md5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val piiClean = TextAnalysis.piiScan(corpus).where(!col("has_pii"))
      .select("doc_id").as[Long].collect().toSet
    val mixKept = TextAnalysis.mixtureSample(corpus, rates).where(col("kept"))
      .select("doc_id").as[Long].collect().toSet
    assert(out.keySet === core.keySet.intersect(piiClean).intersect(mixKept))
    assert(out.keySet === Set(1L)) // and each designated gate really bound:
    assert(core.keySet === Set(1L, 3L, 6L)) // 2/4/5 dropped by the core
    assert(!piiClean.contains(3L) && piiClean.contains(6L))
    assert(!mixKept.contains(6L))
    // carried columns match the standalone operators bit-for-bit
    val (nTok, qual) = core(1L)
    assert(out(1L)._1 === nTok && out(1L)._2 === qual)
    val score1 = TextAnalysis.hashedClassifierScore(corpus)
      .where(col("doc_id") === 1).select("score").as[Double].head()
    assert(out(1L)._3 === score1)
    val split1 = TextAnalysis.hashSplit(corpus)
      .where(col("doc_id") === 1).select("split").as[String].head()
    assert(out(1L)._4 === split1)
    // an impossible classifier bar (> 1.0) annihilates through the same plan
    assert(CorpusPrep.prepareFull(corpus, numPerms = 16, bands = 8,
      base = HashBase.Md5, classifierThreshold = 1.0, rates = rates)
      .count() === 0L)
  }

  test("packDocs: two-phase prefix sum equals the naive cumsum, empty docs excluded") {
    // token counts 1..7 cycling; every 13th doc is empty (must not own an
    // offset); ids offset by 3 so buckets don't align with the id origin
    val docs = (3L to 102L).map { i =>
      (i, if (i % 13 == 0) "" else Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "))
    }.toDF("doc_id", "text")
    def naive(contextLen: Int): Seq[(Long, Long, Long, Long, Long, Boolean)] = {
      var off = 0L
      (3L to 102L).filter(_ % 13 != 0).map { i =>
        val n = i % 7 + 1
        val s = off; off += n
        val p0 = s / contextLen; val p1 = (s + n - 1) / contextLen
        (i, n, s, p0, p1, p0 != p1)
      }
    }
    // many small buckets (the scale path), one giant bucket (degenerate
    // path), and a mid size: the plan shape changes, the layout must not
    Seq(8L, 64L, 100000L).foreach { bs =>
      val got = TextAnalysis.packDocs(docs, contextLen = 10, bucketSize = bs)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSeq
      assert(got === naive(10), s"bucketSize=$bs")
    }
    // straddlers really exist and the flag is consistent with the ids
    val out = TextAnalysis.packDocs(docs, contextLen = 10, bucketSize = 8)
      .collect()
    assert(out.exists(_.getBoolean(5)) && out.exists(!_.getBoolean(5)))
  }

  test("compositionReport: exact tick means and rates match the standalone operators") {
    val corpus = Seq(
      (1L, base, "web"),
      (2L, base + " and some more of the words with the usual filler text", "web"),
      (3L, other + " reach me at someone@example.com for details", "web"),
      (4L, other, "books"),
      (5L, "x", "books"),
      (6L, base + " a tail", "books")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.compositionReport(corpus)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getDouble(7))).toMap
    // expected from the standalone oracle-checked ops, composed on the driver
    val split = TextAnalysis.hashSplit(corpus)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val toks = TextAnalysis.tokenStats(corpus)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val qual = TextAnalysis.qualityScore(corpus)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val pii = TextAnalysis.piiScan(corpus)
      .select("doc_id", "has_pii").as[(Long, Boolean)].collect().toMap
    val bySrc = Seq(1L, 2L, 3L, 4L, 5L, 6L)
      .groupBy(id => (Seq("web", "web", "web", "books", "books", "books")(id.toInt - 1), split(id)))
    val totalTokens = toks.values.sum
    bySrc.foreach { case (key, ids) =>
      val (nDocs, nTok, qTicks, piiDocs) = (ids.size.toLong,
        ids.map(toks).sum,
        ids.map(id => math.round(qual(id) * 10000)).sum,
        ids.count(pii).toLong)
      val (gDocs, gTok, gShare, gQual, gPii, gRate) = got(key)
      assert(gDocs === nDocs && gTok === nTok && gPii === piiDocs, key)
      // integer HALF_UP: (2a + b) div (2b), then exact /10^k
      assert(gShare === ((2 * nTok * 1000000L + totalTokens) / (2 * totalTokens)) / 1e6, key)
      assert(gQual === ((2 * qTicks + nDocs) / (2 * nDocs)) / 1e4, key)
      assert(gRate === ((2 * piiDocs * 10000L + nDocs) / (2 * nDocs)) / 1e4, key)
    }
    assert(got.keySet === bySrc.keySet)
  }

  test("tokenBudgetSample: hash-order greedy draw matches the naive reference") {
    val docs = (1L to 80L).map { i =>
      (i, if (i % 11 == 0) "" else Seq.fill((i % 5 + 2).toInt)("tok").mkString(" "))
    }.toDF("doc_id", "text")
    def h(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s"draw:$id".getBytes("UTF-8")).map(x => f"$x%02x").mkString
    // naive reference: sort by (md5, id), cumulative offsets, take < budget
    val ordered = (1L to 80L).filter(_ % 11 != 0)
      .map(i => (i, i % 5 + 2, h(i))).sortBy(t => (t._3, t._1))
    val offsets = ordered.scanLeft(0L)(_ + _._2).init
    val want = ordered.zip(offsets)
      .map { case ((id, n, _), off) => (id, n, off) }
    Seq(0L, 50L, 100000L).foreach { budget =>
      val got = TextAnalysis.tokenBudgetSample(docs, budget)
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      assert(got === want.filter(_._3 < budget).sortBy(_._1), s"budget=$budget")
    }
    // a mid budget really includes the straddling doc: the last selected
    // doc's start_offset is < budget but its end may cross it
    val mid = TextAnalysis.tokenBudgetSample(docs, 50L).collect()
    val last = mid.map(r => (r.getLong(2), r.getLong(1))).maxBy(_._1)
    assert(last._1 < 50L)
  }

  test("profile: per-column counts, nulls, distincts and native-typed ranges") {
    val df = Seq(
      (Some(3L), Some("b"), Some(2.5)),
      (Some(1L), None, Some(10.0)),
      (None, Some("a"), Some(2.5)),
      (Some(3L), Some("ab"), None)
    ).toDF("k", "s", "d")
    val got = graft.operators.Profile.profile(df, Seq("k", "s", "d"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got("k") === ((4L, 1L, 2L, "1", "3")))
    // native string min/max ("a" < "ab" < "b"), null excluded from distinct
    assert(got("s") === ((4L, 1L, 3L, "a", "b")))
    // numeric min/max computed on the DOUBLE, not lexicographically
    // (lexicographic would put "10.0" before "2.5")
    assert(got("d") === ((4L, 1L, 2L, "2.5", "10.0")))
    // empty relation: zero counts, null ranges
    val empty = graft.operators.Profile.profile(df.where(lit(false)), Seq("k"))
      .collect().head
    assert(empty.getLong(1) === 0L && empty.getLong(2) === 0L &&
      empty.getLong(3) === 0L && empty.isNullAt(4) && empty.isNullAt(5))
  }

  test("asofJoin: inclusive latest-match semantics, per-key, nulls before first right row") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-05 09:$m%02d:00")
    val left = Seq(
      (1L, "A", ts(1)), (2L, "A", ts(5)), (3L, "A", ts(7)),
      (4L, "B", ts(6)), (5L, "B", ts(2))
    ).toDF("id", "sym", "t")
    val right = Seq(
      ("A", ts(5), 10.0), ("A", ts(6), 11.0),
      ("B", ts(3), 20.0), ("B", ts(6), 21.0)
    ).toDF("sym", "rt", "px")
    val got = graft.operators.AsOf.asofJoin(left, right, key = "sym",
      leftTs = "t", rightTs = "rt", valueCols = Seq("rt", "px"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(4)).map(_ => r.getDouble(4))))
    assert(got === Array(
      (1L, None),          // before A's first right row
      (2L, Some(10.0)),    // equal ts is INCLUSIVE
      (3L, Some(11.0)),    // latest of several, key-isolated
      (4L, Some(21.0)),    // B's own rows, not A's
      (5L, None)))
    // randomized equivalence vs a naive per-row scan
    val rnd = new scala.util.Random(7)
    val bigL = (1L to 300L).map(i => (i, s"K${rnd.nextInt(5)}", ts(rnd.nextInt(55) + 1)))
    val bigR = (1 to 60).map(_ => (s"K${rnd.nextInt(5)}", ts(rnd.nextInt(55) + 1), rnd.nextInt(100).toDouble))
      .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique per (key, ts)
    val gotBig = graft.operators.AsOf.asofJoin(
      bigL.toDF("id", "sym", "t"), bigR.toDF("sym", "rt", "px"),
      key = "sym", leftTs = "t", rightTs = "rt", valueCols = Seq("px"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_ => r.getDouble(3))).toMap
    bigL.foreach { case (id, sym, t) =>
      val want = bigR.filter(r => r._1 == sym && !r._2.after(t))
        .sortBy(_._2.getTime).lastOption.map(_._3)
      assert(gotBig(id) === want, s"id=$id")
    }
    // contract violation (duplicate right (key, ts)) degrades to a
    // DETERMINISTIC tie-break — greatest payload wins — never to
    // partition-dependent output
    val dupR = Seq(("A", ts(5), 1.0), ("A", ts(5), 9.0), ("A", ts(5), 4.0))
      .toDF("sym", "rt", "px")
    (1 to 3).foreach { _ =>
      val out = graft.operators.AsOf.asofJoin(
        Seq((1L, "A", ts(6))).toDF("id", "sym", "t").repartition(4), dupR,
        key = "sym", leftTs = "t", rightTs = "rt", valueCols = Seq("px"))
        .collect()
      assert(out.map(_.getDouble(3)).toSeq === Seq(9.0))
    }
  }

  test("quantileBuckets: exact counting cuts, ties share buckets, cardinality gated") {
    // 1..20 in k=4: cuts at 5/10/15, buckets = ceil(v/5)
    val vals = (1 to 20).map(v => (v.toLong, v.toDouble)).toDF("id", "v")
    val got = graft.operators.Stats.quantileBuckets(vals, "v", k = 4)
      .orderBy("id").select("id", "bucket").as[(Long, Int)].collect()
    assert(got === (1 to 20).map(v => (v.toLong, (v + 4) / 5)).toArray)
    // heavy ties: equal values always share a bucket (ntile would split)
    val tied = Seq.fill(9)(1.0).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val tb = graft.operators.Stats.quantileBuckets(tied, "v", k = 3)
      .select("bucket").as[Int].collect().toSet
    assert(tb === Set(1))
    // skewed ties: 8 x 1.0 and 2 x 2.0 in k=2 -> the 2.0s are above the cut
    val skew = ((1 to 8).map(i => (i.toLong, 1.0)) ++ Seq((9L, 2.0), (10L, 2.0)))
      .toDF("id", "v")
    val sb = graft.operators.Stats.quantileBuckets(skew, "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert((1 to 8).forall(i => sb(i.toLong) == 1) && sb(9L) == 2 && sb(10L) == 2)
    // unbounded measures are refused, not silently mis-bucketed — the
    // r13 in-plan cuts raise via raise_error at ACTION time (the gate is
    // part of the plan now, not a construction-time collect)
    val err = intercept[Throwable] {
      graft.operators.Stats.quantileBuckets(vals, "v", k = 4, maxDistinct = 5)
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(err).exists(_.contains("distinct")))
  }

  test("quantileBuckets: a caller's own __cuts column is kept, no collision") {
    val vals = (1 to 20).map(v => (v.toLong, v.toDouble)).toDF("id", "v")
    val want = graft.operators.Stats.quantileBuckets(vals, "v", k = 4)
      .orderBy("id").select("id", "bucket").as[(Long, Int)].collect()
    val own = vals.withColumn("__cuts", col("id") * 10)
    val got = graft.operators.Stats.quantileBuckets(own, "v", k = 4).orderBy("id")
    assert(got.columns.toSeq === Seq("id", "v", "__cuts", "bucket"))
    assert(got.select("id", "bucket").as[(Long, Int)].collect() === want)
    assert(got.select("__cuts").as[Long].collect() === (1 to 20).map(_ * 10L).toArray)
  }

  test("manifest diff: all four statuses, checksum catches content swaps behind equal counts") {
    def m(rows: Seq[(String, String, Long, Long, Long, Long, Long)]) =
      rows.toDF("split", "source", "n_docs", "n_tokens", "min_doc_id",
        "max_doc_id", "content_sum")
    val old_ = m(Seq(
      ("train", "a", 10L, 100L, 0L, 9L, 111L),   // unchanged
      ("train", "b", 10L, 100L, 0L, 9L, 222L),   // content swap: counts equal, sum differs
      ("train", "c", 5L, 50L, 0L, 4L, 333L),     // removed
      ("val", "a", 3L, 30L, 0L, 2L, 444L)))      // changed counts
    val new_ = m(Seq(
      ("train", "a", 10L, 100L, 0L, 9L, 111L),
      ("train", "b", 10L, 100L, 0L, 9L, 999L),
      ("val", "a", 7L, 80L, 0L, 6L, 555L),
      ("test", "z", 2L, 20L, 0L, 1L, 666L)))     // added
    val got = TextAnalysis.datasetManifestDiff(old_, new_)
      .orderBy("split", "source")
      .select("split", "source", "old_docs", "new_docs", "delta_docs",
        "delta_tokens", "status")
      .as[(String, String, Long, Long, Long, Long, String)].collect()
    assert(got === Array(
      ("test", "z", 0L, 2L, 2L, 20L, "added"),
      ("train", "a", 10L, 10L, 0L, 0L, "unchanged"),
      ("train", "b", 10L, 10L, 0L, 0L, "changed"), // the checksum catch
      ("train", "c", 5L, 0L, -5L, -50L, "removed"),
      ("val", "a", 3L, 7L, 4L, 50L, "changed")))
  }

  test("cluster-size report: singletons included, corpus mass conserved") {
    val universe = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters: {1,2,3}, {4,5}; 6..10 singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.clusterSizeReport(universe, clusters).orderBy("size")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 5L, 5L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
    assert(got.map(_._3).sum === 10L) // every doc accounted for
  }

  test("collocations: PMI recomputed by hand, bound pair beats free pair, minCount gates") {
    // "new york" always adjacent (5x); "the", "x?" fillers make other pairs free
    val lines = (0 until 5).map(i => (i.toLong, s"new york x$i the cat"))
    val docs5 = lines.toDF("doc_id", "text")
    // bigram positions: 4 per doc -> N = 20; c1: new=5, york=5, the=5, cat=5, x?=1 each
    val got = graft.operators.TextAnalysis.collocations(docs5, k = 3, minCount = 5)
      .as[(String, String, Long, Long)].collect()
    def pmi(n: Long, c2: Long, ca: Long, cb: Long): Long =
      math.round(math.log(n.toDouble * c2 / (ca.toDouble * cb)) * 1e6)
    // survivors at minCount=5: (new,york) c2=5 and (the,cat) c2=5
    assert(got.toSet === Set(
      ("new", "york", 5L, pmi(20, 5, 5, 5)),
      ("the", "cat", 5L, pmi(20, 5, 5, 5))))
    // hapax pairs (york,x0) never appear despite maximal conditional prob
    assert(!got.exists(_._1 == "york"))
  }

  test("lsh calibration: exact jaccard on candidates, near-dups near zero error") {
    val got = Dedup.lshCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // exact dups (1,4): identical shingle sets -> exact = 1.0, est = 1.0
    assert(got((1L, 4L)) === ((1.0, 1.0, 0L)))
    // the near-dup pair (1,2): one substituted word -> exact < 1, and the
    // estimate is within the sketch's resolution (16 perms -> 625 ticks)
    val (est12, exact12, err12) = got((1L, 2L))
    assert(exact12 > 0.5 && exact12 < 1.0)
    assert(math.abs(err12) <= 2500)
    assert(err12 === math.round(est12 * 10000) - math.round(exact12 * 10000))
  }

  test("lang composition: per-source counts and integer basis-point shares") {
    val mixed = Seq(
      (1L, "web", "the cat and the dog is in that house"),   // en
      (2L, "web", "the fish and the bird is in that tree"),  // en
      (3L, "web", "der hund und die katze ist nicht ein"),   // de
      (4L, "books", "el perro es un animal que la los las")  // es
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.langComposition(mixed)
      .orderBy("source", "predicted_lang")
      .as[(String, String, Long, Long)].collect()
    assert(got === Array(
      ("books", "es", 1L, 10000L),
      ("web", "de", 1L, 3333L),   // (20000*1 + 3) div 6 = 3333 (HALF_UP down)
      ("web", "en", 2L, 6667L)))  // (20000*2 + 3) div 6 = 6667
  }

  test("containment pairs: a doc embedded in a longer one is caught, jaccard misses it") {
    val eight = "one two three four five six seven eight"
    val filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val fixture = Seq(
      (1L, eight),             // 4 distinct 5-gram shingles
      (2L, s"$eight $filler"), // contains doc 1 verbatim + 20 more tokens
      (3L, "unrelated words entirely different from anything else present here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture, threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(got.length === 1)
    val (a, b, na, nb, common, ca, _) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(ca === 1.0) // every doc-1 shingle inside doc 2
    assert(common === na && nb > na)
    // symmetric jaccard at the same cut finds nothing: 4/24 dilutes it
    assert(Dedup.jaccardPairs(fixture, threshold = 0.9).count() === 0L)
  }

  test("vocab coverage curve: cumulative share in HALF_UP basis points") {
    val vdocs = Seq((1L, "b a a"), (2L, "c b A")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(vdocs, k = 2)
      .as[(Long, String, Long, Long)].collect()
    // 6 tokens: a×3, b×2, c×1 — a covers 5000 bp, a+b covers 8333 bp
    assert(got === Array((1L, "a", 3L, 5000L), (2L, "b", 2L, 8333L)))
  }

  test("source overlap matrix: pair cells are least/greatest-normalized") {
    val d = Seq((1L, "web"), (2L, "web"), (3L, "web"), (4L, "books"), (5L, "books"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (1L, 4L), (2L, 4L), (3L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.sourceOverlapMatrix(d, pairs).orderBy("source_a", "source_b")
      .as[(String, String, Long)].collect()
    assert(got === Array(("books", "web", 3L), ("web", "web", 1L)))
  }

  test("embedding audit: dim/norm buckets, zero-norm degenerates, tick-exact extrema") {
    val embs = Seq(
      (1L, Seq(3f, 4f)),    // norm 5 → bucket 20
      (2L, Seq(0f, 0f)),    // degenerate zero vector
      (3L, Seq(1f, 0f)),    // norm 1 → bucket 4
      (4L, Seq(0.6f, 0.8f)) // norm 1 → bucket 4
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingAudit(embs).orderBy("dim", "norm_bucket")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(got === Array(
      (2L, 0L, 1L, 1L, 0.0, 0.0),
      (2L, 4L, 2L, 0L, 1.0, 1.0),
      (2L, 20L, 1L, 0L, 5.0, 5.0)))
  }

  test("tokenizer fertility: chars-per-token basis points per predicted language") {
    val mixed = Seq(
      (1L, "the cat and the dog is in that house"), // en: 9 tokens, 36 chars
      (2L, "der hund und die katze ist nicht ein")  // de: 8 tokens, 36 chars
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenizerFertility(mixed).orderBy("predicted_lang")
      .as[(String, Long, Long, Long, Long)].collect()
    // 36/8 = 4.5 cpt → 45000 bp; 36/9 = 4.0 → 40000 bp
    assert(got === Array(("de", 1L, 8L, 36L, 45000L), ("en", 1L, 9L, 36L, 40000L)))
  }

  test("gate funnel: first failing gate wins, shares partition the corpus") {
    val good = "the cat and the dog is in that house on the mat with a friend of ours"
    val fixture = Seq(
      (1L, "keep", s"$good contact bob@example.com"),          // pii (gate 1)
      (2L, "keep", "zzz"),                                     // quality (gate 2)
      (3L, "keep", "der hund und die katze ist nicht ein in in"), // language (3)
      (4L, "drop", good),                                      // mixture (rate 0)
      (5L, "keep", good)                                       // admitted
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.gateFunnel(fixture,
        rates = Map("keep" -> 1.0, "drop" -> 0.0))
      .orderBy("stage").as[(Long, String, Long, Long)].collect()
    assert(got === Array(
      (1L, "pii", 1L, 2000L), (2L, "quality", 1L, 2000L),
      (3L, "language", 1L, 2000L), (5L, "mixture", 1L, 2000L),
      (6L, "admitted", 1L, 2000L)))
  }

  test("char-class profile: disjoint classes in HALF_UP basis points") {
    val fixture = Seq((1L, "web", "ab 12.")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.charClassProfile(fixture)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // 6 chars: 2 alpha, 2 digit, 1 space, 1 punct, 0 other
    assert(got === Array(("web", 6L, 3333L, 3333L, 1667L, 1667L, 0L)))
  }

  test("top boilerplate lines: df is per-doc distinct, rank by (df desc, line)") {
    val fixture = Seq(
      (1L, "h\nh\na"), // repeated within one doc counts once
      (2L, "h\nb"), (3L, "h\nb")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topBoilerplateLines(fixture)
      .as[(Long, String, Long)].collect()
    assert(got === Array((1L, "h", 3L), (2L, "b", 2L)))
  }

  test("zipf slope: integer micro-nat least squares recomputed by hand") {
    val fixture = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    // ranks 1,2,3 with counts 4,2,1 → micro-nat points:
    val x = Seq(0L, 693147L, 1098612L)       // round(ln(rank)·1e6)
    val y = Seq(1386294L, 693147L, 0L)       // round(ln(n)·1e6)
    val k = 3L
    val (sx, sy) = (x.sum, y.sum)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sxx = x.map(a => a * a).sum
    val want = BigDecimal((k * sxy - sx * sy).toDouble / (k * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.zipfSlope(fixture).as[(Long, Double)].head()
    assert(got === ((3L, want)))
    assert(want < -1.0 && want > -1.5) // zipf-ish corpus sits near −1
  }

  test("source quality quantiles: type-1 cuts on the 4dp grid") {
    // 1..4 'zzzz' tokens → qualities 0.2025 < 0.205 < 0.2075 < 0.21
    val fixture = (1 to 4).map(i => (i.toLong, "s", Seq.fill(i)("zzzz").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.sourceQualityQuantiles(fixture)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got === Array(("s", 4L, 0.2025, 0.205, 0.2075)))
  }

  test("held-out surprisal: add-one OOV smoothing recomputed by hand") {
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val ids = 0L until 120L
    val vals = ids.filter(i => bucket(i) >= 90 && bucket(i) < 95)
    assert(vals.nonEmpty)
    val special = vals.head // carries a token the train split never saw
    def text(id: Long): String =
      if (id == special) "aa qq" else if (id % 3 == 0) "aa bb" else "aa cc"
    val fixture = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    val counts = ids.filter(bucket(_) < 90).flatMap(text(_).split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t = counts.values.sum
    val v = ids.flatMap(text(_).split(" ")).distinct.size.toLong // aa bb cc qq
    def nll(tok: String): Long =
      math.round(math.log((t + v).toDouble / (counts.getOrElse(tok, 0L) + 1)) * 1e6)
    val want = vals.map { i =>
      val toks = text(i).split(" ").toSeq
      val s = toks.map(nll).sum
      (i, toks.size.toLong, toks.count(!counts.contains(_)).toLong, s,
        ((2 * s + toks.size) / (2 * toks.size)).toDouble / 1e6)
    }.sortBy(_._1)
    val got = TextAnalysis.heldOutSurprisal(fixture).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === want)
    assert(got.map(_._3).sum === 1L) // exactly the planted OOV token
  }

  test("label centroid matrix: hand-computed cosines, micro-tick centroids") {
    val embs = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 0), // centroid (0.5, 0.5)
      (3L, Seq(1f, 0f), 1),                       // centroid (1, 0)
      (4L, Seq(-1f, 0f), 2), (5L, Seq(-1f, 0f), 2) // centroid (−1, 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidMatrix(embs).orderBy("label_a", "label_b")
      .as[(Long, Long, Double)].collect()
    assert(got === Array(
      (0L, 1L, 0.707107), (0L, 2L, -0.707107), (1L, 2L, -1.0)))
  }

  test("corpus epoch diff: all four statuses with id ranges") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = TextAnalysis.corpusEpochDiff(old, neu).orderBy("status")
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(
      ("added", 1L, 4L, 4L), ("changed", 1L, 3L, 3L),
      ("removed", 1L, 1L, 1L), ("unchanged", 1L, 2L, 2L)))
  }

  test("stratified eval draw: salted-hash order, cap per cell, reproducible") {
    def u(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"eval:$id".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 10000
    }
    val ids = 0L until 10L
    val fixture = ids.map(i => (i, "w", "the cat and the dog is in that tree"))
      .toDF("doc_id", "source", "text")
    val wantIds = ids.sortBy(i => (u(i), i)).take(3)
    val got = TextAnalysis.stratifiedEvalDraw(fixture, n = 3).orderBy("rk")
      .as[(Long, String, String, Long)].collect()
    assert(got.map(_._1).toSeq === wantIds)
    assert(got.map(r => (r._2, r._3)).distinct.toSeq === Seq(("w", "en")))
    assert(got.map(_._4).toSeq === Seq(1L, 2L, 3L))
    // same draw on a re-run: no RNG anywhere
    assert(TextAnalysis.stratifiedEvalDraw(fixture, n = 3).orderBy("rk")
      .as[(Long, String, String, Long)].collect().toSeq === got.toSeq)
  }

  test("exact overlap matrix: combination counts, no pair materialization") {
    val d = Seq(
      (1L, "x", "a"), (2L, "x", "b"), (3L, "x", "b"), (4L, "y", "a")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.exactOverlapMatrix(d).orderBy("source_a", "source_b")
      .as[(String, String, Long)].collect()
    // fingerprint "x": a×1, b×2 → (a,b): 1·2 = 2; (b,b): C(2,2) = 1
    assert(got === Array(("a", "b", 2L), ("b", "b", 1L)))
  }

  test("bigram LM: conditional NLL recomputed by hand, short docs have no row") {
    // corpus: "a b a b" and "a b c"; V = 3 (a, b, c); c1: a=3, b=3, c=1
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    val docs2 = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo")).toDF("doc_id", "text")
    def nll(c1: Long, c2: Long): Long =
      math.round(math.log((c1 + 4.0) / (c2 + 1)) * 1e6) // V=4 with "solo"
    val ab = nll(3, 3); val ba = nll(3, 1); val bc = nll(3, 1)
    val got = TextAnalysis.bigramLmScore(docs2).orderBy("doc_id")
      .select("doc_id", "n_bigrams", "nll_micro").as[(Long, Long, Long)].collect()
    assert(got === Array((1L, 3L, ab + ba + ab), (2L, 2L, ab + bc)))
    // doc 3 has one token -> no transitions -> no row (conditional model)
    assert(!got.map(_._1).contains(3L))
    // predictable transitions score lower than rare ones
    assert(ab < ba)
  }

  test("IVF cell report: counts and integer-micro inertia match a naive recompute") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid 0
      (1L, Array(0.0f, 1.0f)),   // centroid 1
      (2L, Array(0.9f, 0.1f)),   // -> cell 0
      (3L, Array(0.1f, 0.9f)),   // -> cell 1
      (4L, Array(0.6f, 0.8f))    // -> cell 1 (cos .8 vs .6)
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.ivfCellReport(vecs, k = 2)
      .orderBy("cluster")
      .as[(Long, Long, Double, Double)].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def micro(c: Double): Long = math.floor((1 - c) * 1e6 + 0.5).toLong
    val d2 = micro(cos(Array(0.9, 0.1), Array(1, 0)))
    val d3 = micro(cos(Array(0.1, 0.9), Array(0, 1)))
    val d4 = micro(cos(Array(0.6, 0.8), Array(0, 1)))
    val mean1 = (2 * (d3 + d4) + 3) / (2 * 3) / 1e6 // HALF_UP over 3 members (incl. centroid)
    assert(got.length === 2)
    assert(got(0)._2 === 2L && got(1)._2 === 3L)
    assert(got(0)._3 === (2 * d2 + 2) / (2 * 2) / 1e6)
    assert(got(0)._4 === d2 / 1e6)
    assert(got(1)._3 === mean1)
    assert(got(1)._4 === math.max(d3, d4) / 1e6)
  }

  test("filtered kNN: pre-filter semantics — k best from the admissible set, queries drawn unfiltered") {
    // query 0 = e1; nearest is 1 (same direction), then 2 (diagonal), then 3 (e2)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),  // query; label 0 (would fail the filter itself)
      (1L, Array(0.9f, 0.1f), 0),  // nearest but label-excluded
      (2L, Array(0.7f, 0.7f), 1),  // admissible
      (3L, Array(0.0f, 1.0f), 1),  // admissible
      (4L, Array(-1.0f, 0.0f), 1)  // admissible, opposite
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.knnCosineFiltered(vecs,
      queryPred = col("vec_id") === 0, candidatePred = col("label") === 1, k = 2)
      .orderBy("rnk").select("neighbor_id", "rnk").as[(Long, Long)].collect()
    // the label-0 near-duplicate (1) never appears; the top-2 come from
    // the admissible set in cosine order
    assert(got === Array((2L, 1L), (3L, 2L)))
    // unfiltered control: 1 wins
    val ctl = graft.operators.Similarity.knnCosineBrute(vecs,
      queryPred = col("vec_id") === 0, k = 1)
      .select("neighbor_id").as[Long].collect()
    assert(ctl === Array(1L))
  }

  test("production xxhash32 base: matches Spark's xxhash64 fold, winnowing recompute, draws stay uniform") {
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def xx32(s: String): Long = {
      val b = s.getBytes("UTF-8")
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L) & 0xffffffffL
    }
    // the JVM-side fold used by winnowing IS the engine-wide column base
    // (pmod(xxhash64(s), 2^32)) — one hash family across all prod paths;
    // each base's row-local form equals its Column form
    val strs = Seq("abc", "", "ünïcode 字")
    val viaColumn = strs.toDF("s").select(HashBase.Xx(col("s"))).as[Long].collect()
    assert(viaColumn.toSeq === strs.map(xx32))
    for (b <- Seq(HashBase.Md5, HashBase.Xx))
      assert(strs.toDF("s").select(b(col("s"))).as[Long].collect().toSeq ===
        strs.map(b.row.applyAsLong), b.toString)
    // winnowing prod path: independent naive recompute (O(m·w) window min)
    val norm = "the quick brown fox jumps over the lazy dog again and again"
    val k = 8; val w = 4
    val cps = norm.codePoints().toArray
    val hs = (0 to cps.length - k).map(i => xx32(new String(cps, i, k)))
    val naive = hs.sliding(w).map(_.min).toSeq.distinct.sorted
    val got = Seq((1L, norm)).toDF("doc_id", "text")
    val fp = graft.operators.TextAnalysis
      .winnowingFingerprints(got, k, w, HashBase.Xx)
      .select(explode(col("fingerprints"))).as[Long].collect().toSeq
    assert(fp === naive)
    // salted draws keep their distributional contract under the swap:
    // split proportions near 90/5/5, mixture rate-0/rate-1 exact,
    // manifest totals preserved cell-to-cell
    val ids = (0L until 2000L).map(i => (i, s"src${i % 4}", s"document body $i"))
      .toDF("doc_id", "source", "text")
    val splits = TextAnalysis.hashSplit(ids, base = HashBase.Xx)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(splits("train") - 1800L) < 100)
    assert(splits("val") > 40 && splits("test") > 40)
    val mixed = TextAnalysis.mixtureSample(ids,
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5,
      base = HashBase.Xx)
      .groupBy("source").agg(sum(when(col("kept"), 1).otherwise(0)).as("k"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mixed("src0")._1 === mixed("src0")._2) // rate 1 keeps all
    assert(mixed("src1")._1 === 0L)               // rate 0 drops all
    val m5 = TextAnalysis.datasetManifest(ids)
    val mx = TextAnalysis.datasetManifest(ids, base = HashBase.Xx)
    def totals(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum("n_docs"), sum("n_tokens")).as[(Long, Long)].collect().head
    assert(totals(m5) === totals(mx)) // cells move with the split; mass doesn't
    // prod token-budget draw equals a driver-side naive sort+scan
    val budget = 600L
    val drawn = TextAnalysis.tokenBudgetSample(ids, budget, HashBase.Xx)
      .select("doc_id", "start_offset").as[(Long, Long)].collect().toMap
    val naiveOrder = (0L until 2000L).map(i => (xx32(s"draw:$i"), i)).sorted
    var off = 0L
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    naiveOrder.foreach { case (_, i) =>
      val nTok = 3L // every fixture doc is "document body <i>" = 3 tokens
      if (off < budget) expect(i) = off
      off += nTok
    }
    assert(drawn === expect.toMap)
    // classifier prod score: independent recompute for one doc
    def w32(tok: String): Double = {
      val b = xx32(tok) % 1024
      xx32(s"w:$b").toDouble / 2147483648.0 - 1.0
    }
    val toks = Seq("alpha", "beta", "alpha")
    val expected = BigDecimal(toks.map(w32).sum / toks.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val score = TextAnalysis.hashedClassifierScore(
      Seq((1L, "Alpha beta ALPHA")).toDF("doc_id", "text"), base = HashBase.Xx)
      .select("score").as[Double].collect().head
    assert(score === expected)
  }

  test("quantileBucketsTicked: fine tick reproduces exact buckets, coarse tick bounds cardinality") {
    val vals = (1 to 20).map(v => (v.toLong, v.toDouble)).toDF("id", "v")
    // tick finer than the data's own grid: buckets identical to the exact path
    val fine = graft.operators.Stats.quantileBucketsTicked(vals, "v", k = 4, tick = 0.5)
      .orderBy("id").select("id", "bucket").as[(Long, Int)].collect()
    assert(fine === (1 to 20).map(v => (v.toLong, (v + 4) / 5)).toArray)
    // a corpus-growing measure: the exact path raises at the cap, the
    // ticked path completes because the grid bounds the value dimension
    val many = (1 to 1000).map(i => (i.toLong, i / 1000.0)).toDF("id", "v")
    intercept[Throwable] {
      graft.operators.Stats.quantileBuckets(many, "v", k = 4, maxDistinct = 100)
        .collect()
    }
    val ticked = graft.operators.Stats.quantileBucketsTicked(
      many, "v", k = 4, tick = 0.02, maxDistinct = 100)
    assert(ticked.count() === 1000)
    // the grid helper column is dropped; cuts are in-plan (one bounded
    // grid window + a broadcast 1-row cut relation — no driver collect)
    assert(ticked.columns.toSeq === Seq("id", "v", "bucket"))
    // phases are monotone in the measure and all k are populated
    val phases = ticked.orderBy("id").select("bucket").as[Int].collect()
    assert(phases.toSet === Set(1, 2, 3, 4))
    assert(phases.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("intervalJoin: containment, gaps null, [start,end) boundaries, overlap latest-start-wins") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-05 09:$m%02d:00")
    val right = Seq(
      ("A", ts(10), ts(20), 1L), ("A", ts(30), ts(40), 2L),
      ("B", ts(5), ts(50), 3L)
    ).toDF("k", "start_ts", "end_ts", "iv_id")
    val left = Seq(
      (1L, "A", ts(15)), // inside first interval
      (2L, "A", ts(25)), // in the gap between intervals -> null
      (3L, "A", ts(10)), // ts == start is INCLUSIVE
      (4L, "A", ts(20)), // ts == end is EXCLUSIVE -> null (gap)
      (5L, "A", ts(45)), // after the last interval ended -> null
      (6L, "A", ts(5)),  // before any interval -> null
      (7L, "B", ts(15))  // key isolation
    ).toDF("id", "k", "t")
    val got = graft.operators.AsOf.intervalJoin(left, right, key = "k",
      leftTs = "t", start = "start_ts", end = "end_ts", valueCols = Seq("iv_id"))
      .orderBy("id")
      .collect().map(r => Option(r.get(3)).map(_ => r.getLong(3)))
    assert(got.toSeq === Seq(Some(1L), None, Some(1L), None, None, None, Some(3L)))
    // the end column never leaks into the output
    val cols = graft.operators.AsOf.intervalJoin(left, right, "k", "t",
      "start_ts", "end_ts", Seq("iv_id")).columns.toSeq
    assert(cols === Seq("id", "k", "t", "iv_id"))
    // contract-violating overlap: latest start wins even while an earlier
    // interval is still open, deterministically across partitionings
    val over = Seq(("A", ts(10), ts(50), 1L), ("A", ts(20), ts(25), 2L))
      .toDF("k", "start_ts", "end_ts", "iv_id")
    (1 to 3).foreach { _ =>
      val o = graft.operators.AsOf.intervalJoin(
        Seq((1L, "A", ts(22)), (2L, "A", ts(30))).toDF("id", "k", "t").repartition(4),
        over, "k", "t", "start_ts", "end_ts", Seq("iv_id"))
        .orderBy("id").collect().map(r => Option(r.get(3)).map(_ => r.getLong(3)))
      // ts=22: both open, later start (iv 2) wins; ts=30: the later
      // interval ENDED and the earlier is not consulted -> null
      assert(o.toSeq === Seq(Some(2L), None))
    }
    // randomized equivalence vs a naive per-row scan (non-overlapping
    // intervals per key, the documented contract)
    val rnd = new scala.util.Random(11)
    val ivs = (for {
      k <- Seq("K0", "K1", "K2")
      i <- 0 until 8
    } yield (k, ts(i * 7 + rnd.nextInt(3)), ts(i * 7 + 3 + rnd.nextInt(3)), rnd.nextInt(1000).toLong))
    val pts = (1L to 200L).map(i => (i, s"K${rnd.nextInt(3)}", ts(rnd.nextInt(59))))
    val gotBig = graft.operators.AsOf.intervalJoin(
      pts.toDF("id", "k", "t"), ivs.toDF("k", "start_ts", "end_ts", "iv_id"),
      "k", "t", "start_ts", "end_ts", Seq("iv_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_ => r.getLong(3))).toMap
    pts.foreach { case (id, k, t) =>
      val want = ivs.filter(iv => iv._1 == k && !iv._2.after(t) && t.before(iv._3))
        .map(_._4).headOption
      assert(gotBig(id) === want, s"id=$id")
    }
  }

  test("funnel: ordered step completion, inclusive ties, monotone counts") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-05 09:$m%02d:00")
    val ev = Seq(
      // u1 completes in order: view@1 click@5 purchase@9
      (1L, ts(1), "view"), (1L, ts(5), "click"), (1L, ts(9), "purchase"),
      // u2 clicks BEFORE viewing: the pre-view click must not count, and
      // there is no click after the view -> stops at step 1
      (2L, ts(3), "click"), (2L, ts(4), "view"),
      // u3: click at the SAME instant as view counts (inclusive >=), no purchase
      (3L, ts(2), "view"), (3L, ts(2), "click"),
      // u4 never views: the purchase can't count at any step
      (4L, ts(1), "purchase"),
      // u5: purchase before the click -> stops at step 2
      (5L, ts(1), "view"), (5L, ts(3), "purchase"), (5L, ts(6), "click")
    ).toDF("uid", "t", "etype")
    val got = graft.operators.Engagement.funnel(ev, "uid", "t", "etype",
      Seq("view", "click", "purchase"))
      .orderBy("step_idx")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, "view", 4L), (2, "click", 3L), (3, "purchase", 1L)))
    // a single-step funnel is just the distinct-user count of that type
    val one = graft.operators.Engagement.funnel(ev, "uid", "t", "etype", Seq("purchase"))
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(one.toSeq === Seq((1, 3L)))
    // duplicate steps are a caller error, not silent double-counting
    intercept[IllegalArgumentException] {
      graft.operators.Engagement.funnel(ev, "uid", "t", "etype", Seq("view", "view"))
    }
  }

  test("retention: cohort = first active day, integral period offsets, distinct users") {
    import java.sql.Timestamp
    def d(day: Int) = Timestamp.valueOf(f"2026-01-$day%02d 10:00:00")
    val ev = Seq(
      (1L, d(1)), (1L, d(2)), (1L, d(9)),  // cohort 01-01: offsets 0, 0, 1
      (2L, d(1)), (2L, d(16)),             // cohort 01-01: offsets 0, 2
      (3L, d(5)), (3L, d(5)), (3L, d(11))  // cohort 01-05: offsets 0, 0 (dup day), 0 (day 11 is +6)
    ).toDF("uid", "t")
    val got = graft.operators.Engagement.retention(ev, "uid", "t", periodDays = 7)
      .collect().map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    assert(got === Map(
      ("2026-01-01", 0) -> 2L, ("2026-01-01", 1) -> 1L, ("2026-01-01", 2) -> 1L,
      ("2026-01-05", 0) -> 1L))
    // brute-force equivalence on randomized activity
    val rnd = new scala.util.Random(17)
    val big = (1 to 400).map(_ => (rnd.nextInt(30).toLong, d(rnd.nextInt(28) + 1)))
    val gotBig = graft.operators.Engagement.retention(
      big.toDF("uid", "t"), "uid", "t", periodDays = 7)
      .collect().map(r => ((r.getDate(0).toString, r.getInt(1)), r.getLong(2))).toMap
    val byUser = big.map { case (u, t) => (u, t.toLocalDateTime.toLocalDate) }
    val cohorts = byUser.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val want = byUser.distinct
      .map { case (u, day) =>
        (cohorts(u).toString,
          (java.time.temporal.ChronoUnit.DAYS.between(cohorts(u), day) / 7).toInt) -> u
      }
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).distinct.size.toLong }
    assert(gotBig === want)
  }

  test("datasetManifest: per-cell counts, order-free checksum, partition-invariant") {
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma"),
      (2L, "srcA", "delta"),
      (3L, "srcB", "epsilon zeta")
    ).toDF("doc_id", "source", "text")
    val m = graft.operators.TextAnalysis.datasetManifest(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // every doc lands in exactly one cell and token totals add up
    assert(m.values.map(_._1).sum === 3L)
    assert(m.values.map(_._2).sum === 6L)
    // the checksum is the SUM of per-doc md5-prefix ints: recompute one cell
    val h = docs.select(col("source"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sum)
    assert(m.filter(_._1._2 == "srcA").values.map(_._5).sum === h("srcA"))
    // order/partitioning never changes the manifest
    val re = graft.operators.TextAnalysis.datasetManifest(
      docs.repartition(7).sortWithinPartitions(desc("doc_id")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(re === m)
  }

  test("bestOfCluster: max-score winner per cluster, ties to min id, singletons kept") {
    val scored = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.7), // cluster 1: doc 2 wins on score
      (4L, 0.1),                       // singleton: wins its own cluster
      (5L, 0.8), (6L, 0.8)             // cluster 5: score tie -> min id 5 wins
    ).toDF("doc_id", "quality")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = graft.operators.Dedup.bestOfCluster(scored, clusters, "quality")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, true)),
      5L -> ((5L, true)), 6L -> ((5L, false))))
    // every cluster keeps EXACTLY one member, under any partitioning
    val kept = graft.operators.Dedup.bestOfCluster(
      scored.repartition(5), clusters.repartition(3), "quality")
      .where(col("keep")).collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L))
  }

  test("perSourceCap: top-n per source by quality, deterministic ties") {
    val docs = Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and runs far today"),
      (2L, "srcA", "x"),
      (3L, "srcA", "the quick brown fox jumps over the lazy dog and runs far today"),
      (4L, "srcB", "a b")
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.TextAnalysis.perSourceCap(docs, n = 2)
      .orderBy("source", "src_rank")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(3)))
    // srcA: docs 1 and 3 have identical text (same quality) -> tie to min
    // id: 1 ranks 1, 3 ranks 2; the low-quality doc 2 is capped out.
    // srcB: its only doc survives.
    assert(got.toSeq === Seq(("srcA", 1L, 1), ("srcA", 3L, 2), ("srcB", 4L, 1)))
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.perSourceCap(docs, n = 0)
    }
  }

  test("hardNegatives: band membership on rounded cosine, near-dups excluded, ranks dense") {
    // query vec 0 along e1; candidates at known cosines: a near-dup (0.99+),
    // an in-band mid-similarity pair, an orthogonal (0.0), an anti (-1)
    def v(x: Double, y: Double) = Array(x, y, 0.0f.toDouble, 0.0)
    val embs = Seq(
      (0L, v(1, 0)),             // query
      (1L, v(1, 0.05)),          // cosine ~0.9988 -> above hi, excluded
      (2L, v(1, 1)),             // cosine ~0.7071 -> in [0.1, 0.8)
      (3L, v(0.3, 1)),           // cosine ~0.2873 -> in band
      (4L, v(0, 1)),             // cosine 0 -> below lo, excluded
      (5L, v(-1, 0))             // cosine -1 -> excluded
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.hardNegatives(
      embs, col("vec_id") === 0, k = 10, lo = 0.1, hi = 0.8)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === Seq(2L, 3L)) // ordered by cosine desc
    assert(got.map(_._3).toSeq === Seq(1L, 2L)) // ranks dense within band
    assert(got.forall { case (_, c, _) => c >= 0.1 && c < 0.8 })
    // the same call with the full band reduces to knnCosineBrute
    val full = graft.operators.Similarity.hardNegatives(
      embs, col("vec_id") === 0, k = 10, lo = -1.1, hi = 1.1)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    val knn = graft.operators.Similarity.knnCosineBrute(
      embs, col("vec_id") === 0, k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(full === knn)
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.hardNegatives(embs, col("vec_id") === 0, k = 1,
        lo = 0.5, hi = 0.5)
    }
  }

  test("conversionLag: first-from to first-to-after, integer bucket edges") {
    import java.sql.Timestamp
    def at(h: Int, m: Int, s: Int = 0) =
      Timestamp.valueOf(f"2026-01-05 $h%02d:$m%02d:$s%02d")
    val ev = Seq(
      // u1: view@10:00, purchase@10:30 -> lag 1800s -> bucket 0
      (1L, at(10, 0), "view"), (1L, at(10, 30), "purchase"),
      // u2: lag EXACTLY one bucket (3600s) -> bucket 1, edge exclusive below
      (2L, at(10, 0), "view"), (2L, at(11, 0), "purchase"),
      // u3: purchase BEFORE the view only -> never converts, no row
      (3L, at(10, 0), "purchase"), (3L, at(11, 0), "view"),
      // u4: two purchases after view -> the FIRST one counts (bucket 2)
      (4L, at(9, 0), "view"), (4L, at(11, 30), "purchase"), (4L, at(20, 0), "purchase"),
      // u5: second view earlier purchase between -> first view is the anchor
      (5L, at(8, 0), "view"), (5L, at(8, 10), "purchase"), (5L, at(12, 0), "view")
    ).toDF("uid", "t", "etype")
    val got = graft.operators.Engagement.conversionLag(
      ev, "uid", "t", "etype", "view", "purchase")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 2L, 1L -> 1L, 2L -> 1L)) // u1+u5 in 0, u2 in 1, u4 in 2
  }

  test("transitions: per-user consecutive pairs, tie-broken, HALF_UP basis points") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-05 09:$m%02d:00")
    val ev = Seq(
      // u1: a->b->a (two transitions); u2: a->c; the cross-user boundary
      // (u1's last -> u2's first) must NOT count
      (1L, 10L, ts(1), "a"), (2L, 10L, ts(2), "b"), (3L, 10L, ts(3), "a"),
      (4L, 20L, ts(1), "a"), (5L, 20L, ts(5), "c"),
      // u3: equal timestamps -> event_id order decides: a->b, not b->a
      (6L, 30L, ts(7), "a"), (7L, 30L, ts(7), "b")
    ).toDF("event_id", "uid", "t", "etype")
    val got = graft.operators.Engagement.transitions(ev, "uid", "t", "etype", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // from 'a': a->b twice, a->c once -> 6667 and 3333 bp (HALF_UP)
    assert(got === Map(
      ("a", "b") -> ((2L, 6667L)),
      ("a", "c") -> ((1L, 3333L)),
      ("b", "a") -> ((1L, 10000L))))
    // partitioning never changes the matrix
    val re = graft.operators.Engagement.transitions(
      ev.repartition(5), "uid", "t", "etype", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(re === got)
  }

  test("rollingDistinctCount: trailing-window distinct ids, observed days only") {
    import java.sql.Timestamp
    def d(day: Int, h: Int = 9) = Timestamp.valueOf(f"2026-01-$day%02d $h%02d:00:00")
    val ev = Seq(
      (d(1), 10L), (d(1, 23), 10L), // same user twice on day 1 counts once
      (d(1), 20L),
      (d(3), 10L),                  // repeat activity inside the window
      (d(3), 30L),
      (d(12), 40L)                  // isolated burst far past the window
    ).toDF("ts", "uid")
    val got = graft.operators.Stats.rollingDistinctCount(ev, "ts", "uid", windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // only observed days emit rows; day 12's window excludes the day-3 users
    assert(got === Map("2026-01-01" -> 2L, "2026-01-03" -> 3L, "2026-01-12" -> 1L))
    // brute-force equivalence on a randomized month of activity
    val rnd = new scala.util.Random(13)
    val big = (1 to 500).map(_ => (d(rnd.nextInt(28) + 1, rnd.nextInt(24)), rnd.nextInt(40).toLong))
    val w = 7
    val gotBig = graft.operators.Stats.rollingDistinctCount(
      big.toDF("ts", "uid"), "ts", "uid", windowDays = w)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val byDay = big.map { case (t, u) => (t.toLocalDateTime.toLocalDate, u) }
    val days = byDay.map(_._1).distinct
    days.foreach { day =>
      val want = byDay.filter { case (dd, _) =>
        !dd.isAfter(day) && dd.isAfter(day.minusDays(w))
      }.map(_._2).distinct.size.toLong
      assert(gotBig(day.toString) === want, s"day=$day")
    }
    assert(gotBig.size === days.size)
  }

  test("clusterAwareSplit: cluster members share one draw, singletons reduce to hashSplit") {
    val ids = (1L to 40L)
    val docs = ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 1L), (3L, 3L), (7L, 3L))
      .toDF("doc_id", "cluster_id")
    val got = TextAnalysis.clusterAwareSplit(docs, clusters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.keySet === ids.toSet)
    // every member of a cluster carries the SAME split (the whole point)
    assert(Set(got(1L), got(2L), got(5L)).size === 1)
    assert(Set(got(3L), got(7L)).size === 1)
    // and it is the split of the cluster canonical's own hash draw...
    val plain = TextAnalysis.hashSplit(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got(2L)._2 === plain(1L) && got(7L)._2 === plain(3L))
    // ...while singletons reduce exactly to hashSplit
    ids.filterNot(Set(1L, 2L, 5L, 3L, 7L)).foreach { i =>
      assert(got(i) === ((i, plain(i))), s"doc $i")
    }
  }

  test("packSequences: every pack but the last is exactly contextLen; stream is preserved") {
    val docs = (1L to 30L).map { i =>
      (i, (1 to (i % 6 + 3).toInt).map(t => s"d${i}t$t").mkString(" "))
    }.toDF("doc_id", "text")
    val packs = TextAnalysis.packSequences(docs, contextLen = 10, bucketSize = 7)
      .orderBy("pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // exact sizes: all packs 10 tokens, except possibly the last
    packs.init.foreach { case (id, n, _, text) =>
      assert(n === 10L && text.split(" ").length === 10, s"pack $id")
    }
    assert(packs.last._2 <= 10L)
    // pack ids are dense from 0 and totals add up
    assert(packs.map(_._1).toSeq === packs.indices.map(_.toLong))
    val allTokens = (1L to 30L).flatMap(i => (1 to (i % 6 + 3).toInt).map(t => s"d${i}t$t"))
    assert(packs.map(_._2).sum === allTokens.size.toLong)
    // and the concatenation of packs IS the doc_id-ordered token stream:
    // documents split at boundaries without loss or reorder
    assert(packs.map(_._4).mkString(" ") === allTokens.mkString(" "))
    // n_docs counts the docs contributing to each pack
    assert(packs.map(_._3).sum >= 30L) // straddlers count once per pack
  }

  test("ngramNovelty: unique-span fraction per doc, short docs absent") {
    val span = (1 to 13).map(i => s"s$i").mkString(" ") // the shared 13-gram
    val docs = Seq(
      // 15 tokens -> 3 shingles, all unique to this doc
      (1L, (1 to 15).map(i => s"a$i").mkString(" ")),
      // exactly the shared span -> 1 shingle, df=2 -> novelty 0
      (2L, span),
      // shared span + 2 extra tokens -> 3 shingles, 2 unique -> 0.6667
      (3L, s"$span x1 x2"),
      (4L, "too short for thirteen")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L)) // doc 4 has no shingles
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((1L, 0L, 0.0)))
    // integer HALF_UP of 2/3 at 4dp: (2*2*10000 + 3) div 6 = 6667
    assert(got(3L) === ((3L, 2L, 0.6667)))
  }

  test("tfidfTopK: smoothed idf in micro-nats, score ties break by token, empty docs absent") {
    val docs = Seq(
      (1L, "apple banana APPLE"), // lowercased: apple tf=2
      (2L, "banana cherry"),
      (3L, "apple cherry cherry date"),
      (4L, "")
    ).toDF("doc_id", "text")
    // N=4 (the empty doc counts toward the corpus, holds no terms);
    // df: apple 2, banana 2, cherry 2, date 1
    def idf(df: Long): Long = math.round(math.log(5.0 / (df + 1.0)) * 1e6) + 1000000L
    val got = TextAnalysis.tfidfTopK(docs, k = 2)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq === Seq(
      (1L, 1, "apple", 2L, 2L),  // tf 2 beats banana's 1
      (1L, 2, "banana", 1L, 2L),
      (2L, 1, "banana", 1L, 2L), // equal scores -> token asc
      (2L, 2, "cherry", 1L, 2L),
      (3L, 1, "cherry", 2L, 2L), // 2 x idf(2) > 1 x idf(1): 3021652 > 1916291
      (3L, 2, "date", 1L, 1L)))
    assert(got.find(t => t._1 == 1L && t._3 == "apple").get._6 ===
      2 * idf(2) / 1e6)
    assert(got.find(t => t._1 == 3L && t._3 == "date").get._6 ===
      idf(1) / 1e6)
  }

  test("lmScore: integer surprisal sums, HALF_UP mean, token-less docs absent") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry date"),
      (4L, "")
    ).toDF("doc_id", "text")
    // corpus counts: apple 3, banana 2, cherry 3, date 1; total 9
    def nll(n: Long): Long = math.round(math.log(9.0 / n) * 1e6)
    val (a, b, c, d) = (nll(3), nll(2), nll(3), nll(1))
    def halfUp(sum: Long, n: Long): Double = ((2 * sum + n) / (2 * n)) / 1e6
    val got = TextAnalysis.lmScore(docs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1L, 3L, 2 * a + b, halfUp(2 * a + b, 3)),
      (2L, 2L, b + c, halfUp(b + c, 2)),
      (3L, 4L, a + 2 * c + d, halfUp(a + 2 * c + d, 4))))
  }

  test("lengthHistogram: bit-length octaves with exact bounds, empty docs excluded") {
    // token counts: 1 (bin 1), 2,3 (bin 2), 7,8 (bins 3,4 - boundary!), 0 (absent)
    val docs = Seq(
      (1L, "t"), (2L, "t t"), (3L, "t t t"),
      (4L, Seq.fill(7)("t").mkString(" ")), (5L, Seq.fill(8)("t").mkString(" ")),
      (6L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lengthHistogram(docs)
      .orderBy("bin")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (1, 1L, 1L, 1L, 1L, 1L, 1L),   // n=1
      (2, 2L, 3L, 2L, 5L, 2L, 3L),   // n=2,3
      (3, 4L, 7L, 1L, 7L, 7L, 7L),   // n=7 (the octave's top)
      (4, 8L, 15L, 1L, 8L, 8L, 8L))) // n=8 (the next octave's floor)
  }

  test("semantic dedup: within-cluster near-dups dropped, earliest kept, argmax tie to cluster 0") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),     // centroid 0
      (1L, Array(0f, 1f, 0f, 0f)),     // centroid 1
      (2L, Array(0.9f, 0.1f, 0f, 0f)), // cluster 0, cos(0,2)≈0.994
      (3L, Array(1f, 0.05f, 0f, 0f)),  // cluster 0, cos(0,3)≈0.999
      (4L, Array(0.1f, 1f, 0f, 0f)),   // cluster 1, cos(1,4)≈0.995
      (5L, Array(0f, 0f, 1f, 0f))      // orthogonal to both -> tie -> cluster 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, k = 2, threshold = 0.95)
      .orderBy("vec_id").as[(Long, Long, Boolean)].collect()
    assert(got === Array(
      (0L, 0L, true), (1L, 1L, true), (2L, 0L, false),
      (3L, 0L, false), (4L, 1L, false), (5L, 0L, true)))
  }

  test("char entropy: constant text scores zero, uniform pair ln 2, empty doc coalesces") {
    val docs = Seq((1L, "aaaa"), (2L, "ab"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs)
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got(0) === ((1L, 4L, 0.0)))
    // two equiprobable chars: 2 · floor(0.5·ln2·1e6 + ½) micro-nats
    assert(got(1) === ((2L, 2L, 0.693148)))
    assert(got(2) === ((3L, 0L, 0.0)))
  }

  test("corpus grep: counts non-overlapping hits with first offset, misses excluded") {
    val docs = Seq(
      (1L, "the needle sits here and the needle repeats"),
      (2L, "nothing to find"),
      (3L, "needle")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.corpusGrep(docs, "needle")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 5L), (3L, 1L, 1L)))
  }

  test("budget allocation: water level caps the big sources, sum is exactly the budget") {
    val docs = Seq(
      (1L, Seq.fill(10)("t").mkString(" "), "small"),
      (2L, Seq.fill(100)("t").mkString(" "), "bigA"),
      (3L, Seq.fill(100)("t").mkString(" "), "bigB")
    ).toDF("doc_id", "text", "source")
    def run(b: Long) = TextAnalysis.budgetAllocation(docs, b)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    // 60 tokens: small floods (takes its 10), bigs split 50 evenly
    assert(run(60L) === Seq(("bigA", 100L, 25L), ("bigB", 100L, 25L), ("small", 10L, 10L)))
    // 61: the integer remainder lands on the first rank in (avail, source) order
    assert(run(61L) === Seq(("bigA", 100L, 26L), ("bigB", 100L, 25L), ("small", 10L, 10L)))
    // budget covers everything: allocation = availability
    assert(run(500L).map(r => r._3) === Seq(100L, 100L, 10L))
    assert(run(0L).map(_._3).sum === 0L)
  }

  test("source divergence: a drifted source scores above look-like-corpus sources") {
    // the corpus must be dominated by the balanced sources, or the
    // drifted one drags the reference distribution toward itself
    val balanced = "alpha beta gamma delta alpha beta gamma delta"
    val docs = ((1 to 10).map(i => (i.toLong, balanced, s"s$i")) :+
      ((99L, "alpha alpha alpha alpha alpha alpha alpha alpha", "drift")))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceTokenDivergence(docs, k = 4)
      .orderBy("source").as[(String, Long, Double)].collect()
    assert(got.forall(_._2 === 4L)) // every source scored on the same k cells
    val kl = got.map(r => r._1 -> r._3).toMap
    assert(kl("s1") === kl("s2")) // identical sources, identical divergence
    assert(kl("drift") > kl("s1") + 0.1, s"drifted source must stand out: $kl")
  }

  test("dup degree histogram: degrees count edges, zero-degree docs complete the corpus") {
    val docs4 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupDegreeHistogram(docs4, pairs)
      .orderBy("degree").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 1L), (1L, 2L), (2L, 1L)))
    assert(got.map(_._2).sum === 4L)
  }

  test("length-quality correlation: bounded, zero on constant sources, positive when quality tracks length") {
    val docs = (1 to 20).map { i =>
      // below the 200-token cap quality rises with token count
      (i.toLong, Seq.fill(5 * i)("the word here").mkString(" "), "grow")
    } ++ (1 to 5).map(i => (100L + i, "same text every time", "flat"))
    val got = TextAnalysis.lengthQualityCorrelation(docs.toDF("doc_id", "text", "source"))
      .orderBy("source").as[(String, Long, Double)].collect()
    val bys = got.map(r => r._1 -> r._3).toMap
    assert(got.forall(r => math.abs(r._3) <= 1.0))
    assert(bys("flat") === 0.0) // zero variance -> guarded zero, not NaN
    assert(bys("grow") > 0.5, s"quality tracks length below the cap: $bys")
  }

  test("session paths: gap cuts sessions, depth caps the path, rank is (n desc, path asc)") {
    import java.sql.Timestamp
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:${min / 60}%02d:${min % 60}%02d")
    val ev = Seq(
      // user 1, session 1: A>B>C (4th event D proves the depth cut)
      (1L, 1L, ts(0), "A"), (2L, 1L, ts(60), "B"), (3L, 1L, ts(120), "C"),
      (4L, 1L, ts(180), "D"),
      // user 1, session 2 after a 2h gap: D>E
      (5L, 1L, Timestamp.valueOf("2024-01-01 14:00:00"), "D"),
      (6L, 1L, Timestamp.valueOf("2024-01-01 14:01:00"), "E"),
      // user 2: single-event session
      (7L, 2L, ts(0), "A")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.sessionPaths(ev, "user_id", "ts",
      "event_type", "event_id", depth = 3, k = 10)
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "A", 1L), (2L, "A>B>C", 1L), (3L, "D>E", 1L)))
  }

  test("tick quantiles: exact type-1 cuts on the counting grid") {
    val rows = (1 to 100).map(i => ("x", i.toDouble)) ++ Seq(("y", 5.0), ("y", 5.0))
    val got = graft.operators.Stats.tickQuantiles(
      rows.toDF("event_type", "value"), keyCol = "event_type", valueCol = "value")
      .orderBy("event_type")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got(0) === (("x", 100L, 50.0, 90.0, 99.0)))
    assert(got(1) === (("y", 2L, 5.0, 5.0, 5.0)))
  }

  test("event affinity: lift against independence, unpaired types absent") {
    val ev = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"), // repeat events collapse to adoptions
      (2L, "a"), (2L, "b"),
      (3L, "a"),
      (4L, "b"), (4L, "c")
    ).toDF("user_id", "event_type")
    val got = graft.operators.Engagement.eventAffinity(ev, "user_id", "event_type")
      .orderBy("type_a", "type_b")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // lift(a,b) = (2/4) / (3/4 · 3/4) = 8/9 -> 8889 bp (adopted independently-ish)
    // lift(b,c) = (1/4) / (3/4 · 1/4) = 4/3 -> 13333 bp (co-adopted)
    assert(got === Seq(("a", "b", 2L, 3L, 3L, 8889L), ("b", "c", 1L, 3L, 1L, 13333L)))
    assert(!got.exists(r => r._1 == "a" && r._2 == "c")) // zero overlap -> no row
  }

  test("padding efficiency: quantile buckets, exact integer waste") {
    val docs = (Seq(1, 2, 3, 4, 10, 20, 30, 40).zipWithIndex).map { case (n, i) =>
      ((i + 1).toLong, Seq.fill(n)("t").mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextAnalysis.paddingEfficiency(docs, k = 2)
      .orderBy("bucket").as[(Int, Long, Long, Long, Long)].collect().toSeq
    // bucket 1 = lengths {1..4}: 4·4−10 = 6 wasted of 16 → 3750 bp
    // bucket 2 = lengths {10..40}: 4·40−100 = 60 of 160 → 3750 bp
    assert(got === Seq((1, 4L, 4L, 10L, 3750L), (2, 4L, 40L, 100L, 3750L)))
  }

  test("windowed funnel: the lag gate drops slow advances the plain funnel keeps") {
    import java.sql.Timestamp
    def at(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val ev = Seq(
      (1L, at(0), "view"), (1L, at(30), "click"), (1L, at(120), "purchase"),
      (2L, at(0), "view"), (2L, at(120), "click")
    ).toDF("user_id", "ts", "event_type")
    def counts(lag: Option[Long]) = graft.operators.Engagement.funnel(
      ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"), lag)
      .orderBy("step_idx").as[(Int, String, Long)].collect().map(_._3).toSeq
    assert(counts(None) === Seq(2L, 2L, 1L))
    // 1h window: u2's 2h view→click drops at step 2; u1's 1.5h
    // click→purchase drops at step 3
    assert(counts(Some(3600L)) === Seq(2L, 1L, 0L))
  }

  test("id continuity: gaps inside a source's own span are counted") {
    val docs = Seq((1L, "a", "A"), (2L, "b", "A"), (3L, "c", "A"), (5L, "d", "A"),
      (10L, "e", "B"), (11L, "f", "B"), (12L, "g", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.idContinuity(docs)
      .orderBy("source").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 4L, 1L, 5L, 1L), ("B", 3L, 10L, 12L, 0L)))
  }

  test("top-decile concentration: power user dominates, uniform volume splits evenly") {
    val skewedEv = (1 to 91).map(_ => (1L, "t")) ++ (2 to 10).map(u => (u.toLong, "t"))
    val got = graft.operators.Engagement.topDecileConcentration(
      skewedEv.toDF("user_id", "event_type"), "user_id", "event_type")
      .as[(String, Long, Long, Long, Long)].collect()
    // k = ceil(10/10) = 1; the single top user owns 91 of 100 events
    assert(got.toSeq === Seq(("t", 10L, 100L, 1L, 9100L)))
    val uniformEv = (1 to 10).flatMap(u => (1 to 10).map(_ => (u.toLong, "u")))
    val uni = graft.operators.Engagement.topDecileConcentration(
      uniformEv.toDF("user_id", "event_type"), "user_id", "event_type")
      .as[(String, Long, Long, Long, Long)].collect()
    // all users tied at 10: the threshold row splits integer-exactly to k·10
    assert(uni.toSeq === Seq(("u", 10L, 100L, 1L, 1000L)))
  }

  test("inter-event gaps: same-user same-type cadence through grid percentiles") {
    import java.sql.Timestamp
    def at(s: Int) = Timestamp.valueOf(f"2024-01-01 10:${s / 60}%02d:${s % 60}%02d")
    val ev = Seq(
      (1L, 1L, at(0), "A"), (2L, 1L, at(10), "A"),
      (3L, 1L, at(30), "A"), (4L, 1L, at(100), "A"),
      (5L, 2L, at(5), "A"), // different user: no gap row of its own
      (6L, 1L, at(7), "B")  // different type: separate chain, single event
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.interEventGapQuantiles(
      ev, "user_id", "ts", "event_type", "event_id")
      .as[(String, Long, Double, Double, Double)].collect()
    // user 1 type A gaps: 10, 20, 70 s -> type-1 cuts
    assert(got.toSeq === Seq(("A", 3L, 20.0, 70.0, 70.0)))
  }

  test("daily anomalies: a 10x burst trips 3-sigma, constant volume never does") {
    import java.sql.Timestamp
    val rows =
      (1 to 10).flatMap(d => (1 to 10).map(i =>
        ("k", Timestamp.valueOf(f"2024-01-$d%02d 10:00:$i%02d")))) ++
      (1 to 100).map(i => ("k", Timestamp.valueOf(s"2024-01-11 10:${(i - 1) / 60}:${(i - 1) % 60 + 10 - 10}"))) ++
      (1 to 5).flatMap(d => (1 to 7).map(i =>
        ("c", Timestamp.valueOf(f"2024-01-$d%02d 11:00:$i%02d"))))
    val got = graft.operators.Stats.dailyAnomalies(
      rows.toDF("event_type", "ts"), keyCol = "event_type", tsCol = "ts")
      .as[(String, java.sql.Date, Long, Double, Boolean)].collect()
    val kAnoms = got.filter(r => r._1 == "k" && r._5)
    assert(kAnoms.map(_._2.toString).toSeq === Seq("2024-01-11"))
    assert(kAnoms.head._3 === 100L)
    // σ = 0 for the constant key: the guard keeps it NaN-free and unflagged
    assert(got.filter(_._1 == "c").forall(r => !r._5 && r._4 === 7.0))
  }

  test("embedding moments: exact tick means and population variance, constant dim is dead") {
    val vecs = Seq(
      (1L, Array(1f, 7f)), (2L, Array(3f, 7f)), (3L, Array(5f, 7f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingMoments(vecs)
      .orderBy("i").as[(Long, Long, Double, Double)].collect()
    // dim 1: ticks {1e6, 3e6, 5e6} -> mean 3, var (1+9+25)/3 - 9 = 8/3
    assert(got(0) === ((1L, 3L, 3.0, (35.0 / 3 - 9.0))))
    // dim 2 is constant -> zero variance (the dead-dimension signature)
    assert(got(1) === ((2L, 3L, 7.0, 0.0)))
  }

  test("power iteration: recovers the planted dominant direction, degenerate input raises") {
    val vecs = Seq(
      (1L, Array(4f, 0.1f)), (2L, Array(4f, -0.1f)),
      (3L, Array(-4f, 0.05f)), (4L, Array(-4f, -0.05f)),
      (5L, Array(0f, 1f)), (6L, Array(0f, -1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.powerIterationTop(vecs, iters = 2)
      .orderBy("i").as[(Long, Double, Double)].collect()
    assert(got.length === 2)
    assert(math.abs(got(0)._2) > 0.99, s"dim 1 dominates, got ${got(0)._2}")
    assert(math.abs(got(1)._2) < 0.2)
    assert(got(0)._3 === got(1)._3 && got(0)._3 > 0) // one growth per run
    val zeros = Seq((1L, Array(0f, 0f))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException](
      Similarity.powerIterationTop(zeros, iters = 1).collect())
  }

  test("quality blend: percentiles bounded, ties share a rank, formula holds, fluency inverts") {
    // same surface quality (identical structure), different fluency: doc 1
    // repeats the corpus's common tokens (low surprisal), doc 3 is all
    // rare tokens (high surprisal); 1 and 2 are identical -> tied ranks
    val common = Seq.fill(30)("the cat sat on the mat").mkString(" ")
    val docs = Seq(
      (1L, common), (2L, common),
      (3L, (1 to 30).map(i => s"zzq$i wwx$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextAnalysis.qualityBlend(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(got.length === 3)
    got.foreach { case (_, q, nl, b) =>
      assert(q >= 0 && q <= 10000 && nl >= 0 && nl <= 10000)
      assert(b === (q + (10000 - nl) + 1) / 2) // HALF_UP mean, inverted nll axis
    }
    val byId = got.map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(byId(1L) === byId(2L)) // identical docs share every percentile
    // doc 3's surprisal percentile is the highest -> its blend the lowest
    assert(byId(3L)._2 > byId(1L)._2)
    assert(byId(3L)._3 < byId(1L)._3)
  }

  test("winnow overlap: shared spans pair, unrelated do not, boilerplate df-cap suppresses") {
    val span = "a very long distinctive shared passage that was lifted verbatim from one document into another one"
    val docs = Seq(
      (1L, s"first document unique preamble here. $span and then a unique tail"),
      (2L, s"totally different opening words precede it. $span with another ending"),
      (3L, "nothing in common with the others at all, separate content entirely")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowOverlapPairs(docs, minShared = 3, maxDf = 10)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 >= 3)
    // the same span present in MORE than maxDf docs is boilerplate chrome:
    // its fingerprints are dropped before pairing and no pairs survive
    val boiler = (1L to 8L).map(i => (i, s"doc number $i says. $span"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.winnowOverlapPairs(boiler, minShared = 3, maxDf = 4)
      .count() === 0L)
  }

  test("weighted sample: proportional to weight, reproducible, excludes zero weights") {
    val docs = (1L to 400L).map { i =>
      // two planted tiers: ids ≤ 200 carry 50× the weight of the rest
      (i, "t", if (i <= 200) "heavy" else "light", if (i <= 200) 5000L else 100L)
    } :+ ((401L, "t", "zero", 0L))
    val df = docs.toDF("doc_id", "text", "source", "n_chars")
    val got = TextAnalysis.weightedSample(df, n = 100)
      .as[(Long, String, Long, Long)].collect()
    assert(got.length === 100)
    assert(!got.exists(_._2 == "zero")) // zero weight = zero inclusion mass
    val heavy = got.count(_._2 == "heavy")
    assert(heavy > 80, s"50x-weighted tier should dominate the draw, got $heavy/100")
    // derandomized: the same draw falls out of a repeated run
    val again = TextAnalysis.weightedSample(df, n = 100)
      .as[(Long, String, Long, Long)].collect()
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // key formula spot-check: key_micro = floor(lnMicro / weight + 0.5)
    got.foreach { case (id, _, w, km) =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"ws:$id").substring(0, 8), 16)
      val lm = math.floor(-math.log((h + 1L).toDouble / 4294967296.0) * 1e6 + 0.5).toLong
      assert(km === math.floor(lm.toDouble / w + 0.5).toLong)
    }
  }

  test("removal reasons: one verdict per doc, exact beats near_dup, shares partition each source") {
    val docs4 = Seq(
      (1L, base, "s1"), (2L, nearDup, "s1"), (3L, other, "s1"), (4L, base, "s1")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.removalReasonReport(docs4,
      Dedup.dupClusters(Dedup.minhashLshPairs(docs4, numPerms = 16, bands = 8,
        threshold = 0.2, base = HashBase.Md5)))
      .as[(String, String, Long, Long)].collect()
    val byReason = got.map(r => r._2 -> r._3).toMap
    // doc 4 is an exact copy of doc 1 (exact_dup even though it also sits
    // in the near-dup cluster - precedence); one of {1,2} loses the
    // cluster's quality race (near_dup); doc 3 and the winner are kept
    assert(byReason === Map("exact_dup" -> 1L, "near_dup" -> 1L, "kept" -> 2L))
    assert(got.map(_._3).sum === 4L) // verdicts partition the corpus
    val shares = got.map(r => r._2 -> r._4).toMap
    assert(shares === Map("exact_dup" -> 2500L, "near_dup" -> 2500L, "kept" -> 5000L))
  }

  test("ann recall: full probe is exact (10000 bp), partial probe bounded and never over-counts") {
    val rnd = new scala.util.Random(11)
    val emb = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val qp = pmod(col("vec_id"), lit(10)) === 0
    val full = Similarity.annRecallReport(emb, qp, k = 5, nLists = 4, nProbe = 4)
      .orderBy("query_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(full.length === 6) // queries 0,10,...,50
    // probing every list makes the IVF candidate set the whole corpus, so
    // the retrieved top-k IS the brute top-k: recall must be exactly 10000
    assert(full.forall { case (_, nExact, nHit, bp) =>
      nExact === 5L && nHit === 5L && bp === 10000L })
    val partial = Similarity.annRecallReport(emb, qp, k = 5, nLists = 4, nProbe = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(partial.forall { case (_, nExact, nHit, bp) =>
      nHit <= nExact && bp >= 0L && bp <= 10000L &&
        bp === (nHit * 20000 + nExact) / (2 * nExact) })
  }

  test("kmeans refine: pure cells recover their axis, counts partition the non-zero corpus, zero-norm excluded") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // seed 0 (axis e1)
      (1L, Array(0f, 1f, 0f, 0f)),   // seed 1 (axis e2)
      (2L, Array(2f, 0f, 0f, 0f)),   // cluster 0: unit-normalizes to e1
      (3L, Array(5f, 0f, 0f, 0f)),   // cluster 0: unit-normalizes to e1
      (4L, Array(0f, 3f, 0f, 0f)),   // cluster 1: unit-normalizes to e2
      (5L, Array(0f, 0f, 0f, 0f))    // zero norm: no cosine — excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansRefineStep(vecs, k = 2)
      .orderBy("cluster", "i").as[(Long, Long, Long, Double)].collect()
    assert(got.length === 8) // 2 clusters × 4 dims
    // n_members is constant across a cluster's dims and partitions the
    // NON-ZERO corpus: the zero vector has no cosine to any centroid and
    // is excluded at the scan on both engine and oracle sides (ANSI would
    // otherwise raise on the 0-norm division)
    val counts = got.groupBy(_._1).map { case (c, rows) =>
      assert(rows.map(_._3).distinct.length === 1); c -> rows.head._3 }
    assert(counts.values.sum === 5L)
    // cluster 0 = {0,2,3}: three exact-e1 members at 1e6 ticks over n=3
    assert(counts(0L) === 3L && counts(1L) === 2L)
    val c0 = got.filter(_._1 == 0L).map(_._4)
    assert(c0.toSeq === Seq(1.0, 0.0, 0.0, 0.0))
    val c1 = got.filter(_._1 == 1L).map(_._4)
    assert(c1.toSeq === Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("normalized dedup: reformatting collides, punctuation never glues words") {
    val in = Seq(
      (1L, "Hello, World!"), (2L, "  hello   world  "), (3L, "HELLO\nWORLD."),
      (4L, "goodbye world"),
      (5L, "a-b"), (6L, "ab") // '-'→space: "a b" must NOT equal "ab"
    ).toDF("doc_id", "text")
    val got = TextAnalysis.normalizedDedupGroups(in)
      .as[(String, Long, Long, Long)].collect()
    assert(got.length === 1)
    assert(got.head._2 === 3L && got.head._3 === 1L && got.head._4 === 3L)
  }

  test("winsorized means: global cuts clamp tails per key, cardinality gate raises") {
    val rows = (1 to 100).map(i => (if (i <= 50) "a" else "b", i.toLong))
      .toDF("source", "n_chars")
    val got = graft.operators.Stats.winsorizedMeans(rows, "source", "n_chars")
      .orderBy("source").as[(String, Long, Long, Long, Double, Double)].collect()
    // global grid 1..100: p05 cut = 5, p95 cut = 95 (type-1 integer-ceil)
    // a: 1..50 clamps below to 5 (+10 total); b: 51..100 clamps above (−15)
    assert(got.toSeq === Seq(
      ("a", 50L, 5L, 95L, 25.5, 25.7), ("b", 50L, 5L, 95L, 75.5, 75.2)))
    assertThrows[IllegalArgumentException](
      graft.operators.Stats.winsorizedMeans(rows, "source", "n_chars",
        maxDistinct = 50))
  }

  test("last touch: window credit, expiry to <none>, shares sum to 10000") {
    import java.sql.Timestamp
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      // u1: view then purchase 5 min later → credited to view
      (1L, 1L, at(10, 0), "view"), (2L, 1L, at(10, 5), "purchase"),
      // u1: second purchase right after the first; the purchase itself is
      // never a touch, so credit stays with the older view
      (3L, 1L, at(10, 6), "purchase"),
      // u2: click 2 days before → expired, credits <none>
      (4L, 2L, at(10, 0), "click"), (5L, 2L, Timestamp.valueOf("2024-01-03 11:00:00"), "purchase"),
      // u3: purchase with no prior event at all → <none>
      (6L, 3L, at(9, 0), "purchase"),
      // u4: click AFTER the purchase must not attribute (strictly-before frame)
      (7L, 4L, at(12, 0), "purchase"), (8L, 4L, at(12, 1), "click")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.lastTouchAttribution(
      ev, "user_id", "ts", "event_type", "event_id", target = "purchase")
      .orderBy("attr_type").as[(String, Long, Long)].collect()
    assert(got.toSeq === Seq(("<none>", 3L, 6000L), ("view", 2L, 4000L)))
    assert(got.map(_._3).sum === 10000L)
  }

  test("prefix dup: truncation family found, exact-dup-only group excluded") {
    val long = (1 to 60).map(i => s"word$i").mkString(" ") // ~400 norm chars
    val in = Seq(
      (1L, long), (2L, long.take(long.length * 2 / 3)), // truncation family
      (3L, "Exact. Same! Doc"), (4L, "exact same doc"),  // exact after norm
      (5L, "something else entirely")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.prefixDupGroups(in, prefixChars = 120)
      .as[(String, Long, Long, Long, Long)].collect()
    // only the truncation pair: same 120-char prefix, 2 distinct full hashes;
    // docs 3/4 share a prefix AND a full hash → n_variants = 1 → excluded
    assert(got.length === 1)
    assert(got.head._2 === 2L && got.head._3 === 2L)
    assert((got.head._4, got.head._5) === ((1L, 2L)))
  }

  test("order manifest: bucketed two-phase rank is the flat total order") {
    val in = (1L to 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val got = TextAnalysis.orderManifest(in)
      .as[(Long, String, Long)].collect()
    assert(got.map(_._3).sorted.toSeq === (1L to 300L)) // dense permutation
    // rank order must equal (sort_key, doc_id) lexicographic order
    val byRank = got.sortBy(_._3).map(r => (r._2, r._1)).toSeq
    assert(byRank === byRank.sorted)
    // deterministic across salts only per salt: a different salt permutes
    val other = TextAnalysis.orderManifest(in, salt = "epoch1")
      .as[(Long, String, Long)].collect()
    assert(other.map(_._3).sorted.toSeq === (1L to 300L))
    assert(got.sortBy(_._1).map(_._3).toSeq !=
      other.sortBy(_._1).map(_._3).toSeq)
  }

  test("double fire: sub-threshold gap flags, first event stays out of denominator") {
    import java.sql.Timestamp
    def at(s: String) = Timestamp.valueOf(s"2024-01-01 10:00:$s")
    val ev = Seq(
      (1L, 1L, at("00.000"), "click"), (2L, 1L, at("00.400"), "click"), // dup
      (3L, 1L, at("30.000"), "click"),                                  // clean gap
      (4L, 2L, at("00.000"), "view"),                                   // no gap row
      (5L, 2L, at("00.900"), "click"), (6L, 2L, at("01.500"), "click")  // 0.6s dup
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.doubleFire(
      ev, "user_id", "ts", "event_type", "event_id", withinSeconds = 1L)
      .orderBy("event_type").as[(String, Long, Long, Long)].collect()
    // click: gaps = (u1: 0.4s dup, 29.6s clean; u2: 0.6s dup) → 2/3 dup
    assert(got.toSeq === Seq(("click", 3L, 2L, 6667L)))
  }

  test("mad outliers: one huge value can't hide behind the sigma it inflates") {
    val rows = ((1 to 9).map(_ => ("s", 10L)) :+ (("s", 1000L))) ++
      (1 to 7).map(i => ("t", i.toLong))
    val got = graft.operators.Stats.madOutliers(
      rows.toDF("source", "n_chars"), "source", "n_chars")
      .orderBy("source").as[(String, Long, Long, Long, Long)].collect()
    // s: median 10, MAD 0 (9 of 10 identical) → the 1000 flags (dev > 0);
    //   a 3σ rule on the same data has σ≈297 and a threshold of ~990 < 901+…
    // t: 1..7 → median 4, devs {0,1,1,2,2,3,3} → MAD 2, nothing beyond 6
    assert(got.toSeq === Seq(("s", 10L, 10L, 0L, 1L), ("t", 7L, 4L, 2L, 0L)))
  }

  test("z-order key: interleave is exact, masking saturates outliers") {
    val df = Seq((3L, 5L), (19L, 5L)).toDF("a", "b")
    val got = df.select(graft.operators.Layout.zOrderKey(col("a"), col("b"),
      bits = 4).as("z")).as[Long].collect()
    // a=0011, b=0101 → z = 1 + 2 + 4 + 32 = 39; 19 masks to 3 → same key
    assert(got.toSeq === Seq(39L, 39L))
    // locality: one z-range (16 keys at bits=4) spans a ≤4-wide rectangle
    val docs = (0 until 256).map { i =>
      val words = (1 to (i % 16) * 16 + 1).map(_ => "w").mkString(" ")
      (i.toLong, words)
    }.toDF("doc_id", "text")
    val rep = graft.operators.Layout.zOrderLayoutReport(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    rep.foreach { r =>
      assert(r._4 - r._3 <= 3, s"len extent too wide: $r")
      assert(r._6 - r._5 <= 3, s"tok extent too wide: $r")
    }
  }

  test("watermark lateness: two-phase prefix max equals the flat running max") {
    import java.sql.Timestamp
    def at(s: Int) = Timestamp.valueOf(f"2024-01-01 10:${s / 60}%02d:${s % 60}%02d")
    // arrival order 1..4 with event times 100, 50, 80, 120 s: e2 is 50 s
    // late, e3 is 20 s late AND its watermark lives in the previous bucket
    val ev = Seq(
      (1L, at(100), "x"), (2L, at(50), "x"), (3L, at(80), "x"), (4L, at(120), "x")
    ).toDF("arrival", "ts", "event_type")
    def run(buckets: Int) = graft.operators.Engagement.watermarkLateness(
      ev, "ts", "arrival", "event_type", buckets = buckets)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    val flat = run(1)
    assert(flat === Seq(("x", 4L, 0.0, 50.0, 50.0)))
    assert(run(2) === flat) // bucket boundary between e2 and e3
    assert(run(4) === flat)
  }

  test("pagerank: hub outranks leaves, isolated settles at base, ticks exact") {
    val ds = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = Dedup.pageRank(ds, pairs, iters = 2)
      .orderBy("doc_id").as[(Long, Long)].collect()
    // hand-folded floor recurrence: r1(hub)=2700000, r1(leaf)=433333;
    // r2(hub)=150000+(85*3*433333)//100, r2(leaf)=150000+(85*(2700000//3))//100
    assert(got.toSeq === Seq((1L, 1254999L), (2L, 915000L), (3L, 915000L),
      (4L, 915000L), (5L, 150000L), (6L, 150000L)))
  }

  test("bpe pairs: vocabulary-weighted adjacent counts, deterministic tie order") {
    val ds = Seq((1L, "aab aab ab"), (2L, "AAB")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(ds, k = 5)
      .as[(Long, String, Long)].collect()
    // lowercased vocab {aab: 3, ab: 1} → pairs: ab = 3+1, aa = 3
    assert(got.toSeq === Seq((1L, "ab", 4L), (2L, "aa", 3L)))
  }

  test("relative rank: strictly-below share per key, ties share a rank") {
    val rows = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 20L),
      (4L, "a", 30L), (5L, "b", 5L)).toDF("doc_id", "source", "n_chars")
    val got = graft.operators.Stats.relativeRank(rows, "source", "n_chars")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    assert(got.map(_._4).toSeq === Seq(0L, 0L, 5000L, 7500L, 0L))
  }

  test("daily trend: exact slope on a linear ramp, single-day key guards to zero") {
    import java.sql.Timestamp
    val rows =
      (1 to 10).map(_ => ("x", Timestamp.valueOf("2024-01-01 10:00:00"))) ++
      (1 to 20).map(_ => ("x", Timestamp.valueOf("2024-01-02 10:00:00"))) ++
      (1 to 30).map(_ => ("x", Timestamp.valueOf("2024-01-03 10:00:00"))) ++
      (1 to 7).map(_ => ("y", Timestamp.valueOf("2024-01-05 10:00:00")))
    val got = graft.operators.Stats.dailyTrend(
      rows.toDF("event_type", "ts"), "event_type", "ts")
      .orderBy("event_type").as[(String, Long, Long, Double)].collect()
    // x: counts 10, 20, 30 over day index 0, 1, 2 → slope exactly +10/day
    assert(got.toSeq === Seq(("x", 3L, 60L, 10.0), ("y", 1L, 7L, 0.0)))
  }

  test("cluster manifest: sample caps the CSV, singletons excluded") {
    val clusters = ((1L to 15L).map(i => (i, 1L)) :+ ((20L, 20L)) :+
      ((21L, 21L)) :+ ((22L, 21L))).toDF("doc_id", "cluster_id")
    val got = Dedup.clusterManifest(clusters, sample = 10)
      .orderBy("cluster_id").as[(Long, Long, String)].collect()
    assert(got.length === 2) // singleton 20 excluded
    assert(got(0) === ((1L, 15L, (1L to 10L).mkString(","))))
    assert(got(1) === ((21L, 2L, "21,22")))
  }

  test("first touch: earliest (ts, id) wins, shares floor to bp") {
    import java.sql.Timestamp
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, 1L, at(5), "view"), (2L, 1L, at(6), "purchase"),
      (3L, 2L, at(0), "purchase"), (4L, 2L, at(1), "view"),
      // u3: simultaneous pair — the id tiebreak picks event 5
      (5L, 3L, at(2), "signup"), (6L, 3L, at(2), "click")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.firstTouchCensus(
      ev, "user_id", "ts", "event_type", "event_id")
      .orderBy("event_type").as[(String, Long, Long)].collect()
    assert(got.toSeq === Seq(("purchase", 1L, 3333L), ("signup", 1L, 3333L),
      ("view", 1L, 3333L)))
  }

  test("session stats: gap splits sessions, duration and depth grids are exact") {
    import java.sql.Timestamp
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      // u1 session A: 3 events over 10 min; session B after a 2 h gap: 1 event
      (1L, 1L, at(9, 0)), (2L, 1L, at(9, 5)), (3L, 1L, at(9, 10)),
      (4L, 1L, at(11, 30)),
      // u2: one 2-event session, 20 min long
      (5L, 2L, at(9, 0)), (6L, 2L, at(9, 20))
    ).toDF("event_id", "user_id", "ts")
    val got = graft.operators.Engagement.sessionStats(ev, "user_id", "ts",
      "event_id").orderBy("metric")
      .as[(String, Long, Double, Double, Double)].collect()
    // depths {3, 1, 2}; durations {600, 0, 1200} s — type-1 cuts over 3
    assert(got.toSeq === Seq(("depth", 3L, 2.0, 3.0, 3.0),
      ("duration_s", 3L, 600.0, 1200.0, 1200.0)))
  }

  test("pair agreement: set intersection counts and floor-bp jaccard") {
    val a = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val b = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.pairAgreement(a, b)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1L, 2500L)))
    // disjoint inputs: zero agreement, no divide-by-zero on empty union
    val empty = Dedup.pairAgreement(a.limit(0), b.limit(0))
      .as[(Long, Long, Long, Long)].collect()
    assert(empty.toSeq === Seq((0L, 0L, 0L, 0L)))
  }

  test("lang confusion: diagonal and off-diagonal cells with row shares") {
    val ds = Seq((1L, "en", "the of and is"), (2L, "en", "el la los que"),
      (3L, "de", "der und nicht")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.langConfusion(ds)
      .orderBy("lang", "predicted_lang").as[(String, String, Long, Long)].collect()
    assert(got.toSeq === Seq(("de", "de", 1L, 10000L),
      ("en", "en", 1L, 5000L), ("en", "es", 1L, 5000L)))
  }

  test("growth accounting: new, retained, resurrected, churned ledger") {
    import java.sql.Timestamp
    def at(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // weeks: w0 = Jan 1, w1 = Jan 8, w2 = Jan 15 (Mondays)
    val ev = Seq(
      (1L, at(1)), (1L, at(9)),            // u1: w0, w1
      (2L, at(2)),                          // u2: w0 only → churns at w1
      (3L, at(3)), (3L, at(16))             // u3: w0, gap, w2 → resurrects
    ).toDF("user_id", "ts")
    val got = graft.operators.Engagement.growthAccounting(ev, "user_id", "ts")
      .orderBy("week").as[(java.sql.Date, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1.toString, r._2, r._3, r._4, r._5)).toSeq === Seq(
      ("2024-01-01", 3L, 0L, 0L, 0L),
      ("2024-01-08", 0L, 1L, 0L, 2L),   // u2 and u3 went missing
      ("2024-01-15", 0L, 0L, 1L, 1L))) // u3 back, u1 gone
  }

  test("edit verify: classic distance, prefix truncation, empty pair identical") {
    val ds = Seq((1L, "kitten"), (2L, "sitting"), (3L, ""), (4L, ""),
      (5L, "abcdef"), (6L, "abcxyz")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.editDistanceVerify(ds, pairs)
      .orderBy("doc_a").as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L, 3L, 5715L), (3L, 4L, 0L, 10000L),
      (5L, 6L, 3L, 5000L)))
    // a 3-char prefix makes the last pair identical — the scale knob
    val short = Dedup.editDistanceVerify(ds, pairs, prefixChars = 3)
      .where(col("doc_a") === 5).as[(Long, Long, Long, Long)].collect()
    assert(short.toSeq === Seq((5L, 6L, 0L, 10000L)))
  }

  test("higher moments: symmetric data has zero skew, 3-point uniform kurtosis") {
    val rows = Seq(("s", 1L), ("s", 2L), ("s", 3L)).toDF("source", "n_chars")
    val got = graft.operators.Stats.higherMoments(rows, "source", "n_chars")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got.toSeq === Seq(("s", 3L, 2.0, 0.0, -1.5)))
  }

  test("rolling daily mean: range window skips gaps, calendar denominator") {
    import java.sql.Timestamp
    val rows =
      (1 to 10).map(_ => ("x", Timestamp.valueOf("2024-01-01 10:00:00"))) ++
      (1 to 20).map(_ => ("x", Timestamp.valueOf("2024-01-02 10:00:00"))) ++
      (1 to 30).map(_ => ("x", Timestamp.valueOf("2024-01-03 10:00:00"))) ++
      (1 to 5).map(_ => ("x", Timestamp.valueOf("2024-01-06 10:00:00")))
    val got = graft.operators.Stats.rollingDailyMean(
      rows.toDF("event_type", "ts"), "event_type", "ts", windowDays = 2)
      .orderBy("day").as[(String, java.sql.Date, Long, Long, Double)].collect()
    // trailing-2d sums: 10, 30, 50, then the gapped day only sees itself
    assert(got.map(r => (r._4, r._5)).toSeq ===
      Seq((10L, 10.0), (30L, 15.0), (50L, 25.0), (5L, 2.5)))
  }

  test("weighted quantiles: token mass moves the cut where row counts would not") {
    // 9 short docs of 10 tokens vs 1 long doc of 910 tokens: unweighted
    // p50 is the short length; token-weighted p50 is the LONG length
    val rows = ((1 to 9).map(_ => ("s", 100L, 10L)) :+ (("s", 5000L, 910L)))
      .toDF("source", "n_chars", "n_tokens")
    val got = graft.operators.Stats.weightedQuantiles(rows, "source",
      "n_chars", "n_tokens").as[(String, Long, Double, Double, Double)].collect()
    assert(got.toSeq === Seq(("s", 1000L, 5000.0, 5000.0, 5000.0)))
  }

  test("salted join: result identical to the plain join, salts genuinely spread") {
    val fact = (1L to 400L).map(i => (i, "hot")).toDF("id", "k")
    val dim = Seq(("hot", "d1")).toDF("k", "v")
    val plain = fact.join(dim, Seq("k")).orderBy("id")
      .as[(String, Long, String)].collect().toSeq
    val salted = graft.operators.Skew.saltedJoin(fact, dim, key = "k", salts = 8)
      .orderBy("id").as[(String, Long, String)].collect().toSeq
    assert(salted === plain && salted.length === 400)
    // the row-hash salt actually splits the hot key across sub-partitions
    val spread = fact
      .withColumn("__salt", pmod(xxhash64(col("id"), col("k")), lit(8L)))
      .select(countDistinct(col("__salt"))).as[Long].collect().head
    assert(spread >= 6, s"salt spread too narrow: $spread of 8 buckets")
  }

  test("flow trigrams: two leads chain, tail events never form partial paths") {
    import java.sql.Timestamp
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      (1L, 1L, at(0), "a"), (2L, 1L, at(1), "b"), (3L, 1L, at(2), "c"),
      (4L, 1L, at(3), "b"), // u1: a>b>c, b>c>b
      (5L, 2L, at(0), "a"), (6L, 2L, at(1), "b"), (7L, 2L, at(2), "c"),
      (8L, 3L, at(0), "x"), (9L, 3L, at(1), "y") // too short: no trigram
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement.flowTrigrams(
      ev, "user_id", "ts", "event_type", "event_id")
      .as[(Long, String, Long)].collect()
    assert(got.toSeq === Seq((1L, "a>b>c", 2L), (2L, "b>c>b", 1L)))
  }

  test("group LCP: prefix-equality count equals the common prefix of min and max") {
    // LCP(group) = LCP(lexicographic min, max) — the q183 identity; the
    // middle member never matters
    val q = graft.queries.Registry.all("q183_source_template")
    val docs = Seq(("a", "tmpl one x"), ("a", "tmpl two y"), ("a", "tmpl three z"),
      ("b", "no"), ("b", "overlap")).toDF("source", "text")
    val agg = docs.groupBy(col("source"))
      .agg(min(col("text")).as("__a"), max(col("text")).as("__b"))
      .withColumn("__n", least(length(col("__a")), length(col("__b"))))
      .withColumn("lcp_len",
        when(col("__n") > 0,
          size(filter(sequence(lit(1), col("__n")),
            i => col("__a").substr(lit(1), i) === col("__b").substr(lit(1), i)))
            .cast("long")).otherwise(lit(0L)))
      .orderBy("source").select("source", "lcp_len")
      .as[(String, Long)].collect()
    // a: min="tmpl one x", max="tmpl two y" → "tmpl t"? min is "tmpl one x"
    // (o < t < th), max "tmpl two y" → common "tmpl "+'t'? "tmpl o" vs
    // "tmpl t" diverge at index 6 → LCP 5; b: "no" vs "overlap" → 0
    assert(agg.toSeq === Seq(("a", 5L), ("b", 0L)))
    assert(q != null)
  }

  test("chi-square: independent grid scores zero, zero cells still counted") {
    // perfectly proportional 2x2 → chi2 = 0
    val ind = (Seq.fill(20)(("s1", "en")) ++ Seq.fill(10)(("s1", "de")) ++
      Seq.fill(40)(("s2", "en")) ++ Seq.fill(20)(("s2", "de")))
      .toDF("source", "lang")
    val g0 = graft.operators.Stats.chiSquare(ind, "source", "lang")
      .as[(Double, Long, Long)].collect().head
    assert(g0 === ((0.0, 4L, 1L)))
    // fully dependent with a ZERO cell: chi2 = n, cells = 4 (the absent
    // (s2, en) combination must contribute, not vanish)
    val dep = (Seq.fill(10)(("s1", "en")) ++ Seq.fill(10)(("s2", "de")))
      .toDF("source", "lang")
    val g1 = graft.operators.Stats.chiSquare(dep, "source", "lang")
      .as[(Double, Long, Long)].collect().head
    assert(g1 === ((20.0, 4L, 1L)))
  }

  test("autocorr: alternating series is perfectly anti-correlated at lag 1") {
    import java.sql.Timestamp
    val rows = (0 until 8).flatMap { d =>
      val n = if (d % 2 == 0) 10 else 20
      (1 to n).map(_ => ("x", Timestamp.valueOf(f"2024-01-${d + 1}%02d 10:00:00")))
    }
    val got = graft.operators.Stats.dailyAutocorr(
      rows.toDF("event_type", "ts"), "event_type", "ts")
      .as[(String, Long, Double)].collect()
    assert(got.toSeq === Seq(("x", 7L, -1.0)))
  }

  test("sort-key advisor: the aligned key skips, the shuffled key cannot") {
    // b is a coprime-multiplier permutation of a — zero zone locality
    val df = (1 to 320).map(i => (i.toLong, (i * 7919L) % 320L)).toDF("a", "b")
    val got = graft.operators.Layout.sortKeyAdvisor(df,
      candidates = Seq("aligned" -> "a", "shuffled" -> "b"), probeCol = "a")
      .orderBy("sort_key").as[(String, Long, Long)].collect()
    // aligned: 16 zones × span 19 over range 319 → exactly 595 bp
    assert(got(0) === (("aligned", 16L, 595L)))
    assert(got(1)._1 === "shuffled" && got(1)._3 > 8000L,
      s"shuffled key should not cluster the probe: ${got(1)}")
  }

  test("centroid accuracy: separable labels classify, a traitor vector costs its row") {
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0f, 1f), 0), // mislabeled: lands on centroid 1
      (4L, Array(0f, 1f), 1), (5L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.nearestCentroidAccuracy(vecs)
      .orderBy("label").as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq((0L, 3L, 2L, 6666L), (1L, 2L, 2L, 10000L)))
  }

  test("bm25: rare term outranks common, saturation caps repetition, len normalizes") {
    val ds = Seq(
      (1L, "cat dog dog dog dog"),   // heavy tf on the common term
      (2L, "cat zebra"),             // one hit on the RARE term
      (3L, "dog bird"), (4L, "dog fish"), (5L, "bird fish")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(ds, query = Seq("zebra", "dog"), k = 5)
      .as[(Long, Long, Double)].collect()
    // zebra: df 1 of 5 → idf ln(4) ≈ 1.386; dog df 3 → idf ln(1.7) ≈ 0.53;
    // doc 2's single rare hit beats doc 1's four saturated common hits
    assert(got.head._2 === 2L)
    assert(got.map(_._2).toSet === Set(1L, 2L, 3L, 4L))
    // scores strictly ordered by rank
    val scores = got.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("cohort triangle: Monday-anchored weeks, offset-0 is the cohort size") {
    import java.sql.Timestamp
    def d(day: Int) = Timestamp.valueOf(f"2026-01-$day%02d 10:00:00")
    // 2026-01-05 is a Monday. Users 1,2 first appear in that week;
    // user 3 first appears in the week of 01-12.
    val ev = Seq(
      (1L, d(5)), (1L, d(6)), (1L, d(13)),  // cohort 01-05: offsets 0, 0, 1
      (2L, d(7)), (2L, d(21)),              // cohort 01-05: offsets 0, 2
      (3L, d(14)), (3L, d(15))              // cohort 01-12: offset 0 only
    ).toDF("uid", "t")
    val got = graft.operators.Engagement.cohortTriangle(ev, "uid", "t")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      ("2026-01-05", 0) -> ((2L, 2L, 10000L)),
      ("2026-01-05", 1) -> ((1L, 2L, 5000L)),
      ("2026-01-05", 2) -> ((1L, 2L, 5000L)),
      ("2026-01-12", 0) -> ((1L, 1L, 10000L))))
    // null users/timestamps are dropped, not a cohort of their own
    val withNulls = ev.union(Seq(
      (null: java.lang.Long, d(5)),
      (java.lang.Long.valueOf(9L), null: Timestamp)).toDF("uid", "t"))
    assert(graft.operators.Engagement.cohortTriangle(withNulls, "uid", "t")
      .count() === 4L)
  }

  test("bloom prefilter: no false negatives, slot arithmetic replays, saturation passes all") {
    val build = Seq(10L, 20L, 30L).toDF("k")
    val probe = (1L to 100L).toDF("k")
    val row = graft.operators.Bloom.prefilterAudit(build, "k", probe, "k",
      m = 65536, k = 3).collect().head
    val (nPass, nTrue) = (row.getLong(3), row.getLong(4))
    assert(nTrue === 3L)                   // 10, 20, 30 all in probe range
    assert(nPass >= nTrue)                 // bloom never loses a true match
    assert(row.getLong(5) === nPass - nTrue)
    // the slot set is exactly the salted-md5 arithmetic, replayed in JVM
    def slot(i: Int, key: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 65536
    }
    val wantBits = (for (i <- 0 until 3; k <- Seq(10L, 20L, 30L)) yield slot(i, k)).toSet
    val gotBits = graft.operators.Bloom.buildBits(build, "k", 65536, 3)
      .as[Long].collect().toSet
    assert(gotBits === wantBits)
    // a fully saturated filter (m=1) keeps every probe key: the audit
    // degrades to pass_bp=10000, never an error
    val sat = graft.operators.Bloom.prefilterAudit(build, "k", probe, "k",
      m = 1, k = 3).collect().head
    assert(sat.getLong(3) === 100L && sat.getLong(7) === 10000L)
  }

  test("rrf fusion: both-list docs beat single-list, absent ranks surface as 0") {
    val ds = Seq(
      // doc 1: strong lexical hit AND long/high-quality text
      (1L, ("zebra " + base).take(400)),
      // doc 2: lexical hit only (short, quality BELOW docs 4/5 so the
      // doc_id tiebreak cannot sneak it into the quality top-3)
      (2L, "zebra"),
      // doc 3: quality only (long, no query term)
      (3L, base + " " + base),
      (4L, "the dog is on a mat in the sun"),
      (5L, "the bird is in a tree on the hill")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.rrfRetrieval(ds, query = Seq("zebra"),
      kPerList = 3, k = 5)
      .as[(Long, Long, Long, Long, Long)].collect()
    val byDoc = got.map(r => r._2 -> r).toMap
    // doc 1 is in both lists → two integer terms; it must rank first
    assert(got.head._2 === 1L)
    assert(byDoc(1L)._4 > 0L && byDoc(1L)._5 > 0L)
    // doc 2 is lexical-only, doc 3 quality-only: the absent rank is 0
    assert(byDoc(2L)._4 > 0L && byDoc(2L)._5 === 0L)
    assert(byDoc(3L)._4 === 0L && byDoc(3L)._5 > 0L)
    // every rrf score is the exact integral-division sum of its terms
    got.foreach { case (_, _, ticks, lr, qr) =>
      val want = (if (lr > 0) 1000000000L / (60 + lr) else 0L) +
        (if (qr > 0) 1000000000L / (60 + qr) else 0L)
      assert(ticks === want)
    }
  }

  test("int8 reconstruction error: exact ticks, zero vector reconstructs exactly") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.5f)),   // scale 1/127: dim1 exact, dim2 err 64/127-0.5
      (2L, Array(0f, 0f)),       // zero vector → scale 0 → zero error
      (3L, Array(-1.27f, 1.27f)) // symmetric, q = ±127 → exact
    ).toDF("vec_id", "embedding")
    val got = Similarity.reconstructionError(vecs)
      .orderBy("vec_id").as[(Long, Long, Long, Long, Long)].collect()
    // replay dim2 of vec 1 in the same IEEE arithmetic
    val s = 1.0 / 127.0
    val err = math.abs(0.5f.toDouble - math.floor(0.5f.toDouble / s + 0.5) * s)
    val tick = math.floor(err * 1000000 + 0.5).toLong
    assert(tick === 3937L)
    assert(got.toSeq === Seq(
      (1L, 2L, tick, tick, (2 * tick + 2) / 4),
      (2L, 2L, 0L, 0L, 0L),
      (3L, 2L, 0L, 0L, 0L)))
  }

  test("dim-slice recall: truncated search misses what full dims find") {
    val vecs = Seq(
      (0L, Array(1f, 5f, 0f)),   // the query
      (1L, Array(-1f, 5f, 0f)),  // full cos .923, 1-dim slice cos −1
      (2L, Array(1f, -5f, 0f)),  // full cos −.923, slice cos +1
      (3L, Array(1f, 4f, 0f))    // full cos ≈ .999, slice cos +1
    ).toDF("vec_id", "embedding")
    val got = Similarity.dimSliceRecall(vecs, col("vec_id") === 0, dims = 1, k = 2)
      .as[(Long, Long, Long)].collect()
    // full top-2 = {3, 1}; slice top-2 = {2, 3} → one hit of two
    assert(got.toSeq === Seq((0L, 1L, 5000L)))
    // slicing to the full width is the identity: perfect recall
    val full = Similarity.dimSliceRecall(vecs, col("vec_id") === 0, dims = 3, k = 2)
      .as[(Long, Long, Long)].collect()
    assert(full.toSeq === Seq((0L, 2L, 10000L)))
  }

  test("readability: sentence runs, vowel-group syllables, clamped Flesch milli") {
    val ds = Seq(
      (1L, "A", "The cat sat. The dog ran."),
      (2L, "B", "hello world")  // no terminal punctuation → one sentence
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.readabilityProfile(ds)
      .orderBy("source").as[(String, Long, Long, Long, Long)].collect()
    // A: w=6 s=2 alpha=18 syl=6 → wps 3.0, cpw 3.0,
    //    flesch = 206.835 − 1.015·3 − 84.6·1 = 119.190
    // B: w=2 s=1 alpha=10 syl=3 → wps 2.0, cpw 5.0,
    //    flesch = 206.835 − 2.03 − 126.9 = 77.905
    assert(got.toSeq === Seq(
      ("A", 1L, 30000L, 30000L, 119190L),
      ("B", 1L, 20000L, 50000L, 77905L)))
  }

  test("gini: zero for equal shares, exact grid arithmetic for skew, matches brute") {
    val ev = (
      // type A: four users, one event each → perfect equality
      (1 to 4).map(u => ("A", u.toLong)) ++
      // type B: three users at 1, one user with 97 → heavy skew
      (1 to 3).map(u => ("B", u.toLong)) ++ Seq.fill(97)(("B", 4L))
    ).toDF("t", "u")
    val got = graft.operators.Stats.giniByKey(ev, "t", "u")
      .orderBy("t").as[(String, Long, Long, Long)].collect()
    // B: sorted [1,1,1,97], 2S = 2(1+2+3+4·97) = 788, (n+1)T = 500,
    // nT = 400 → (788−500)·10000/400 = 7200
    assert(got.toSeq === Seq(("A", 4L, 4L, 0L), ("B", 4L, 100L, 7200L)))
    // randomized brute-force equivalence against the textbook formula
    val rnd = new scala.util.Random(23)
    val raw = (1 to 500).map(_ => ("X", rnd.nextInt(40).toLong))
    val gotX = graft.operators.Stats.giniByKey(raw.toDF("t", "u"), "t", "u")
      .as[(String, Long, Long, Long)].collect().head
    val xs = raw.groupBy(_._2).values.map(_.size.toLong).toSeq.sorted
    val (n, tot) = (xs.size.toLong, xs.sum)
    val s2 = 2L * xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    assert(gotX === (("X", n, tot, (s2 - (n + 1) * tot) * 10000L / (n * tot))))
  }

  test("session entry/exit: gap cut, bounce on the diagonal, depth-1 only") {
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2026-03-01 10:$min%02d:00")
    val ev = Seq(
      // user 1 session 1: view → click (depth 2, no bounce)
      (1L, 1L, t(0), "view"), (2L, 1L, t(10), "click"),
      // user 1 session 2 (41-min gap): purchase alone → bounce
      (3L, 1L, t(51), "purchase"),
      // user 2: one event → bounce
      (4L, 2L, t(5), "search")
    ).toDF("event_id", "uid", "ts", "etype")
    val got = graft.operators.Engagement.sessionEntryExit(
      ev, "uid", "ts", "etype", "event_id")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got === Map(
      ("view", "click") -> ((1L, 0L, 0L)),
      ("purchase", "purchase") -> ((1L, 1L, 10000L)),
      ("search", "search") -> ((1L, 1L, 10000L))))
  }

  test("cross-epoch prefix dedup: truncated recrawl caught, fresh doc passes") {
    val pad = "x".repeat(150)
    val oldDocs = Seq(
      (1L, "srcA", s"Shared head $pad tail one"),
      (2L, "srcA", "something else entirely " + pad)
    ).toDF("doc_id", "source", "text")
    val newDocs = Seq(
      // same 120-char normalized prefix as old doc 1, different tail
      (11L, "srcA", s"Shared head $pad tail TWO rewritten"),
      (12L, "srcA", "completely fresh document " + pad.toUpperCase),
      (13L, "srcB", s"shared HEAD $pad tail three") // normalization folds case
    ).toDF("doc_id", "source", "text")
    val got = graft.operators.TextAnalysis.crossEpochPrefixDedup(oldDocs, newDocs)
      .orderBy("source").as[(String, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(("srcA", 2L, 1L, 5000L), ("srcB", 1L, 1L, 10000L)))
  }

  test("rfm segments: rank-based quartiles, ties share the first position") {
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    // user u: one event on day u worth u.00 — recency/monetary quartiles
    // oppose each other, frequency is uniformly 1 (everyone seg 1)
    val ev = (1 to 8).map(u => (u.toLong, t(u), u.toDouble)).toDF("uid", "ts", "v")
    val got = graft.operators.Engagement.rfmSegments(ev, "uid", "ts", "v")
      .orderBy("r_seg", "f_seg", "m_seg")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(
      (1L, 1L, 4L, 2L, 2500L), (2L, 1L, 3L, 2L, 2500L),
      (3L, 1L, 2L, 2L, 2500L), (4L, 1L, 1L, 2L, 2500L)))
    // two identical users land in the SAME cell (ties share cum0)
    val tied = ev.union(Seq((9L, t(8), 8.0), (10L, t(8), 8.0)).toDF("uid", "ts", "v"))
    val cells = graft.operators.Engagement.rfmSegments(tied, "uid", "ts", "v")
      .agg(org.apache.spark.sql.functions.sum("n_users")).as[Long].collect().head
    assert(cells === 10L)
  }

  test("rfm segments: grid cap fires loudly when ONE metric exceeds maxDistinct") {
    // 100,001 users, each with a distinct whole-unit monetary value —
    // the 'm' counting grid exceeds the 100k cap while 'r' and 'f' stay
    // single-celled, so the collect limit (3·cap+3) does NOT truncate and
    // the per-metric require must be what stops the silent quantile drift
    val ev = spark.range(100001L).selectExpr(
      "id AS uid",
      "timestamp'2026-01-05 12:00:00' AS ts",
      "CAST(id AS DOUBLE) AS v")
    val e = intercept[IllegalArgumentException](
      graft.operators.Engagement.rfmSegments(ev, "uid", "ts", "v"))
    assert(e.getMessage.contains("'m'") &&
      e.getMessage.contains("100000 distinct"))
  }

  test("cms heavy hitters: estimates never under-count, wide sketch is exact") {
    val ds = Seq(
      (1L, "alpha alpha alpha beta beta gamma"),
      (2L, "alpha beta delta")
    ).toDF("doc_id", "text")
    // wide sketch: 2^20 slots over 4 tokens → collisions essentially
    // impossible → estimate == exact, over_bp == 0
    val wide = graft.operators.Sketch.cmsHeavyHitterAudit(ds, d = 4, w = 1 << 20, k = 10)
      .orderBy("rank").as[(Long, String, Long, Long, Long)].collect()
    assert(wide.map(r => (r._2, r._3)).toSeq ===
      Seq(("alpha", 4L), ("beta", 3L), ("delta", 1L), ("gamma", 1L)))
    assert(wide.forall(r => r._4 === r._3 && r._5 === 0L))
    // w=1: every token shares the one slot → estimate = corpus total
    val sat = graft.operators.Sketch.cmsHeavyHitterAudit(ds, d = 2, w = 1, k = 10)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(sat.forall(_._4 === 9L))
    assert(sat.forall(r => r._4 >= r._3))
  }

  test("cosine histogram: id-offset pairs, zero norms bucket at 0") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(1f, 0f)), (3L, Array(-1f, 0f)),
      (4L, Array(0f, 0f)), (6L, Array(1f, 1f))
    ).toDF("vec_id", "embedding")
    // offset 2 pairs: (0,2) cos 1 → 10; (1,3) cos −1 → −10;
    // (2,4) zero-norm → 0; (4,6) zero-norm → 0
    val got = Similarity.cosinePairHistogram(vecs, offset = 2)
      .orderBy("bucket").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq((-10L, 1L, 2500L), (0L, 2L, 5000L), (10L, 1L, 2500L)))
  }

  test("basket pairs: duplicate items dedupe, support over ALL baskets") {
    val items = Seq(
      (1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"), // dup A must not double-count
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"),
      (4L, "D")                                    // singleton basket still in the denominator
    ).toDF("b", "i")
    val got = graft.operators.Basket.frequentPairs(items, "b", "i", k = 10)
      .as[(Long, String, String, Long, Long)].collect()
    assert(got.toSeq === Seq(
      (1L, "A", "B", 2L, 5000L), (2L, "A", "C", 2L, 5000L),
      (3L, "B", "C", 1L, 2500L)))
  }

  test("pareto frontier: grid running-min equals brute dominance, ties survive") {
    val pts = Seq( // (quality, tokens)
      (0.9, 100L), (0.9, 100L),          // tie cell — both undominated, n=2
      (0.9, 150L),                       // dominated within its own quality
      (0.8, 80L),                        // frontier: shorter than all q>=0.9
      (0.8, 120L),                       // dominated by (0.9, 100)
      (0.7, 80L),                        // dominated by (0.8, 80): equal t, lower q
      (0.6, 10L),                        // frontier
      (0.5, 10L))                        // dominated by (0.6, 10)
    val df = pts.toDF("q", "t")
    val got = graft.operators.Stats.paretoFrontier(df, "q", "t", "n")
      .orderBy(col("q").desc).as[(Double, Long, Long)].collect().toSeq
    assert(got === Seq((0.9, 100L, 2L), (0.8, 80L, 1L), (0.6, 10L, 1L)))
    // brute O(n²) dominance over a randomized cloud must agree exactly
    val rnd = new scala.util.Random(7)
    val cloud = Seq.fill(200)((rnd.nextInt(20) / 10.0, rnd.nextInt(50).toLong))
    val brute = cloud.distinct.filter { case (q, t) =>
      !cloud.exists { case (q2, t2) =>
        q2 >= q && t2 <= t && (q2 > q || t2 < t) }
    }.map { case (q, t) => (q, t, cloud.count(_ == (q, t)).toLong) }
      .sortBy { case (q, _, _) => -q }
    val got2 = graft.operators.Stats.paretoFrontier(cloud.toDF("q", "t"), "q", "t", "n")
      .orderBy(col("q").desc).as[(Double, Long, Long)].collect().toSeq
    assert(got2 === brute)
  }

  test("hll audit: rank is lowest set bit, estimate is multiplicity-blind") {
    // the modulo cascade must read the lowest set bit, capped
    val ranks = Seq(1L -> 1, 2L -> 2, 4L -> 3, 6L -> 2, 12L -> 3,
      (1L << 19) -> 20, (1L << 25) -> 20, 0L -> 20)
    ranks.foreach { case (w, want) =>
      val got = spark.range(1).select(
        graft.operators.Sketch.hllRankExpr(w.toString).cast("int")).head().getInt(0)
      assert(got === want, s"rank($w)")
    }
    val ev = (1 to 400).map(i => (s"t${i % 4}", i.toLong)).toDF("et", "uid")
    val once = graft.operators.Sketch.hllDistinctAudit(ev, "et", "uid")
      .orderBy("key").collect().toSeq
    // exact side: 100 distinct users per type; estimate positive and sane
    assert(once.map(_.getLong(1)) === Seq(100L, 100L, 100L, 100L))
    assert(once.forall(r => r.getLong(4) > 0))
    // HLL state is max-merged: duplicating every row changes NOTHING
    val twice = graft.operators.Sketch
      .hllDistinctAudit(ev.union(ev), "et", "uid").orderBy("key").collect().toSeq
    assert(twice === once)
  }

  test("triangles: degree orientation reproduces the naive closure, hubs don't inflate") {
    // one basket per edge: triangle ABC plus a star at A (AD, AE)
    val items = Seq((1L, "A"), (1L, "B"), (2L, "B"), (2L, "C"),
      (3L, "C"), (3L, "A"), (4L, "A"), (4L, "D"), (5L, "A"), (5L, "E"))
      .toDF("b", "i")
    val got = graft.operators.Basket.triangles(items, "b", "i", minSupportBp = 1)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("A", 1L), ("B", 1L), ("C", 1L)))
    // randomized graph vs brute 3-clique enumeration
    val rnd = new scala.util.Random(11)
    val edges = (for {
      a <- 0 until 12; b <- a + 1 until 12 if rnd.nextBoolean()
    } yield (f"n$a%02d", f"n$b%02d")).toSeq
    val bask = edges.zipWithIndex.flatMap { case ((a, b), k) =>
      Seq((k.toLong, a), (k.toLong, b)) }
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = scala.collection.mutable.Map.empty[String, Long]
    for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if es((x, y)) && es((y, z)) && es((x, z))
    } Seq(x, y, z).foreach(n => brute(n) = brute.getOrElse(n, 0L) + 1)
    val got2 = graft.operators.Basket
      .triangles(bask.toDF("b", "i"), "b", "i", minSupportBp = 1)
      .as[(String, Long)].collect().toSeq
    assert(got2 === brute.toSeq.sortBy(_._1))
  }

  test("prefix-filter join: complete vs brute exact Jaccard, rational threshold") {
    // random bags over a small vocab so shared-token pairs are dense —
    // the regime where a lossy candidate scheme would show. Runs the one
    // exact-Jaccard operator (its prefix-filter route is pinned by the
    // (1,2) case of the dup-heavy test below)
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 8 + rnd.nextInt(10)).map(_ => vocab(rnd.nextInt(30)))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    for ((num, den) <- Seq((1, 2), (7, 10))) {
      val got = Dedup.exactJaccardPairs(df, num, den)
        .orderBy("doc_a", "doc_b")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      val sets = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSet }.toMap
      val brute = (for {
        a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
        c = (sets(a) & sets(b)).size
        u = sets(a).size + sets(b).size - c
        if c * den >= u * num
      } yield (a, b, sets(a).size.toLong, sets(b).size.toLong, c.toLong,
        BigDecimal(c.toDouble / u).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).sortBy(p => (p._1, p._2))
      assert(got === brute, s"threshold $num/$den")
    }
  }

  test("exact Jaccard (pigeonhole + collapse): complete vs brute on dup-heavy corpus") {
    // duplicate-heavy corpus with empty/null/whitespace docs: exercises
    // the exact-set collapse (within-group emission), the cross-group
    // candidate paths, and the sz >= 1 exclusion contract
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 25).map(i => s"w$i")
    val uniq = (0 until 30).map { i =>
      (i.toLong, (0 until 10 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(25)))
        .mkString(" "))
    }
    // exact replicas (same token multiset modulo order/case/whitespace)
    val dups = (0 until 15).map { i =>
      val (_, t) = uniq(rnd.nextInt(uniq.size))
      (100L + i, t.split(" ").reverse.mkString("  ").toUpperCase)
    }
    // long docs (~23 distinct of 25) push szmax so (1,2) genuinely
    // routes through the prefix fallback (kmax > 13)
    val long = (0 until 5).map { i =>
      (200L + i, (0 until 60).map(_ => vocab(rnd.nextInt(25))).mkString(" "))
    }
    val degenerate = Seq((900L, ""), (901L, "   "), (902L, null.asInstanceOf[String]))
    val docs = uniq ++ dups ++ long ++ degenerate
    val df = docs.toDF("doc_id", "text")
    val sets = docs.collect { case (id, t) if t != null =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    }.filter(_._2.nonEmpty).toMap
    // route coverage at szmax ~23: (19,20) masked-vector (kmax 1),
    // (20,20) masked k=0, (2,3) single-bucket agreement (kmax ~9),
    // (1,2) prefix fallback (kmax ~15 > 13)
    for ((num, den) <- Seq((19, 20), (2, 3), (1, 2), (20, 20))) {
      val got = Dedup.exactJaccardPairs(df, num, den)
        .orderBy("doc_a", "doc_b")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      val brute = (for {
        a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
        c = (sets(a) & sets(b)).size
        u = sets(a).size + sets(b).size - c
        if c * den >= u * num
      } yield (a, b, sets(a).size.toLong, sets(b).size.toLong, c.toLong,
        BigDecimal(c.toDouble / u).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)).sortBy(p => (p._1, p._2))
      assert(got === brute, s"threshold $num/$den")
    }
  }

  test("exact Jaccard: empty corpus and all-degenerate corpus return empty") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactJaccardPairs(empty, 19, 20).count() === 0L)
    val degen = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, " \t "))
      .toDF("doc_id", "text")
    assert(Dedup.exactJaccardPairs(degen, 1, 2).count() === 0L)
  }

  test("calibration: bins partition the corpus, rates match direct recompute") {
    val docs = Tables.documents(spark, s"${TestSpark.testdataDir}/sf0.001")
    val cal = TextAnalysis.scoreCalibration(docs).orderBy("bin")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(cal.map(_._2).sum === docs.count())
    // independent aggregation path over the same score/gate columns
    val joined = TextAnalysis.hashedClassifierScore(docs)
      .join(TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality")), "doc_id")
      .select(col("score"), col("quality")).as[(Double, Double)].collect()
    val byBin = joined.groupBy { case (s2, _) => math.floor(s2 * 100).toLong }
    cal.foreach { case (bin, n, meanU, passBp) =>
      val in = byBin(bin)
      assert(in.size.toLong === n, s"bin $bin n")
      val ticks = in.map { case (s2, _) => math.floor(s2 * 1e6 + 0.5).toLong + 1000000L }
      assert(ticks.sum / n - 1000000L === meanU, s"bin $bin mean")
      assert(in.count(_._2 >= 0.5) * 10000L / n === passBp, s"bin $bin pass")
    }
  }

  test("survival: censoring excludes short windows, hand-computed hazard") {
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // obs_end = day 10. u1: active d1..d3 (span 2, window 9);
    // u2: active d8 only (span 0, window 2); u3: active d9..d10
    // (span 1, window 1 — censored from k>=1); null user ignored
    val ev = Seq(
      (Some(1L), t(1)), (Some(1L), t(3)),
      (Some(2L), t(8)),
      (Some(3L), t(9)), (Some(3L), t(10)),
      (None, t(5))
    ).toDF("user_id", "ts")
    val got = graft.operators.Engagement.survivalCurve(ev, maxOffset = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // k=0: eligible u1(w9) u2(w2) u3(w1): at-risk 3, churned u2 (span0):
    //   hazard 3333bp; surviving past 0: u1,u3 → 6666bp
    // k=1: eligible u1,u2 (u3 censored: w=1): at-risk: span>=1 → u1;
    //   churned none at 1; survival: span>1 among elig → u1 → 5000bp
    // k=2: eligible u1 only (u2 w2 excluded? w>k → 2>2 false): at-risk u1
    //   (span2), churned u1 → 10000bp; survival past 2: none → 0
    // k=3: eligible u1 (w9): span>=3 none → at-risk 0, hazard 0, survival 0
    assert(got === Seq(
      (0L, 3L, 1L, 3333L, 6666L),
      (1L, 1L, 0L, 0L, 5000L),
      (2L, 1L, 1L, 10000L, 0L),
      (3L, 0L, 0L, 0L, 0L)))
  }

  test("twap: interval weights, HALF_UP ticks, last sample censored") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // A: 100.0 for 10s, then 200.0 for 30s, then 50.0 (no successor —
    // dropped). TWAP = (1e6·10e6 + 2e6·30e6) / 40e6 = 1_750_000 ticks.
    // B: single sample → zero observable intervals → no output row.
    val ev = Seq(
      (1L, t("2024-01-01 00:00:00"), "A", 100.0),
      (2L, t("2024-01-01 00:00:10"), "A", 200.0),
      (3L, t("2024-01-01 00:00:40"), "A", 50.0),
      (4L, t("2024-01-01 00:00:00"), "B", 10.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val got = graft.operators.Ohlc.twap(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 2L, 40000000L, 1750000L)))
    // tie on ts breaks by event_id; x.xxxx5 values round HALF_UP
    val ev2 = Seq(
      (2L, t("2024-01-01 00:00:00"), "C", 1.00005),
      (1L, t("2024-01-01 00:00:00"), "C", 3.0),
      (3L, t("2024-01-01 00:00:01"), "C", 9.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val got2 = graft.operators.Ohlc.twap(ev2)
      .as[(String, Long, Long, Long)].collect().toSeq
    // id1 (3.0) holds 0µs, id2 (1.00005 → 10001 ticks) holds 1s
    assert(got2 === Seq(("C", 2L, 1000000L, 10001L)))
  }

  test("join cardinality: exact when head covers, System-R tail otherwise") {
    // 3 distinct keys, hh=8 → everything in the head → est == actual
    val l = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val r = Seq(1L, 2L, 2L, 4L).toDF("k")
    val exact = graft.operators.Sketch
      .joinCardinalityAudit(Seq(("j", l, "k", r, "k")), hh = 8)
      .as[(String, Long, Long, Long)].collect().toSeq
    // actual = 3·1 + 1·2 + 0 + 0 = 5
    assert(exact === Seq(("j", 5L, 5L, 0L)))
    assert(l.join(r, "k").count() === 5L)
    // hh=1: head = key 1 (c1+c2=4): 3·1 = 3. tail: keys 2,3,4 →
    // n1t=2, n2t=3, d1t=2, d2t=2 → 6 div 2 = 3 → est 6 vs actual 5:
    // the uniform-tail assumption over-counts the misaligned keys
    val est1 = graft.operators.Sketch
      .joinCardinalityAudit(Seq(("j", l, "k", r, "k")), hh = 1)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(est1 === Seq(("j", 6L, 5L, 2000L)))
    // skewed tail the model must miss: hh=0-like via distinct heads —
    // craft keys where tail pairs never align: l has 10,11; r has 12,13
    val l2 = Seq(1L, 1L, 10L, 11L).toDF("k")
    val r2 = Seq(1L, 12L, 13L).toDF("k")
    val est2 = graft.operators.Sketch
      .joinCardinalityAudit(Seq(("j2", l2, "k", r2, "k")), hh = 1)
      .as[(String, Long, Long, Long)].collect().toSeq
    // head = key 1 (3 rows): 2·1 = 2. tail: n1t=2, n2t=2, d1t=2, d2t=2
    // → est 2 + 1·2 = 4? no: (2·2) div 2 = 2 → est 4; actual 2 →
    // err = 2·10000 div 2 = 10000
    assert(est2 === Seq(("j2", 4L, 2L, 10000L)))
  }

  test("phrase match: overlapping occurrences count, ties break lexicographically") {
    val docs = Seq(
      (1L, "x x x x"),          // trigram "x x x" twice (overlap)
      (2L, "a b c d"),          // "a b c" and "b c d" once each
      (3L, "x x x"),            // "x x x" once
      (4L, "zz")                // too short — no trigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseMatchTopTrigram(docs)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // "x x x" wins with 3 total; docs 1 (2 occ) and 3 (1 occ)
    assert(got === Seq((1L, "x", "x", "x", 2L), (3L, "x", "x", "x", 1L)))
    // all-tied counts: lexicographically smallest trigram wins
    val tied = Seq((1L, "b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val got2 = TextAnalysis.phraseMatchTopTrigram(tied)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got2 === Seq((2L, "a", "b", "c", 1L)))
  }

  test("scd2 build: run-length collapse, version chain, open current") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // bands 1,1,2,2,1 → versions 1@00:00 (band 1), 2@00:20 (band 2),
    // 3@00:40 (band 1, open); same-ts change pair ordered by event_id
    val ev = Seq(
      (1L, t("2024-01-01 00:00:00"), 7L, 1L),
      (2L, t("2024-01-01 00:10:00"), 7L, 1L),
      (3L, t("2024-01-01 00:20:00"), 7L, 2L),
      (4L, t("2024-01-01 00:30:00"), 7L, 2L),
      (5L, t("2024-01-01 00:40:00"), 7L, 1L)
    ).toDF("event_id", "ts", "user_id", "band")
    val got = graft.operators.AsOf
      .scd2FromChangeLog(ev, "user_id", "ts", "event_id", "band")
      .orderBy("version")
      .select(col("version"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("band"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 1L),
      (2L, "2024-01-01 00:20:00", "2024-01-01 00:40:00", 2L),
      (3L, "2024-01-01 00:40:00", null, 1L)))
  }

  test("trending: prev rank reads the FULL prior ranking, new items read 0") {
    import java.sql.Timestamp
    def day(d: Int, n: Int) = (1 to n).map(_ =>
      Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"))
    // day1 counts: A=3 B=2 C=1 (ranks 1,2,3). day2: C=3 B=2 D=1 —
    // C climbs 3→1 (delta +2), B holds 2 (0), D is new (prev 0)
    val rows =
      day(1, 3).map(ts => (ts, "A")) ++ day(1, 2).map(ts => (ts, "B")) ++
        day(1, 1).map(ts => (ts, "C")) ++
        day(2, 3).map(ts => (ts, "C")) ++ day(2, 2).map(ts => (ts, "B")) ++
        day(2, 1).map(ts => (ts, "D"))
    val got = graft.operators.Stats
      .trendingDaily(rows.toDF("ts", "item"), "ts", "item", k = 2)
      .select(col("d").cast("string"), col("item"), col("n"), col("rank"),
        col("prev_rank"), col("delta"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("2024-01-01", "A", 3L, 1L, 0L, 0L),
      ("2024-01-01", "B", 2L, 2L, 0L, 0L),
      ("2024-01-02", "C", 3L, 1L, 3L, 2L),   // prev rank 3 is OUTSIDE top-2
      ("2024-01-02", "B", 2L, 2L, 2L, 0L)))
  }

  test("peak concurrency: touching sessions concurrent, midnight session in both days") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val ev = Seq(
      // u1: session 10:40–11:00 (20-min gap, single session); u2 starts
      // exactly at u1's end 11:00 (+1 before −1 → concurrent, peak 2);
      // u3: 23:50–00:10 crosses midnight → live in both days
      (1L, 1L, t("2024-01-01 10:40:00")), (2L, 1L, t("2024-01-01 11:00:00")),
      (3L, 2L, t("2024-01-01 11:00:00")), (4L, 2L, t("2024-01-01 11:20:00")),
      (5L, 3L, t("2024-01-01 23:50:00")), (6L, 3L, t("2024-01-02 00:10:00"))
    ).toDF("event_id", "user_id", "ts")
    val got = graft.operators.Engagement.peakConcurrency(ev)
      .select(col("d").cast("string"), col("n_sessions"), col("peak"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("2024-01-01", 3L, 2L), ("2024-01-02", 1L, 1L)))
  }

  test("realized vol: HALF_UP bp returns, midnight return lands on the later day, same-ts tie by id") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val ev = Seq(
      // S: 1.0000→1.0100 (+100bp, day1), 1.0100→0.9999 across midnight
      // (floor(-100+0.5) = -100bp, belongs to day2 — the later sample)
      (1L, "S", t("2024-01-01 10:00:00"), 1.0000),
      (2L, "S", t("2024-01-01 11:00:00"), 1.0100),
      (3L, "S", t("2024-01-02 00:10:00"), 0.9999),
      // T: both samples at the SAME microsecond — id order pins the
      // pairing, 2.0→1.0 = -5000bp (floor(-5000+0.5) exact)
      (4L, "T", t("2024-01-01 12:00:00"), 2.0),
      (5L, "T", t("2024-01-01 12:00:00"), 1.0)
    ).toDF("event_id", "event_type", "ts", "value")
      .withColumn("user_id", lit(1L))
    val got = graft.operators.Returns.realizedVolDaily(ev)
      .select(col("symbol"), col("d").cast("string"), col("n_returns"),
        col("drift_bp"), col("rv"))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("S", "2024-01-01", 1L, 100L, 10000L),
      ("S", "2024-01-02", 1L, -100L, 10000L),
      ("T", "2024-01-01", 1L, -5000L, 25000000L)))
  }

  test("last value rank: struct-extreme latest sample, strict below-count on the tick grid") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // prices 1, 3, 2, 2 in ts order → last = 2.0 (20000 ticks);
    // strictly below: only 1.0 → rank 1·10⁴ DIV 4 = 2500 bp
    val ev = Seq(
      (1L, "S", t("2024-01-01 10:00:00"), 1.0),
      (2L, "S", t("2024-01-01 10:01:00"), 3.0),
      (3L, "S", t("2024-01-01 10:02:00"), 2.0),
      (4L, "S", t("2024-01-01 10:03:00"), 2.0)
    ).toDF("event_id", "event_type", "ts", "value")
      .withColumn("user_id", lit(1L))
    val got = graft.operators.Returns.lastValueRank(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("S", 4L, 20000L, 1L, 2500L)))
  }

  test("bollinger: integer variance numerator, complete windows only, outlier flags outside") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // ticks 10000, 20000, 30000, 20000, 80000 — first complete 4-window
    // at row 4: mid 20000, num = 4·18e8 − 8e4² = 8e8, σ = ⌊√(8e8)/4⌋ =
    // 7071; row 5: mid 37500, num = 99e8, σ = 24874 — 80000 > 62374 → out
    val c = Seq(
      ("S", t("2024-01-01 09:00:00"), 1.0), ("S", t("2024-01-01 09:05:00"), 2.0),
      ("S", t("2024-01-01 09:10:00"), 3.0), ("S", t("2024-01-01 09:15:00"), 2.0),
      ("S", t("2024-01-01 09:20:00"), 8.0)
    ).toDF("symbol", "window_start", "close")
    val got = graft.operators.Returns.bollinger(c, nWin = 4, kBand = 1)
      .select(col("symbol"), col("close_ticks"), col("mid_ticks"),
        col("sd_ticks"), col("upper_ticks"), col("lower_ticks"), col("outside"))
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      ("S", 20000L, 20000L, 7071L, 27071L, 12929L, false),
      ("S", 80000L, 37500L, 24874L, 62374L, 12626L, true)))
  }

  test("cutler rsi: rolling gain/loss sums, flat window pins to 10000") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // S deltas: +10000, -5000, 0 → 2-windows: 10000/15000 → 6666 bp,
    // then 0/5000 → 0 bp. T is flat → gain+loss = 0 → 10000 bp.
    val c = Seq(
      ("S", t("2024-01-01 09:00:00"), 1.0), ("S", t("2024-01-01 09:05:00"), 2.0),
      ("S", t("2024-01-01 09:10:00"), 1.5), ("S", t("2024-01-01 09:15:00"), 1.5),
      ("T", t("2024-01-01 09:00:00"), 1.0), ("T", t("2024-01-01 09:05:00"), 1.0),
      ("T", t("2024-01-01 09:10:00"), 1.0)
    ).toDF("symbol", "window_start", "close")
    val got = graft.operators.Returns.rsiCutler(c, nWin = 2)
      .select(col("symbol"), col("window_start").cast("string"),
        col("gain_sum"), col("loss_sum"), col("rsi_bp"))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("S", "2024-01-01 09:10:00", 10000L, 5000L, 6666L),
      ("S", "2024-01-01 09:15:00", 0L, 5000L, 0L),
      ("T", "2024-01-01 09:10:00", 0L, 0L, 10000L)))
  }

  test("return correlation: anticorrelated pair on the shared grid reads -1") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // A returns (+100, -99), B returns (-100, +101): 2-point series are
    // exactly anticorrelated — num = -39999, √(39601·40401) = 39999
    val c = Seq(
      ("A", t("2024-01-01 09:00:00"), 1.0), ("A", t("2024-01-01 09:05:00"), 1.01),
      ("A", t("2024-01-01 09:10:00"), 1.0),
      ("B", t("2024-01-01 09:00:00"), 2.0), ("B", t("2024-01-01 09:05:00"), 1.98),
      ("B", t("2024-01-01 09:10:00"), 2.0)
    ).toDF("symbol", "window_start", "close")
    val got = graft.operators.Returns.returnCorrelationMatrix(c)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("A", "B", 2L, -1.0)))
  }

  test("candle patterns: doji, hammer, and both engulfing shapes each fire exactly once") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // c1 doji (body 10 vs range 2000), c2 hammer (wick 400 ≥ 2·150,
    // upper 50 ≤ 150), c3→c4 bullish engulf, c5→c6 bearish engulf;
    // every other (prev, cur) pair fails at least one predicate
    val c = Seq(
      ("S", t("2024-01-01 09:00:00"), 1.00, 1.100, 0.900, 1.001),
      ("S", t("2024-01-01 09:05:00"), 1.04, 1.060, 1.000, 1.055),
      ("S", t("2024-01-01 09:10:00"), 1.02, 1.030, 0.990, 1.000),
      ("S", t("2024-01-01 09:15:00"), 0.99, 1.040, 0.980, 1.030),
      ("S", t("2024-01-01 09:20:00"), 1.00, 1.025, 0.995, 1.020),
      ("S", t("2024-01-01 09:25:00"), 1.03, 1.035, 0.985, 0.990)
    ).toDF("symbol", "window_start", "open", "high", "low", "close")
    val got = graft.operators.Ohlc.candlePatterns(c)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("S", 6L, 1L, 1L, 1L, 1L)))
  }

  test("dow seasonality: index normalizes for uneven weekday coverage") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // two Mondays carry 4 events, one Tuesday carries 1: Monday's RAW
    // share is 8000 bp but its coverage-normalized index is 12000 bp
    // (4/5 observed vs 2/3 of days); Tuesday reads 6000 bp
    val ev = Seq(
      (1L, "A", t("2024-01-01 10:00:00")), (2L, "A", t("2024-01-01 11:00:00")),
      (3L, "A", t("2024-01-08 10:00:00")), (4L, "A", t("2024-01-08 11:00:00")),
      (5L, "A", t("2024-01-02 10:00:00"))
    ).toDF("event_id", "event_type", "ts")
    val got = graft.operators.Stats.dowSeasonality(ev)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("A", 0L, 4L, 2L, 8000L, 12000L),
      ("A", 1L, 1L, 1L, 2000L, 6000L)))
  }

  test("cusum changepoint: step locates the pre-step trough, flat series ties to earliest day") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    def rep(n: Int, key: String, day: String) =
      (1 to n).map(_ => (key, t(s"$day 10:00:00")))
    // A: daily counts 1,1,4 → ×3-scaled deviations −3,−3,+6 →
    // cusum −3,−6,0 → peak |−6| at day 2. B flat → all-zero cusum,
    // earliest day wins the tie.
    val ev = (rep(1, "A", "2024-01-01") ++ rep(1, "A", "2024-01-02") ++
      rep(4, "A", "2024-01-03") ++
      rep(2, "B", "2024-01-01") ++ rep(2, "B", "2024-01-02"))
      .toDF("event_type", "ts")
    val got = graft.operators.Stats.cusumChangepoint(ev)
      .select(col("key"), col("n_days"), col("total"),
        col("cp_day").cast("string"), col("cp_cusum"))
      .as[(String, Long, Long, String, Long)].collect().toSeq
    assert(got === Seq(
      ("A", 3L, 6L, "2024-01-02", -6L),
      ("B", 2L, 4L, "2024-01-01", 0L)))
  }

  test("max drawdown: worst peak-to-trough in bp of the running peak") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    // 10, 8, 12, 6: dd path 0, 2000 (vs peak 10), 0, 5000 (vs peak 12)
    val ev = Seq(
      (1L, "S", t("2024-01-01 10:00:00"), 10.0),
      (2L, "S", t("2024-01-01 10:01:00"), 8.0),
      (3L, "S", t("2024-01-01 10:02:00"), 12.0),
      (4L, "S", t("2024-01-01 10:03:00"), 6.0)
    ).toDF("event_id", "event_type", "ts", "value")
      .withColumn("user_id", lit(1L))
    val got = graft.operators.Returns.maxDrawdown(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("S", 4L, 120000L, 5000L)))
  }

  test("hhi: monopoly reads 1e6, an even split reads 1e6/n") {
    val ev = (Seq.fill(5)(("M", 1L)) ++
      Seq(("E", 1L), ("E", 2L), ("E", 3L), ("E", 4L))).toDF("k", "u")
    val got = graft.operators.Stats.hhiByKey(ev, "k", "u")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("E", 4L, 4L, 250000L), ("M", 1L, 5L, 1000000L)))
  }

  test("lorenz points: cumulative shares land exactly on the concentration curve") {
    // users: 2 with 1 event, 1 with 8 → total 10
    val df = (Seq(1L, 2L) ++ Seq.fill(8)(3L)).toDF("u")
    val got = graft.operators.Stats.lorenzPoints(df, "u")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L, 2000L), (8L, 1L, 3L, 10000L)))
  }

  test("audience overlap: exact set jaccard per type pair") {
    val ev = Seq(
      (1L, "A"), (2L, "A"), (3L, "A"),
      (2L, "B"), (3L, "B"), (4L, "B"),
      (9L, "C")
    ).toDF("user_id", "event_type")
    val got = graft.operators.Engagement.audienceOverlap(ev)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // A∩B = {2,3}, |A∪B| = 4 → 5000 bp; C overlaps nobody → no row
    assert(got === Seq(("A", "B", 3L, 3L, 2L, 5000L)))
  }

  test("run length census: runs split at type changes, lengths counted per type") {
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00")
    // user 1: A A A B A → runs A:3, B:1, A:1
    val ev = Seq(
      (1L, 1L, t(1), "A"), (2L, 1L, t(2), "A"), (3L, 1L, t(3), "A"),
      (4L, 1L, t(4), "B"), (5L, 1L, t(5), "A")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement
      .runLengthCensus(ev, "user_id", "ts", "event_type", "event_id")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 1L, 1L), ("A", 3L, 1L), ("B", 1L, 1L)))
  }

  test("ks test: identical samples read 0, disjoint samples read 1e6, hand case exact") {
    def ks(rows: Seq[(Double, Long)]): (Long, Long, Long) =
      graft.operators.Stats.ksTest(
        rows.toDF("v", "g"), "v", col("g") === 0L)
        .as[(Long, Long, Long)].collect().head
    val same = Seq((0.1, 0L), (0.2, 0L), (0.1, 1L), (0.2, 1L))
    assert(ks(same) === ((2L, 2L, 0L)))
    val disjoint = Seq((0.1, 0L), (0.2, 0L), (0.8, 1L), (0.9, 1L))
    assert(ks(disjoint) === ((2L, 2L, 1000000L)))
    // a={1,2}, b={2,3}: at v=1 |1/2−0|=1/2; at v=2 |1−1/2|=1/2 → D=0.5
    val hand = Seq((1.0, 0L), (2.0, 0L), (2.0, 1L), (3.0, 1L))
    assert(ks(hand) === ((2L, 2L, 500000L)))
  }

  test("seasonal backtest: a perfect weekly pattern has zero lag-7 error, nonzero lag-1") {
    import java.sql.Timestamp
    def rep(n: Int, d: String) =
      (1 to n).map(i => ("A", Timestamp.valueOf(s"$d 10:0$i:00")))
    // two identical weeks: Mon=8, Tue=2 — consecutive days so lag-1 pairs exist
    val ev = (rep(8, "2024-01-01") ++ rep(2, "2024-01-02") ++
      rep(8, "2024-01-08") ++ rep(2, "2024-01-09"))
      .toDF("event_type", "ts")
    val got = graft.operators.Stats.seasonalNaiveBacktest(ev)
      .as[(String, Long, Long, Long, Long)].collect().head
    // lag-7: (8→8, 2→2) exact; lag-1: |2−8| twice → MAE 6
    assert(got === (("A", 2L, 0L, 2L, 6000000L)))
  }

  test("null profile: per-column null counts and HALF_UP bp in one scan") {
    val df = Seq(
      (Some(1L), Some("a")), (None, Some("b")), (Some(3L), None),
      (None, None)
    ).toDF("num", "txt")
    val got = graft.operators.Stats.nullProfile(df)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("num", 4L, 2L, 5000L), ("txt", 4L, 2L, 5000L)))
  }

  test("transition entropy: deterministic chain reads 0, uniform split reads ln(2)") {
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00")
    // user 1: A→B, A→B (deterministic); users 2/3: B→A, B→C (uniform 2-way)
    val ev = Seq(
      (1L, 1L, t(1), "A"), (2L, 1L, t(2), "B"), (3L, 1L, t(3), "A"),
      (4L, 1L, t(4), "B"),
      (5L, 2L, t(1), "B"), (6L, 2L, t(2), "A"),
      (7L, 3L, t(1), "B"), (8L, 3L, t(2), "C")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement
      .transitionEntropy(ev, "user_id", "ts", "event_type", "event_id")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A")._4 === 0L)                       // A always → B
    assert(got("B")._2 === 3L)                       // B→A ×2, B→C ×1
    // H = (2·ln(3/2) + 1·ln 3)/3 micro-floored
    val want = (2L * math.round(math.log(1.5) * 1e6) +
      math.round(math.log(3.0) * 1e6)) / 3L
    assert(got("B")._4 === want)
  }

  test("autocomplete: top continuations per prefix, minCount gates sparse prefixes") {
    val docs = (1 to 6).map(i => (i.toLong, "to be or to go or to be")) :+
      (7L, "rare word")
    val got = graft.operators.TextAnalysis
      .bigramAutocomplete(docs.toDF("doc_id", "text"), k = 2, minCount = 6L)
      .as[(String, Long, String, Long)].collect().toSeq
    // "to": be ×12, go ×6; "or": to ×12; "rare word" below minCount 6
    assert(got === Seq(
      ("be", 1L, "or", 6L),
      ("go", 1L, "or", 6L),
      ("or", 1L, "to", 12L),
      ("to", 1L, "be", 12L), ("to", 2L, "go", 6L)))
  }

  test("week over week: bp change of the previous week, first week drops") {
    import java.sql.Timestamp
    def rep(n: Int, d: String) =
      (1 to n).map(i => ("A", Timestamp.valueOf(s"$d 10:0$i:00")))
    // ISO weeks: 2024-01-01 and 2024-01-08 are consecutive Mondays
    val ev = (rep(4, "2024-01-01") ++ rep(5, "2024-01-08") ++
      rep(2, "2024-01-15")).toDF("event_type", "ts")
    val got = graft.operators.Stats.weekOverWeek(ev)
      .select(col("key"), col("n"), col("prev_n"), col("wow_bp"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 5L, 4L, 2500L), ("A", 2L, 5L, -6000L)))
  }

  test("band join: within-eps pairs found exactly once, outside-eps dropped") {
    val left = Seq((1L, "u", 10.0), (2L, "u", 99.0)).toDF("lid", "k", "lv")
    val right = Seq(
      (7L, "u", 12.5),   // |Δ|=2.5 ≤ 5 from lid 1 (different bucket — ±1 covers it)
      (8L, "u", 15.5),   // |Δ|=5.5 > 5 from lid 1
      (9L, "u", 10.0)    // exact match, same bucket — must appear ONCE
    ).toDF("rid", "k", "rv")
    val got = graft.operators.AsOf
      .bandJoin(left, right, "k", "lv", "rv", eps = 5.0, Seq("rid"))
      .select(col("lid"), col("rid"), col("val_diff_micro"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq((1L, 7L, 2500000L), (1L, 9L, 0L)))
  }

  test("time decay: credit halves per half-life via exact bit shift") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val ev = Seq(
      ("A", t("2024-01-15 10:00:00")), // age 0  → 1000000
      ("A", t("2024-01-08 10:00:00")), // age 7  → 500000
      ("A", t("2024-01-01 10:00:00")), // age 14 → 250000
      ("B", t("2024-01-15 10:00:00"))  // age 0
    ).toDF("event_type", "ts")
    val got = graft.operators.Stats.timeDecayedVolume(ev, halfLifeDays = 7)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 3L, 1750000L), ("B", 1L, 1000000L)))
  }

  test("vocab overlap: nested vocabulary reads 10000 bp regardless of size gap") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "big"),
      (2L, "epsilon zeta eta theta", "big"),
      (3L, "alpha beta", "small")        // fully nested in big's vocab
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis.vocabOverlapMatrix(docs)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("big", "small", 8L, 2L, 2L, 10000L)))
  }

  test("bag set ops: intersect-all takes min multiplicity, except-all the positive excess") {
    val a = Seq(1L, 1L, 2L, 3L).toDF("qty")
    val b = Seq(1L, 2L, 2L).toDF("qty")
    val inter = a.intersectAll(b).as[Long].collect().sorted.toSeq
    val exc = a.exceptAll(b).as[Long].collect().sorted.toSeq
    assert(inter === Seq(1L, 2L)) // min(2,1)=1 one, min(1,2)=1 two
    assert(exc === Seq(1L, 3L))   // 1: 2−1, 3: 1−0
  }

  test("wilson lower bound: engine matches the closed form at x=1, n=4") {
    import java.sql.Timestamp
    val ev = (1 to 4).map(i => (s"A", Timestamp.valueOf(s"2024-01-01 10:0$i:00"),
      if (i == 1) 150.0 else 50.0)).toDF("event_type", "ts", "value")
    val got = graft.operators.Stats.wilsonLowerBound(ev, col("value") > 100)
      .as[(String, Long, Long, Double)].collect().head
    val (n, x, z2) = (4.0, 1.0, 1.96 * 1.96)
    val p = x / n
    val want = BigDecimal((p + z2 / (2.0 * n) -
      1.96 * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))) / (1.0 + z2 / n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === (("A", 4L, 1L, want)))
  }

  test("psi drift: identical halves read exactly 0, a distribution shift reads positive") {
    val shortText = "word " * 5
    val longText = ("the and of is to in that " * 40).trim
    // identical halves: every doc duplicated across both groups
    val same = ((1 to 10).map(i => (i * 2L, shortText, "web")) ++
      (1 to 10).map(i => (i * 2L + 1, shortText, "web")))
      .toDF("doc_id", "text", "source")
    val g0 = graft.operators.TextAnalysis
      .psiDrift(same, pmod(col("doc_id"), lit(2)) === 0)
      .as[(String, Long, Long, Long)].collect().head
    assert(g0 === (("web", 10L, 10L, 0L)))
    // shifted halves: even docs short/low-quality, odd docs long/high
    val shifted = ((1 to 10).map(i => (i * 2L, shortText, "web")) ++
      (1 to 10).map(i => (i * 2L + 1, longText, "web")))
      .toDF("doc_id", "text", "source")
    val g1 = graft.operators.TextAnalysis
      .psiDrift(shifted, pmod(col("doc_id"), lit(2)) === 0)
      .as[(String, Long, Long, Long)].collect().head
    assert(g1._4 > 100000L) // a wholesale bin shift is far past the 0.25 gate
  }

  test("cdc apply: latest change wins, deletes drop, inserts and kept pass through") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val changes = Seq(
      (2L, t("2024-01-01 10:00:00"), 1L, "upsert", 22.0),
      (2L, t("2024-01-01 11:00:00"), 2L, "upsert", 25.0), // latest wins
      (3L, t("2024-01-01 10:00:00"), 3L, "delete", 0.0),
      (4L, t("2024-01-01 10:00:00"), 4L, "upsert", 40.0), // insert
      (5L, t("2024-01-01 10:00:00"), 5L, "delete", 0.0)   // delete absent key
    ).toDF("k", "ts", "id", "op", "v")
    val got = graft.operators.AsOf
      .cdcApply(base, changes, "k", "ts", "id", "op", "v")
      .as[(Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10.0, "kept"), (2L, 25.0, "updated"),
      (4L, 40.0, "inserted")))
  }

  test("blocked entity pairs: minShared gates, hot blocks drop") {
    val rows =
      Seq((1L, "b1"), (1L, "b2"), (2L, "b1"), (2L, "b2"),  // pair (1,2) ×2
        (3L, "b1")) ++                                     // 3 shares only b1
        (1L to 60L).map(e => (e + 100L, "hot"))            // block of 60 → dropped
    val df = rows.toDF("e", "b")
    val got = graft.operators.Dedup
      .blockedEntityPairs(df, "e", Seq(col("b")), minShared = 2,
        maxBlockSize = 50)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L)))
  }

  test("asof tolerance: fresh carry survives, stale carry nulls out") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val left = Seq(
      (1L, "a", t("2024-01-01 00:01:40")),  // right at 95 s → gap 5 s, fresh
      (2L, "a", t("2024-01-01 00:05:00"))   // same right → gap 205 s, stale
    ).toDF("lid", "k", "ts")
    val right = Seq((9L, "a", t("2024-01-01 00:01:35"), 7.0))
      .toDF("rid", "k", "rts", "px")
    val got = graft.operators.AsOf
      .asofJoinTolerance(left, right, "k", "ts", "rts", Seq("px"),
        toleranceSeconds = 10L)
      .select(col("lid"), col("px"))
      .as[(Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, Some(7.0)), (2L, None)))
  }

  test("signature terms: a source-exclusive token tops its source's lift ranking") {
    val webText = ("alpha beta gamma " * 10).trim   // shared vocabulary
    val wikiText = ("alpha beta quark " * 10).trim  // quark only in wiki
    val docs = (1 to 2).map(i => (i.toLong, webText, "web")) ++
      (3 to 4).map(i => (i.toLong, wikiText, "wiki"))
    val got = graft.operators.TextAnalysis
      .sourceSignatureTerms(docs.toDF("doc_id", "text", "source"),
        k = 1, minCount = 5L)
      .as[(String, Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got("wiki") === "quark")
    assert(got("web") === "gamma")
  }

  test("salt advisor: uniform keys emit nothing, a hot key gets the exact ceil factor") {
    // 64 rows: key H owns 32 (50%), 32 unique keys own 1 each
    val df = ((1 to 32).map(_ => "H") ++ (1 to 32).map(i => s"u$i"))
      .toDF("k")
    val got = graft.operators.Skew.saltAdvisor(df, "k", parts = 8)
      .as[(String, Long, Long, Long)].collect().toSeq
    // ideal = 64/8 = 8 rows; H at 32 rows → salt ceil(32·8/64) = 4
    assert(got === Seq(("H", 32L, 5000L, 4L)))
  }

  test("dow R2: pure weekly pattern reads 10000 bp, constant volume reads 0") {
    import java.sql.Timestamp
    def rep(n: Int, k: String, d: String) =
      (1 to n).map(i => (k, Timestamp.valueOf(s"$d 10:0$i:00")))
    // A: two weeks, Mon=8 Tue=2 exactly repeating → dow explains all
    val a = rep(8, "A", "2024-01-01") ++ rep(2, "A", "2024-01-02") ++
      rep(8, "A", "2024-01-08") ++ rep(2, "A", "2024-01-09")
    // B: constant 3/day → SST = 0 → defined 0
    val b = rep(3, "B", "2024-01-01") ++ rep(3, "B", "2024-01-02")
    val got = graft.operators.Stats
      .dowVarianceExplained((a ++ b).toDF("event_type", "ts"))
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 4L, 10000L), ("B", 2L, 0L)))
  }

  test("k-anonymity: singleton cells are flagged below every threshold") {
    val df = Seq(
      ("a", 1L), ("a", 1L), ("a", 1L),  // cell of 3
      ("b", 2L),                        // singleton
      ("c", 3L), ("c", 3L)              // cell of 2
    ).toDF("q1", "q2")
    val got = graft.operators.Stats.kAnonymity(df, Seq("q1", "q2"),
        ks = Seq(2L, 5L))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (2L, 3L, 1L, 1L, 1667L),   // only the singleton below 2
      (5L, 3L, 3L, 6L, 10000L))) // everything below 5
  }

  test("fd audit: a held dependency reads zero violations, a broken one is counted") {
    val df = Seq(
      ("B1", "M1", 1L), ("B1", "M1", 2L),     // b→m holds for B1
      ("B2", "M2", 1L), ("B2", "M3", 3L),     // B2 maps to two m → violation
      ("B3", "M4", 1L)
    ).toDF("b", "m", "s")
    val got = graft.operators.Stats.fdAudit(df,
        Seq(("b_m", "b", "m"), ("s_b", "s", "b")))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // b→m: 3 keys, 1 violating (B2, fan-out 2) → 3333 bp
    // s→b: key 1 → {B1,B2,B3}, key 2 → {B1}, key 3 → {B2}: 1 of 3, max 3
    assert(got === Seq(
      ("b_m", 3L, 1L, 2L, 3333L),
      ("s_b", 3L, 1L, 3L, 3333L)))
  }

  test("embedding drift: identical halves read 1.0, orthogonal halves 0.0, zero half defined 0.0") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 1),  // label 1 even
      (1L, Array(1f, 0f, 0f, 0f), 1),  // label 1 odd — identical → 1.0
      (2L, Array(1f, 0f, 0f, 0f), 2),  // label 2 even
      (3L, Array(0f, 1f, 0f, 0f), 2),  // label 2 odd — orthogonal → 0.0
      (4L, Array(1f, 0f, 0f, 0f), 3),
      (5L, Array(0f, 0f, 0f, 0f), 3)   // label 3 odd degenerate → defined 0.0
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .embeddingDrift(emb, pmod(col("vec_id"), lit(2)) === 0)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 1L, 1L, 1.0), (2L, 1L, 1L, 0.0), (3L, 1L, 1L, 0.0)))
  }

  test("modal value: highest count wins, ties break to the smallest value") {
    val df = Seq(("A", 3L), ("A", 3L), ("A", 1L),
      ("B", 7L), ("B", 2L)).toDF("k", "v")   // B tie 1-1 → smallest (2)
    val got = graft.operators.Stats.modalByKey(df, "k", "v")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 3L, 2L), ("B", 2L, 1L)))
  }

  test("runs test: alternating signs count max runs, zero deltas drop, exact E[R]") {
    import java.sql.Timestamp
    def rep(n: Int, k: String, d: String) =
      (1 to n).map(i => (k, Timestamp.valueOf(s"$d 10:0$i:00")))
    // A daily counts: 1, 3, 2, 2, 4 → deltas +2, −1, 0(drop), +2 →
    // signs +,−,+ → 3 runs; n+=2, n−=1, E[R] = 1 + 2·2·1/3 = 2333333
    val ev = (rep(1, "A", "2024-01-01") ++ rep(3, "A", "2024-01-02") ++
      rep(2, "A", "2024-01-03") ++ rep(2, "A", "2024-01-04") ++
      rep(4, "A", "2024-01-05")).toDF("event_type", "ts")
    val got = graft.operators.Stats.runsTestDaily(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 2L, 1L, 3L, 2333333L)))
  }

  test("macd: integer HALF_UP EMA recurrence, first-value seed, symbol reset") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val candles = Seq(
      (t("2024-01-01 10:00:00"), "S", 1.0),
      (t("2024-01-01 10:05:00"), "S", 2.0),
      (t("2024-01-01 10:10:00"), "S", 3.0),
      (t("2024-01-01 10:00:00"), "T", 5.0) // fresh symbol → both EMAs seed
    ).toDF("window_start", "symbol", "close")
    // fast=1 → EMA ≡ close; slow=2 → ema' = round((2c + e)/3)
    val got = graft.operators.Returns.macd(candles, fast = 1, slow = 2)
      .select(col("symbol"), col("close_ticks"), col("ema_fast_ticks"),
        col("ema_slow_ticks"), col("macd_ticks"))
      .as[(String, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      ("S", 10000L, 10000L, 10000L, 0L),
      ("S", 20000L, 20000L, 16667L, 3333L), // 50000/3 HALF_UP
      ("S", 30000L, 30000L, 25556L, 4444L), // 76667/3 HALF_UP
      ("T", 50000L, 50000L, 50000L, 0L)))
  }

  test("quantile norm table: a lone source's cuts coincide with the global cuts") {
    val texts = (1 to 40).map(i =>
      (i.toLong, ("the quick brown fox " * i).trim, "web"))
    val one = texts.toDF("doc_id", "text", "source")
    val g1 = graft.operators.TextAnalysis.quantileNormTable(one)
      .as[(String, Long, Double, Double)].collect()
    assert(g1.length === 9)
    assert(g1.forall(r => r._3 === r._4))
    // two sources with identical distributions: everyone matches global
    val two = texts.toDF("doc_id", "text", "source").unionByName(
      texts.map { case (id, tx, _) => (id + 1000L, tx, "wiki") }
        .toDF("doc_id", "text", "source"))
    val g2 = graft.operators.TextAnalysis.quantileNormTable(two)
      .as[(String, Long, Double, Double)].collect()
    assert(g2.length === 18)
    assert(g2.forall(r => r._3 === r._4))
  }

  test("ohlc resample: 30-min bar merges its 5-min candles, open/close by time") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val candles = Seq(
      // bucket 10:00: three 5-min candles — open from 10:00, close from 10:10
      (t("2024-01-01 10:00:00"), "S", 10.0, 12.0, 9.0, 11.0, 3L),
      (t("2024-01-01 10:05:00"), "S", 11.0, 15.0, 11.0, 14.0, 2L),
      (t("2024-01-01 10:10:00"), "S", 14.0, 14.0, 8.0, 9.0, 4L),
      // bucket 10:30: a single candle passes through
      (t("2024-01-01 10:30:00"), "S", 9.0, 10.0, 9.0, 10.0, 1L)
    ).toDF("window_start", "symbol", "open", "high", "low", "close", "tick_count")
    val got = graft.operators.Ohlc.resample(candles, minutes = 30)
      .select(col("window_start").cast("string"), col("symbol"), col("open"),
        col("high"), col("low"), col("close"), col("tick_count"))
      .as[(String, String, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq(
      ("2024-01-01 10:00:00", "S", 10.0, 15.0, 8.0, 9.0, 9L),
      ("2024-01-01 10:30:00", "S", 9.0, 10.0, 9.0, 10.0, 1L)))
  }

  test("binned AUC: perfect separation 1e6, same-bin ties midrank to 5e5, hand case exact") {
    def auc(rows: Seq[(Double, Long)]): (Long, Long, Long) =
      graft.operators.TextAnalysis
        .binnedAuc(rows.toDF("score", "label"), "score", "label")
        .as[(Long, Long, Long)].collect().head
    assert(auc(Seq((0.9, 1L), (0.8, 1L), (0.1, 0L), (0.2, 0L))) ===
      ((2L, 2L, 1000000L)))
    assert(auc(Seq((0.5, 1L), (0.5, 0L))) === ((1L, 1L, 500000L)))
    // pos {0.3, 0.7}, neg {0.5}: one of two pairs correctly ordered
    assert(auc(Seq((0.3, 1L), (0.7, 1L), (0.5, 0L))) === ((2L, 1L, 500000L)))
  }

  test("fano factor: silent span days count as zeros, constant rate reads 0") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    def rep(n: Int, k: String, d: String) =
      (1 to n).map(i => (k, t(s"$d 10:0$i:00")))
    // A: counts (4, 0, 2) over a 3-day span → (3·20−36)/(3·6) = 4/3
    val ev = (rep(4, "A", "2024-01-01") ++ rep(2, "A", "2024-01-03") ++
      rep(2, "B", "2024-01-01") ++ rep(2, "B", "2024-01-02"))
      .toDF("event_type", "ts")
    val got = graft.operators.Stats.fanoDaily(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("A", 3L, 6L, 1333333L), ("B", 2L, 4L, 0L)))
  }

  test("linear attribution: even integer split, <none> for bare conversions, trailing touches drop") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val ev = Seq(
      // user 1: click, view → P1 (500000 each); click → P2 (1000000);
      // trailing view after P2 is unattributed
      (1L, 1L, t("2024-01-01 10:00:00"), "click"),
      (2L, 1L, t("2024-01-01 10:01:00"), "view"),
      (3L, 1L, t("2024-01-01 10:02:00"), "purchase"),
      (4L, 1L, t("2024-01-01 10:03:00"), "click"),
      (5L, 1L, t("2024-01-01 10:04:00"), "purchase"),
      (6L, 1L, t("2024-01-01 10:05:00"), "view"),
      // user 2: conversion with no preceding touch → <none>
      (7L, 2L, t("2024-01-01 11:00:00"), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.Engagement
      .linearAttribution(ev, "user_id", "ts", "event_type", "event_id", "purchase")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("<none>", 1L, 1000000L),
      ("click", 2L, 1500000L),
      ("view", 1L, 500000L)))
  }

  test("stickiness: avg DAU over MAU from the distinct day-user grid") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val ev = Seq(
      (1L, 1L, t("2024-03-01 10:00:00")), // u1 d1 (twice — distinct collapses)
      (2L, 1L, t("2024-03-01 11:00:00")),
      (3L, 1L, t("2024-03-02 10:00:00")), // u1 d2
      (4L, 2L, t("2024-03-01 10:00:00"))  // u2 d1
    ).toDF("event_id", "user_id", "ts")
    val got = graft.operators.Engagement.stickiness(ev)
      .select(col("mau"), col("sum_dau"), col("n_days"), col("stickiness_bp"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // sum_dau 3 over 2 days × 2 MAU → 7500 bp
    assert(got === Seq((2L, 3L, 2L, 7500L)))
  }

  test("partition skew advisor: a constant key saturates one bucket, a unique key spreads") {
    val df = (0 until 64).map(i => (i.toLong, "x")).toDF("id", "c")
    val got = graft.operators.Layout.partitionSkew(df,
        Seq("const" -> Seq("c"), "id" -> Seq("id")), buckets = 64)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("const") === (("const", 64L, 1L, 64L, 640000L)))
    val (_, n, hit, mx, skew) = got("id")
    assert(n === 64L && hit > 30L && mx < 10L && skew < 100000L)
  }

  test("nearest join: min |gap| wins, ties go backward, empty key keeps nulls") {
    import java.sql.Timestamp
    def t(s2: String) = Timestamp.valueOf(s2)
    val left = Seq(
      (10L, "a", t("2024-01-01 00:01:40")), // rights at 90s/105s → forward, gap 5s
      (11L, "a", t("2024-01-01 00:01:20")), // before all rights → forward, gap 10s
      (12L, "b", t("2024-01-01 00:01:40")), // rights at 95s/105s → tie, backward wins
      (13L, "z", t("2024-01-01 00:00:00"))  // no rights in key → nulls
    ).toDF("lid", "k", "ts")
    val right = Seq(
      (1L, "a", t("2024-01-01 00:01:30")),
      (2L, "a", t("2024-01-01 00:01:45")),
      (3L, "b", t("2024-01-01 00:01:35")),
      (4L, "b", t("2024-01-01 00:01:45"))
    ).toDF("rid", "k", "rts")
    val got = graft.operators.AsOf
      .nearestJoin(left, right, "k", "ts", "rts", Seq("rid"))
      .select(col("lid"), col("rid"), col("nearest_gap_us"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (10L, Some(2L), Some(5000000L)),
      (11L, Some(1L), Some(10000000L)),
      (12L, Some(3L), Some(5000000L)),
      (13L, None, None)))
  }

  test("semantic decontamination: argmax ties to lowest bench id, zero-norm excluded") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),  // bench
      (1L, Array(1f, 0f, 0f, 0f)),  // bench, identical → tie loser
      (2L, Array(1f, 0f, 0f, 0f)),  // corpus: exact leak, cosine 1.0
      (3L, Array(0f, 1f, 0f, 0f)),  // corpus: orthogonal
      (4L, Array(0f, 0f, 0f, 0f))   // corpus: zero-norm → excluded
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontamination(emb, col("vec_id") < 2)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got === Seq((2L, 0L, 1.0, true), (3L, 0L, 0.0, false)))
  }

  test("mutual kNN pairs: non-reciprocal edges drop, pair emits once with both ranks") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.14f, 0f, 0f)),  // 0 and 1 are mutual top-1
      (2L, Array(0.7f, 0.7f, 0f, 0f))     // 2's top-1 is 1, but 1's is 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.mutualKnnPairs(emb, lit(true), k = 1)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((0L, 1L)))
    assert(got.head._4 === 1L && got.head._5 === 1L)
  }

  test("threshold sweep matches a direct recount of the verified candidate pairs") {
    val thetas = Seq(5000L, 8500L, 10000L)
    val cal = Dedup.lshCalibration(docs)
      .select("doc_a", "doc_b", "exact_jaccard")
      .as[(Long, Long, Double)].collect()
    val want = thetas.map { t =>
      val hit = cal.filter(_._3 >= t / 10000.0)
      (t, hit.length.toLong,
        hit.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
    val got = Dedup.thresholdSweep(docs, thetas)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    // the exact-dup trio (1,4,5) survives θ = 1.0
    val at10000 = got.find(_._1 == 10000L).get
    assert(at10000._2 >= 3L && at10000._3 >= 3L)
  }
}
