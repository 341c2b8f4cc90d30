package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._

import Common._

/** Near-duplicate detection ([[graft.operators.Dedup]]): exact hashes,
  * MinHash-LSH clusters, SimHash pairs and their calibration.
  */
object DedupQueries {

  /** q103's verified-candidate chain: MinHash-LSH candidates with
    * estimated AND exact Jaccard, ending in j(doc_a, doc_b,
    * est_jaccard, exact_jaccard) - shared by q103/q240. */
  private val LshCalibSql: String =
    """w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 16)) AS perm) t),
        |sig AS (
        |  SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |  FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
        |banded AS (
        |  SELECT doc_id, perm // 2 AS band,
        |         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
        |  FROM sig GROUP BY doc_id, perm // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |                              AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST((2 * sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 10000 + 16) // 32 AS DOUBLE) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.doc_a
        |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.perm = sa.perm
        |  GROUP BY c.doc_a, c.doc_b),
        |prs AS (SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.2),
        |cd AS (SELECT DISTINCT doc_id FROM
        |        (SELECT doc_a AS doc_id FROM prs UNION ALL SELECT doc_b FROM prs) t),
        |csh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cd USING (doc_id)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM csh GROUP BY 1),
        |ish AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |        FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |j AS (SELECT p.doc_a, p.doc_b, p.est_jaccard,
        |             CAST((2 * coalesce(ish.i, 0) * 10000
        |                   + (sa.sz + sb.sz - coalesce(ish.i, 0)))
        |                  // (2 * (sa.sz + sb.sz - coalesce(ish.i, 0)))
        |                  AS DOUBLE) / 10000.0 AS exact_jaccard
        |      FROM prs p
        |      JOIN sz sa ON sa.doc_id = p.doc_a
        |      JOIN sz sb ON sb.doc_id = p.doc_b
        |      LEFT JOIN ish ON ish.doc_a = p.doc_a AND ish.doc_b = p.doc_b)""".stripMargin

  /** The LSH dup-cluster CTE chain (shingles → minhash → bands →
    * candidate pairs → estimated-Jaccard cut → connected components →
    * full-corpus labels in `lab`), same parameters as q53/q78/q92
    * (16 perms × 8 bands, md5 base, threshold 0.2). The use site
    * supplies `WITH RECURSIVE`. */
  private val LshClusterSql: String =
    """w AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(words) - 3),
      |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
      |    FROM w WHERE len(words) >= 5) t),
      |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
      |perms AS (
      |  SELECT perm,
      |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
      |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
      |  FROM (SELECT unnest(range(0, 16)) AS perm) t),
      |sig AS (
      |  SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
      |  FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
      |banded AS (
      |  SELECT doc_id, perm // 2 AS band,
      |         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
      |  FROM sig GROUP BY doc_id, perm // 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
      |                              AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT c.doc_a, c.doc_b,
      |         CAST((2 * sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 10000 + 16) // 32 AS DOUBLE) / 10000.0 AS est_jaccard
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.doc_a
      |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.perm = sa.perm
      |  GROUP BY c.doc_a, c.doc_b),
      |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.2),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
      |          UNION SELECT doc_b, doc_a FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
      |labels AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src),
      |lab AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)""".stripMargin

  /** The 64-bit SimHash banded-pair CTE chain (q48's semantics), CTE
    * names s-prefixed so it composes with [[LshClusterSql]] in one WITH
    * clause (q164 joins both pair relations); ends in
    * `sp(doc_a, doc_b, hamming ≤ 3)`. Single source of truth — q48
    * selects from it verbatim. */
  private val SimhashPairsSql: String =
    """stf AS (
      |  SELECT doc_id, tok, count(*) AS cnt,
      |         ('0x' || substr(md5(tok || '#lo'), 1, 8))::BIGINT AS hlo,
      |         ('0x' || substr(md5(tok || '#hi'), 1, 8))::BIGINT AS hhi
      |  FROM (SELECT doc_id,
      |               unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS tok
      |        FROM documents) t
      |  GROUP BY doc_id, tok),
      |sbits AS (SELECT unnest(range(0, 64)) AS b),
      |svotes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN ((CASE WHEN b < 32 THEN hlo >> CAST(b AS INT)
      |                              ELSE hhi >> CAST(b - 32 AS INT) END) & 1) = 1
      |             THEN cnt ELSE -cnt END) AS v
      |  FROM stf CROSS JOIN sbits GROUP BY doc_id, b),
      |ssim AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN v > 0 AND b < 32 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo,
      |         CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN CAST(pow(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi
      |  FROM svotes GROUP BY doc_id),
      |sbanded AS (
      |  SELECT doc_id, simhash_lo, simhash_hi, band,
      |         CASE band WHEN 0 THEN simhash_lo & 65535
      |                   WHEN 1 THEN (simhash_lo >> 16) & 65535
      |                   WHEN 2 THEN simhash_hi & 65535
      |                   ELSE (simhash_hi >> 16) & 65535 END AS key
      |  FROM ssim CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
      |scand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         bit_count(xor(a.simhash_lo, b.simhash_lo))
      |           + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS hamming
      |  FROM sbanded a JOIN sbanded b ON a.band = b.band AND a.key = b.key
      |                              AND a.doc_id < b.doc_id),
      |sp AS (SELECT doc_a, doc_b, hamming FROM scand WHERE hamming <= 3)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Query("q34_dedup_exact", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir))
        .orderBy(col("fingerprint").asc_nulls_last),
      """SELECT md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fingerprint,
        |       count(*) AS n_docs, min(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),
 // null text -> null fp
    Query("q35_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.doc_a, p.doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b, p.n_common,
        |       CAST((2 * p.n_common * 10000 + (sa.n_sh + sb.n_sh - p.n_common))
        |            // (2 * (sa.n_sh + sb.n_sh - p.n_common)) AS DOUBLE)
        |         / 10000.0 AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |WHERE CAST((2 * p.n_common * 10000 + (sa.n_sh + sb.n_sh - p.n_common))
        |           // (2 * (sa.n_sh + sb.n_sh - p.n_common)) AS DOUBLE)
        |        / 10000.0 >= 0.4
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("q38_minhash_portable", (s, dir) =>
      Dedup.minhashPortable(Tables.documents(s, dir)).orderBy("doc_id", "perm"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 16)) AS perm) t)
        |SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |FROM bh CROSS JOIN perms
        |GROUP BY doc_id, perm ORDER BY doc_id, perm""".stripMargin),
    Query("q39_simhash_portable", (s, dir) =>
      Dedup.simhashPortable(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS cnt,
        |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        |  FROM (SELECT doc_id,
        |               unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS tok
        |        FROM documents) t
        |  GROUP BY doc_id, tok),
        |bits AS (SELECT unnest(range(0, 32)) AS b),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN cnt ELSE -cnt END) AS v
        |  FROM tf CROSS JOIN bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash32
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q46_minhash_lsh_pairs", (s, dir) =>
      Dedup.minhashLshPairsPortable(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 16)) AS perm) t),
        |sig AS (
        |  SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |  FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
        |banded AS (
        |  SELECT doc_id, perm // 2 AS band,
        |         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
        |  FROM sig GROUP BY doc_id, perm // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |                              AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST((2 * sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 10000 + 16) // 32 AS DOUBLE) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.doc_a
        |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.perm = sa.perm
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin),
    // the production LSH code path (linear-permutation signatures +
    // banding/candidate-join/estimation) at production parameters (64 perms
    // × 16 bands), instantiated with the md5-portable base hash so the
    // whole path is oracle-checked; the xxhash64 instantiation of the SAME
    // code is spec-covered
    Query("q40_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), numPerms = 64, bands = 16,
        threshold = 0.2, base = HashBase.Md5)
        .orderBy("doc_a", "doc_b"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 64)) AS perm) t),
        |sig AS (
        |  SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |  FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
        |banded AS (
        |  SELECT doc_id, perm // 4 AS band,
        |         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
        |  FROM sig GROUP BY doc_id, perm // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |                              AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST((2 * sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 10000 + 64) // 128 AS DOUBLE) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.doc_a
        |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.perm = sa.perm
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin),
    Query("q41_simhash", (s, dir) =>
      Dedup.simhash64Portable(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS cnt,
        |         ('0x' || substr(md5(tok || '#lo'), 1, 8))::BIGINT AS hlo,
        |         ('0x' || substr(md5(tok || '#hi'), 1, 8))::BIGINT AS hhi
        |  FROM (SELECT doc_id,
        |               unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS tok
        |        FROM documents) t
        |  GROUP BY doc_id, tok),
        |bits AS (SELECT unnest(range(0, 64)) AS b),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN ((CASE WHEN b < 32 THEN hlo >> CAST(b AS INT)
        |                              ELSE hhi >> CAST(b - 32 AS INT) END) & 1) = 1
        |             THEN cnt ELSE -cnt END) AS v
        |  FROM tf CROSS JOIN bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |       CAST(sum(CASE WHEN v > 0 AND b < 32 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo,
        |       CAST(sum(CASE WHEN v > 0 AND b >= 32 THEN CAST(pow(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q48_simhash_pairs", (s, dir) =>
      Dedup.simhashPairsPortable(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      s"""WITH $SimhashPairsSql
        |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        |FROM sp ORDER BY doc_a, doc_b""".stripMargin),
    Query("q53_dup_clusters", (s, dir) =>
      Dedup.dupClusters(
        Dedup.minhashLshPairs(Tables.documents(s, dir), numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5))
        .orderBy("doc_id"),
      """WITH RECURSIVE w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 16)) AS perm) t),
        |sig AS (
        |  SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |  FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
        |banded AS (
        |  SELECT doc_id, perm // 2 AS band,
        |         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm) AS key
        |  FROM sig GROUP BY doc_id, perm // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |                              AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST((2 * sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 10000 + 16) // 32 AS DOUBLE) / 10000.0 AS est_jaccard
        |  FROM cand c
        |  JOIN sig sa ON sa.doc_id = c.doc_a
        |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.perm = sa.perm
        |  GROUP BY c.doc_a, c.doc_b),
        |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
        |          UNION SELECT doc_b, doc_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // q70 detects split leakage; this PREVENTS it — same LSH clusters as
    // q53, split drawn from the cluster canonical so members never straddle
    Query("q78_cluster_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.clusterAwareSplit(docs,
        Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5)))
        .orderBy("doc_id")
    },
      // LSH cluster chain shared with q92 via LshClusterSql — one source of
      // truth; an edit to the chain moves both oracles together
      s"""WITH RECURSIVE $LshClusterSql
        |SELECT doc_id, cluster_id,
        |  CASE WHEN (('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90
        |       THEN 'train'
        |       WHEN (('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 95
        |       THEN 'val' ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin),
    // quality-aware canonicalization: dedup keeps each cluster's BEST
    // member (max quality, min id on ties), not an arbitrary one;
    // singletons are their own winners so keep is a full corpus verdict
    Query("q92_best_of_cluster", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bestOfCluster(
        docs.select(col("doc_id"),
          TextAnalysis.qualityExpr(col("text")).as("quality")),
        Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5)),
        scoreCol = "quality").orderBy("doc_id")
    },
      // replays the LSH clusters (q78's chain), the quality score (q77's),
      // and the per-cluster argmax with the same (quality DESC, doc_id) tie
      s"""WITH RECURSIVE $LshClusterSql,
         |$QualitySql,
         |j AS (SELECT lab.doc_id, q.quality, lab.cluster_id
         |      FROM lab JOIN q ON q.doc_id = lab.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                ORDER BY quality DESC, doc_id) AS rn FROM j)
         |SELECT doc_id, quality, cluster_id, rn = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin),
    // exact cross-source duplicate matrix over a planted mirror/recrawl
    // fixture (the synthetic corpus has no natural exact dups) —
    // combination arithmetic, no pair materialization
    Query("q120_exact_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      val mirrored = docs.where(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"),
          lit("mirror").as("source"))
      val recrawled = docs.where(pmod(col("doc_id"), lit(15)) === 0)
        .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"),
          col("source"))
      Dedup.exactOverlapMatrix(docs.unionByName(mirrored).unionByName(recrawled))
        .orderBy(col("source_a").asc_nulls_last, col("source_b").asc_nulls_last)
    },
      // per-(fingerprint, source) counts -> combination arithmetic; the
      // planted mirror/recrawl base matches the engine fixture
      """WITH base AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000, text, 'mirror' FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000000, text, source FROM documents WHERE doc_id % 15 = 0),
        |f AS (SELECT md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fp, source FROM base),
        |cells AS (SELECT fp, source, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2),
        |cx AS (SELECT a.source AS source_a, b.source AS source_b,
        |              CAST(sum(a.c * b.c) AS BIGINT) AS n_pairs
        |       FROM cells a JOIN cells b ON a.fp = b.fp AND a.source < b.source
        |       GROUP BY 1, 2),
        |dg AS (SELECT source AS source_a, source AS source_b,
        |              CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_pairs
        |       FROM cells WHERE c >= 2 GROUP BY 1, 2)
        |SELECT * FROM cx UNION ALL SELECT * FROM dg
        |ORDER BY source_a, source_b""".stripMargin),
    // near-dup graph degree histogram over the q40/q53 pair relation;
    // degree-0 rows from the corpus left-join (sum = |corpus|)
    Query("q134_dup_degree", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dupDegreeHistogram(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8, threshold = 0.2,
          base = HashBase.Md5)).orderBy("degree")
    },
      // the q53 pair CTE (pr) → per-doc degree → histogram; degree-0
      // rows from the corpus left join
      s"""WITH RECURSIVE $LshClusterSql,
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |          SELECT doc_a AS doc_id FROM pr
         |          UNION ALL SELECT doc_b AS doc_id FROM pr) t
         |        GROUP BY 1),
         |alldeg AS (SELECT d.doc_id, coalesce(deg.degree, 0) AS degree
         |           FROM documents d LEFT JOIN deg ON deg.doc_id = d.doc_id)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
         |FROM alldeg GROUP BY 1 ORDER BY degree""".stripMargin),
    // removal-reason breakdown across the dedup stages (exact beats
    // near-dup beats kept) — rides the q92 cluster + quality chain
    Query("q124_removal_reasons", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.removalReasonReport(docs,
        Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5)))
        .orderBy("source", "reason")
    },
      // one verdict per doc under exact > near_dup > kept precedence;
      // shares are within-source HALF_UP basis points
      s"""WITH RECURSIVE $LshClusterSql,
         |$QualitySql,
         |fp AS (SELECT doc_id, source,
         |              md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+', ' ', 'g'))) AS f
         |       FROM documents),
         |canon AS (SELECT f, min(doc_id) AS canon FROM fp GROUP BY 1),
         |j AS (SELECT fp.doc_id, fp.source, c.canon, q.quality, lab.cluster_id
         |      FROM fp JOIN canon c ON c.f = fp.f
         |      JOIN q ON q.doc_id = fp.doc_id
         |      JOIN lab ON lab.doc_id = fp.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                ORDER BY quality DESC, doc_id) AS rn FROM j),
         |v AS (SELECT source,
         |             CASE WHEN doc_id <> canon THEN 'exact_dup'
         |                  WHEN rn <> 1 THEN 'near_dup'
         |                  ELSE 'kept' END AS reason
         |      FROM r),
         |cnt AS (SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM v GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1)
         |SELECT c.source, c.reason, c.n_docs,
         |       (c.n_docs * 20000 + t.t) // (2 * t.t) AS share_bp
         |FROM cnt c JOIN tot t ON t.source = c.source
         |ORDER BY c.source, c.reason""".stripMargin),
    // one-sided shingle containment: the sub-document duplication axis
    // symmetric jaccard misses (quotes/embeds) — q35's inverted-index
    // chain + df cap, scored per side, kept when either side clears 0.6
    Query("q106_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      // q35's shingle/df-cap chain verbatim, containment scoring per side
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.doc_a, p.doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b, p.n_common,
        |       CAST((2 * p.n_common * 10000 + sa.n_sh) // (2 * sa.n_sh) AS DOUBLE)
        |         / 10000.0 AS contain_a,
        |       CAST((2 * p.n_common * 10000 + sb.n_sh) // (2 * sb.n_sh) AS DOUBLE)
        |         / 10000.0 AS contain_b
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |WHERE CAST((2 * p.n_common * 10000 + sa.n_sh) // (2 * sa.n_sh) AS DOUBLE)
        |        / 10000.0 >= 0.6
        |   OR CAST((2 * p.n_common * 10000 + sb.n_sh) // (2 * sb.n_sh) AS DOUBLE)
        |        / 10000.0 >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin),
    // cross-source near-dup overlap matrix over the q46 LSH pair chain:
    // syndication shows as off-diagonal mass, re-crawls as diagonal
    Query("q108_source_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.sourceOverlapMatrix(docs, Dedup.minhashLshPairsPortable(docs))
        .orderBy("source_a", "source_b")
    },
      // the shared LSH chain through `pr`, sources joined on both ends;
      // cells least/greatest-normalized like the engine
      s"""WITH RECURSIVE $LshClusterSql
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr
         |JOIN documents da ON da.doc_id = pr.doc_a
         |JOIN documents db ON db.doc_id = pr.doc_b
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin),
    // sketch calibration: est vs EXACT jaccard on the LSH's own
    // candidates (16 perms x 8 bands, md5 base — the q46 chain)
    Query("q103_lsh_calibration", (s, dir) =>
      Dedup.lshCalibration(Tables.documents(s, dir)).orderBy("doc_a", "doc_b"),
      // q46's chain through est, then exact jaccard over the candidate
      // docs' shingle sets via the inverted index; err in 1e-4 ticks
      s"""WITH $LshCalibSql
        |SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
        |       CAST(round(est_jaccard * 10000) - round(exact_jaccard * 10000) AS BIGINT) AS err_ticks
        |FROM j ORDER BY doc_a, doc_b""".stripMargin),
    // dedup audit report: cluster-size histogram over the same LSH
    // clusters as q53/q78/q92, singletons included — the shipped
    // "dedup rate" summary next to a corpus version
    Query("q99_cluster_sizes", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterSizeReport(docs,
        Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5)))
        .orderBy("size")
    },
      s"""WITH RECURSIVE $LshClusterSql,
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
         |       FROM lab GROUP BY 1),
         |hi AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
         |       FROM cs GROUP BY 1)
         |SELECT size, n_clusters, size * n_clusters AS n_docs,
         |       (size - 1) * n_clusters AS n_dups_removed
         |FROM hi ORDER BY size""".stripMargin),
    // 2-round integer-tick PageRank on the q53 LSH pair graph — rank
    // the duplicate-family nuclei, bit-replayable floor arithmetic
    Query("q156_pagerank", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.pageRank(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8, threshold = 0.2,
          base = HashBase.Md5), iters = 2).orderBy("doc_id")
    },
      // the shared LSH pair chain up to `edges`, then two unrolled
      // integer-tick matvec rounds — floor division at every step
      s"""WITH RECURSIVE $LshClusterSql,
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS c FROM edges GROUP BY 1),
        |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
        |c1 AS (SELECT e.dst, CAST(sum(r0.r // deg.c) AS BIGINT) AS m
        |       FROM edges e JOIN deg ON deg.src = e.src
        |                    JOIN r0 ON r0.doc_id = e.src
        |       GROUP BY 1),
        |r1 AS (SELECT d.doc_id,
        |              CAST(150000 + (85 * coalesce(c1.m, 0)) // 100 AS BIGINT) AS r
        |       FROM documents d LEFT JOIN c1 ON c1.dst = d.doc_id),
        |c2 AS (SELECT e.dst, CAST(sum(r1.r // deg.c) AS BIGINT) AS m
        |       FROM edges e JOIN deg ON deg.src = e.src
        |                    JOIN r1 ON r1.doc_id = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT d.doc_id,
        |              CAST(150000 + (85 * coalesce(c2.m, 0)) // 100 AS BIGINT) AS r
        |       FROM documents d LEFT JOIN c2 ON c2.dst = d.doc_id)
        |SELECT doc_id, r AS rank_ticks FROM r2 ORDER BY doc_id""".stripMargin),
    // dup-cluster review manifest on the q53 labels: size + first-10
    // member CSV, ranked BEFORE collecting (bounded per-cluster rows)
    Query("q161_cluster_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterManifest(
        Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5)))
        .orderBy("cluster_id")
    },
      // the shared label chain, then size + ordered first-10 CSV per
      // multi-member cluster
      s"""WITH RECURSIVE $LshClusterSql,
        |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
        |          FROM lab GROUP BY 1),
        |rk AS (SELECT cluster_id, doc_id,
        |              row_number() OVER (PARTITION BY cluster_id
        |                                 ORDER BY doc_id) AS r
        |       FROM lab),
        |m AS (SELECT cluster_id,
        |             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |               AS members
        |      FROM rk WHERE r <= 10 GROUP BY 1)
        |SELECT s.cluster_id, s.n_docs, m.members
        |FROM sizes s JOIN m ON m.cluster_id = s.cluster_id
        |WHERE s.n_docs > 1 ORDER BY s.cluster_id""".stripMargin),
    // do the two sketches see the same duplication? MinHash-LSH vs
    // banded SimHash pair-set agreement in floor bp
    Query("q164_dedup_agreement", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // both sketch families derive from ONE tokenized relation
      val toks = Dedup.tokenized(docs)
      Dedup.pairAgreement(
        Dedup.minhashLshPairsFromTokens(toks, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5),
        Dedup.simhashPairsPortableFromTokens(toks))
    },
      // both shared pair chains in ONE WITH clause (disjoint CTE names),
      // full-outer on the pair key, floor-bp set agreement
      s"""WITH RECURSIVE $LshClusterSql,
        |$SimhashPairsSql,
        |mh AS (SELECT doc_a, doc_b FROM pr),
        |sh2 AS (SELECT doc_a, doc_b FROM sp),
        |j AS (SELECT coalesce(mh.doc_a, sh2.doc_a) AS da,
        |             CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_a,
        |             CASE WHEN sh2.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_b
        |      FROM mh FULL OUTER JOIN sh2
        |        ON mh.doc_a = sh2.doc_a AND mh.doc_b = sh2.doc_b),
        |c AS (SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |             CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
        |             CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
        |      FROM j)
        |SELECT n_both, n_only_a, n_only_b,
        |       CASE WHEN n_both + n_only_a + n_only_b = 0 THEN 0
        |            ELSE CAST((n_both * 10000) // (n_both + n_only_a + n_only_b)
        |                      AS BIGINT) END AS agree_bp
        |FROM c""".stripMargin),
    // the dedup PRECISION stage: Levenshtein over 500-char prefixes of
    // the q53 LSH candidates — per-pair cost bounded by construction
    Query("q167_edit_verify", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.editDistanceVerify(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5))
        .orderBy("doc_a", "doc_b")
    },
      // Levenshtein over the same 500-char prefixes; floor-bp similarity,
      // empty-prefix pairs define as identical
      s"""WITH RECURSIVE $LshClusterSql,
        |t AS (SELECT doc_id,
        |             substr(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'),
        |                    1, 500) AS tx
        |      FROM documents),
        |p AS (SELECT pr.doc_a, pr.doc_b,
        |             CAST(levenshtein(a.tx, b.tx) AS BIGINT) AS lev,
        |             CAST(greatest(length(a.tx), length(b.tx)) AS BIGINT) AS mx
        |      FROM pr JOIN t a ON a.doc_id = pr.doc_a
        |              JOIN t b ON b.doc_id = pr.doc_b)
        |SELECT doc_a, doc_b, lev,
        |       CASE WHEN mx = 0 THEN 10000
        |            ELSE 10000 - CAST((lev * 10000) // mx AS BIGINT) END AS sim_bp
        |FROM p ORDER BY doc_a, doc_b""".stripMargin),
    // EXACT token-Jaccard join, complete recall — exact-set collapse +
    // pigeonhole bucket-agreement candidates at this threshold's tiny
    // set-difference budget (|AΔB| ≤ (sa+sb)/39), exact array verify
    Query("q220_prefix_filter_join", (s, dir) =>
      Dedup.exactJaccardPairs(Tables.documents(s, dir), 19, 20)
        .orderBy("doc_a", "doc_b"),
      // independent all-pairs formulation: the prefix filter must lose
      // NOTHING vs brute-force exact token Jaccard at threshold 19/20
      """WITH tk AS (SELECT DISTINCT doc_id,
        |              unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                 x -> x <> '')) AS tok
        |            FROM documents),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
        |it AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS c
        |       FROM tk a JOIN tk b ON b.tok = a.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT it.da AS doc_a, it.db AS doc_b, sa.n AS n_a, sb.n AS n_b,
        |       c AS n_common,
        |       CAST((2 * c * 10000 + (sa.n + sb.n - c)) // (2 * (sa.n + sb.n - c))
        |            AS DOUBLE) / 10000.0 AS jaccard
        |FROM it JOIN sz sa ON sa.doc_id = it.da
        |        JOIN sz sb ON sb.doc_id = it.db
        |WHERE c * 20 >= (sa.n + sb.n - c) * 19
        |ORDER BY doc_a, doc_b""".stripMargin),
    // dedup threshold tuning: pairs + docs touched per exact-Jaccard θ
    // over the verified LSH candidate set
    Query("q240_threshold_sweep", (s, dir) =>
      Dedup.thresholdSweep(Tables.documents(s, dir)),
      // θ grid over the shared verified-candidate chain; empty θ rows 0/0
      s"""WITH $LshCalibSql,
        |grid AS (SELECT CAST(unnest([2000, 4000, 6000, 8000]) AS BIGINT)
        |           AS theta_bp),
        |hits AS (SELECT g.theta_bp, j.doc_a, j.doc_b FROM grid g
        |         JOIN j ON j.exact_jaccard >= g.theta_bp / 10000.0),
        |pc AS (SELECT theta_bp, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM hits GROUP BY 1),
        |dc AS (SELECT theta_bp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |       FROM (SELECT theta_bp, doc_a AS doc_id FROM hits
        |             UNION ALL SELECT theta_bp, doc_b FROM hits) t
        |       GROUP BY 1)
        |SELECT g.theta_bp, coalesce(pc.n_pairs, 0) AS n_pairs,
        |       coalesce(dc.n_docs, 0) AS n_docs
        |FROM grid g LEFT JOIN pc USING (theta_bp) LEFT JOIN dc USING (theta_bp)
        |ORDER BY g.theta_bp""".stripMargin),
    // friends-of-friends: 1-hop and ≤2-hop distinct reach over the
    // blocked entity-pair graph (edge set bounded by q261's caps)
    Query("q277_two_hop_reach", (s, dir) => {
      val edges = Dedup.blockedEntityPairs(
        Tables.events(s, dir).where(col("ts").isNotNull &&
          col("value").isNotNull && !isnan(col("value")) && col("event_type").isNotNull),
        "user_id",
        Seq(to_date(col("ts")), col("event_type"),
          floor(col("value") / 100).cast("long")),
        minShared = 2, maxBlockSize = 50)
        .select(col("entity_a").as("a"), col("entity_b").as("b"))
      val und = edges.unionByName(
          edges.select(col("b").as("a"), col("a").as("b"))).distinct()
      val twoHop = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .where(col("a") =!= col("b"))
      val reach = und.unionByName(twoHop).distinct()
      und.groupBy(col("a").as("entity")).agg(count(lit(1)).as("n_1hop"))
        .join(reach.groupBy(col("a").as("entity"))
          .agg(count(lit(1)).as("n_2hop")), Seq("entity"))
        .orderBy("entity")
    },
      // same q261 candidate chain, then undirected closure at depth 2;
      // UNION (distinct) matches the engine's distinct unions
      """WITH eb AS (SELECT DISTINCT user_id AS e,
        |              concat_ws(chr(1), CAST(CAST(ts AS DATE) AS VARCHAR),
        |                        event_type,
        |                        CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR))
        |                AS b
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL),
        |sz AS (SELECT b FROM eb GROUP BY b
        |       HAVING count(*) BETWEEN 2 AND 50),
        |sv AS (SELECT eb.e, eb.b FROM eb JOIN sz USING (b)),
        |p AS (SELECT x.e AS a, y.e AS b2 FROM sv x
        |      JOIN sv y ON y.b = x.b AND x.e < y.e
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT a, b2 FROM p UNION SELECT b2, a FROM p),
        |two AS (SELECT DISTINCT x.a, y.b2 FROM und x
        |        JOIN und y ON y.a = x.b2 WHERE x.a <> y.b2),
        |reach AS (SELECT a, b2 FROM und UNION SELECT a, b2 FROM two),
        |h1 AS (SELECT a AS entity, CAST(count(*) AS BIGINT) AS n_1hop
        |       FROM und GROUP BY 1),
        |h2 AS (SELECT a AS entity, CAST(count(*) AS BIGINT) AS n_2hop
        |       FROM reach GROUP BY 1)
        |SELECT h1.entity, h1.n_1hop, h2.n_2hop
        |FROM h1 JOIN h2 USING (entity) ORDER BY entity""".stripMargin),
    // record-linkage candidates: users sharing ≥2 (day, type, value-band)
    // blocks; hot blocks (>50 users) dropped — the df-cap discipline
    Query("q261_entity_blocks", (s, dir) =>
      Dedup.blockedEntityPairs(
        Tables.events(s, dir).where(col("ts").isNotNull &&
          col("value").isNotNull && !isnan(col("value")) && col("event_type").isNotNull),
        "user_id",
        Seq(to_date(col("ts")), col("event_type"),
          floor(col("value") / 100).cast("long")),
        minShared = 2, maxBlockSize = 50),
      // distinct (entity, block) first; blocks sized [2, 50]; pairs a < b
      """WITH eb AS (SELECT DISTINCT user_id AS e,
        |              concat_ws(chr(1), CAST(CAST(ts AS DATE) AS VARCHAR),
        |                        event_type,
        |                        CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR))
        |                AS b
        |            FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |              AND value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL),
        |sz AS (SELECT b FROM eb GROUP BY b
        |       HAVING count(*) BETWEEN 2 AND 50),
        |sv AS (SELECT eb.e, eb.b FROM eb JOIN sz USING (b)),
        |p AS (SELECT x.e AS entity_a, y.e AS entity_b,
        |             CAST(count(*) AS BIGINT) AS n_shared
        |      FROM sv x JOIN sv y ON y.b = x.b AND x.e < y.e GROUP BY 1, 2)
        |SELECT * FROM p WHERE n_shared >= 2 ORDER BY 1, 2""".stripMargin),
    // are dup families templates (intra-source) or mirrors (cross-
    // source)? (size × n_sources) histogram over the q53 clusters
    Query("q194_cluster_source_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dupClusters(Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5))
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("size"),
          countDistinct(col("source")).as("n_sources"))
        .where(col("size") > 1)
        .groupBy(col("size"), col("n_sources"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("size", "n_sources")
    },
      // (size × n_sources) histogram over the shared label chain
      s"""WITH RECURSIVE $LshClusterSql,
        |cs AS (SELECT lab.cluster_id, CAST(count(*) AS BIGINT) AS size,
        |              CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
        |       FROM lab JOIN documents d ON d.doc_id = lab.doc_id
        |       GROUP BY 1)
        |SELECT size, n_sources, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM cs WHERE size > 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // the LSH tuning number: what share of candidates survives the
    // edit-distance precision stage at sim ≥ 0.8
    Query("q192_lsh_precision", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.editDistanceVerify(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2, base = HashBase.Md5))
        .agg(count(lit(1)).as("n_candidates"),
          sum((col("sim_bp") >= 8000L).cast("long")).as("n_verified"))
        .select(col("n_candidates"),
          coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          when(col("n_candidates") === 0, lit(0L))
            .otherwise(expr("(coalesce(n_verified, 0) * 10000) DIV n_candidates"))
            .as("precision_bp"))
    },
      // the q167 chain collapsed to one precision row
      s"""WITH RECURSIVE $LshClusterSql,
        |t AS (SELECT doc_id,
        |             substr(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'),
        |                    1, 500) AS tx
        |      FROM documents),
        |p AS (SELECT pr.doc_a, pr.doc_b,
        |             CAST(levenshtein(a.tx, b.tx) AS BIGINT) AS lev,
        |             CAST(greatest(length(a.tx), length(b.tx)) AS BIGINT) AS mx
        |      FROM pr JOIN t a ON a.doc_id = pr.doc_a
        |              JOIN t b ON b.doc_id = pr.doc_b),
        |v AS (SELECT CASE WHEN mx = 0 THEN 10000
        |                  ELSE 10000 - CAST((lev * 10000) // mx AS BIGINT)
        |             END AS sim_bp FROM p),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |             CAST(sum(CASE WHEN sim_bp >= 8000 THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_verified
        |      FROM v)
        |SELECT n_candidates, coalesce(n_verified, 0) AS n_verified,
        |       CASE WHEN n_candidates = 0 THEN 0
        |            ELSE CAST((coalesce(n_verified, 0) * 10000) // n_candidates
        |                      AS BIGINT) END AS precision_bp
        |FROM c""".stripMargin),
    // raw docs over distinct normalized fingerprints per source, the
    // "how much of this source is re-posts" pre-dedup review number
    Query("q288_dup_inflation", (s, dir) =>
      Dedup.dupInflation(Tables.documents(s, dir)),
      // q34's normalized fingerprint grouped per source; HALF_UP bp
      s"""WITH f AS (SELECT coalesce(source, '<none>') AS source,
        |         md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+', ' ', 'g'))) AS fp
        |       FROM documents WHERE text IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
        |       (20000 * count(*) + count(DISTINCT fp))
        |         // (2 * count(DISTINCT fp)) AS inflation_bp
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin),
    // reciprocal best-Jaccard partners across the doc-parity split —
    // the cross-snapshot alignment primitive over verified LSH pairs
    Query("q292_mutual_best", (s, dir) =>
      Dedup.mutualBestMatch(Tables.documents(s, dir)).orderBy("doc_even"),
      // the verified-LSH exact-jaccard pairs, parity-split, reciprocal
      // rank-1 on the pinned (jaccard desc, partner asc) order
      s"""WITH $LshCalibSql,
        |x AS (SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS doc_even,
        |             CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS doc_odd,
        |             exact_jaccard AS jaccard
        |      FROM j WHERE doc_a % 2 <> doc_b % 2),
        |e AS (SELECT *,
        |             row_number() OVER (PARTITION BY doc_even
        |               ORDER BY jaccard DESC, doc_odd) AS re,
        |             row_number() OVER (PARTITION BY doc_odd
        |               ORDER BY jaccard DESC, doc_even) AS ro
        |      FROM x)
        |SELECT doc_even, doc_odd, jaccard FROM e WHERE re = 1 AND ro = 1
        |ORDER BY doc_even""".stripMargin),
    // banding design table from ONE signature set: exact candidate-pair
    // volume from bucket sizes (zero pair materialization) + exact
    // rational expected recall at θ=1/2
    Query("q295_lsh_design", (s, dir) =>
      Dedup.lshDesignTable(Tables.documents(s, dir)),
      // the q38 signature chain, banded three ways from ONE signature
      // set; candidate volume Σ c·(c−1)/2 from bucket sizes alone; the
      // expected-recall constant is exact rational over 2^16
      s"""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 3),
        |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 5) t),
        |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
        |perms AS (
        |  SELECT perm,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
        |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
        |  FROM (SELECT unnest(range(0, 16)) AS perm) t),
        |mh AS (SELECT doc_id, perm, min((a * h + b) % 4294967311) AS minhash
        |       FROM bh CROSS JOIN perms GROUP BY doc_id, perm),
        |grid AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS bands),
        |g AS (SELECT grid.bands, mh.doc_id, mh.minhash, mh.perm,
        |             mh.perm // (16 // grid.bands) AS band
        |      FROM mh CROSS JOIN grid),
        |bk AS (SELECT bands, band, doc_id,
        |              list(minhash ORDER BY perm) AS key
        |       FROM g GROUP BY 1, 2, 3),
        |bc AS (SELECT bands, band, key, CAST(count(*) AS BIGINT) AS c
        |       FROM bk GROUP BY 1, 2, 3),
        |agg AS (SELECT bands, CAST(count(*) AS BIGINT) AS n_buckets,
        |               CAST(sum(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
        |        FROM bc GROUP BY 1)
        |SELECT bands, 16 // bands AS rows_per_band, n_buckets, candidate_pairs,
        |       (2 * (65536 - CAST(pow(pow(2, 16 // bands) - 1, bands) AS BIGINT))
        |          * 1000000 + 65536) // (2 * 65536) AS est_recall_micro
        |FROM agg ORDER BY bands""".stripMargin),
    // similarity-band census over the exact 19/20 pair graph — integer
    // percent bands, complete recall inherited from exactJaccardPairs
    Query("q298_jaccard_bands", (s, dir) =>
      Dedup.jaccardBandCensus(Tables.documents(s, dir), 19, 20),
      // brute all-pairs exact Jaccard at 19/20, banded by integer percent
      """WITH tk AS (SELECT DISTINCT doc_id,
        |              unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                 x -> x <> '')) AS tok
        |            FROM documents),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
        |it AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS c
        |       FROM tk a JOIN tk b ON b.tok = a.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |p AS (SELECT c, sa.n AS na, sb.n AS nb
        |      FROM it JOIN sz sa ON sa.doc_id = it.da
        |              JOIN sz sb ON sb.doc_id = it.db
        |      WHERE c * 20 >= (sa.n + sb.n - c) * 19)
        |SELECT CAST((100 * c) // (na + nb - c) AS BIGINT) AS band_pct,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // duplicate-degree histogram: mega-family vs long-tail diagnostic
    Query("q299_dup_degree", (s, dir) =>
      Dedup.dupDegreeCensus(Tables.documents(s, dir), 19, 20),
      // same brute pair graph, degree histogram over both orientations
      """WITH tk AS (SELECT DISTINCT doc_id,
        |              unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                 x -> x <> '')) AS tok
        |            FROM documents),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
        |it AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS c
        |       FROM tk a JOIN tk b ON b.tok = a.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |p AS (SELECT it.da, it.db
        |      FROM it JOIN sz sa ON sa.doc_id = it.da
        |              JOIN sz sb ON sb.doc_id = it.db
        |      WHERE c * 20 >= (sa.n + sb.n - c) * 19),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
        |        (SELECT da AS doc_id FROM p UNION ALL SELECT db AS doc_id FROM p) u
        |      GROUP BY 1)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // sketch-error-by-band card over q103's verified candidate pairs
    Query("q301_minhash_error", (s, dir) =>
      Dedup.minhashErrorCensus(Tables.documents(s, dir)),
      // q103's verified-candidate chain (j has est+exact), banded by exact
      // ticks with HALF_UP mean |est−exact| ticks
      s"""WITH $LshCalibSql,
        |er AS (SELECT CAST(CAST(round(exact_jaccard * 10000) AS BIGINT) // 1000
        |                AS BIGINT) AS band,
        |              abs(CAST(round(est_jaccard * 10000) AS BIGINT)
        |                  - CAST(round(exact_jaccard * 10000) AS BIGINT)) AS ae
        |       FROM j)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST((2 * sum(ae) + count(*)) // (2 * count(*)) AS BIGINT)
        |         AS mean_abs_err_ticks
        |FROM er GROUP BY 1 ORDER BY 1""".stripMargin),
    // Hamming spectrum of the simhash candidate pairs (radius tuning)
    Query("q302_simhash_census", (s, dir) =>
      Dedup.simhashHammingCensus(Tables.documents(s, dir)),
      // the q39/q41 portable simhash chain (sp), censused by distance
      s"""WITH $SimhashPairsSql
        |SELECT CAST(hamming AS BIGINT) AS hamming,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin),
    // shingle df mass in power-of-two bands (the maxDf knob card)
    Query("q303_df_spectrum", (s, dir) =>
      Dedup.shingleDfSpectrum(Tables.documents(s, dir)),
      // 5-gram shingle df in power-of-two bands — integer bit-length
      // banding on both engines (bin() is minimal-width in both)
      """WITH w AS (SELECT doc_id,
        |             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                         x -> x <> '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words) - 3),
        |                                       i -> array_to_string(words[i:i+4], ' '))) AS shingle
        |  FROM w WHERE len(words) >= 5) t),
        |d AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1)
        |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS df_band,
        |       CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(sum(df) AS BIGINT) AS n_postings
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
    // SimHash pairs past the 4-band completeness radius: multi-probe
    // (one-bit flips per band) reaches Hamming 6; oracle is brute
    // all-pairs over the same portable sketches, so the driver compare
    // proves probe completeness the way q304's does for banding
    Query("q306_multiprobe_simhash", (s, dir) =>
      Dedup.simhashPairsMultiProbe(Tables.documents(s, dir), maxHamming = 6)
        .orderBy("doc_a", "doc_b"),
      // INDEPENDENT brute all-pairs at Hamming <= 6 over the same
      // portable sketches — the driver compare proves the multi-probe
      // join's completeness past the 4-band radius (the q304 pattern)
      s"""WITH $SimhashPairsSql,
        |bp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |              CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))
        |                   + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS BIGINT)
        |                AS hamming
        |       FROM ssim a JOIN ssim b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM bp WHERE hamming <= 6
        |ORDER BY doc_a, doc_b""".stripMargin),
  )
}
