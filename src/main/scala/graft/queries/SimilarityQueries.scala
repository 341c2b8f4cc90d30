package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._

/** Vector similarity and ANN ([[graft.operators.Similarity]]):
  * Spark-native plans whose oracles replay the same plan-time literal
  * hyperplanes and centroids in SQL, so every row is hash-checked.
  */
object SimilarityQueries {

  /** Shared embedding-decomposition CTEs (e, dims, idx, comp, norms) —
    * single source of truth for the vector-search oracles q36/q44/q121/q122. */
  private val VecBaseSql: String =
    """e AS (SELECT vec_id, embedding FROM embeddings),
      |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
      |idx AS (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i),
      |comp AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      |         FROM e CROSS JOIN idx),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp GROUP BY vec_id),
      |nz AS (SELECT vec_id, nrm FROM norms WHERE nrm > 0)""".stripMargin

  /** Exact brute-force top-10 over the vec_id %% 100 = 0 query sample,
    * ending in brute(query_id, neighbor_id, cosine, rnk) — composes after
    * [[VecBaseSql]]. */
  private val BruteKnnSql: String =
    """qcomp AS (SELECT vec_id AS query_id, i, x FROM comp WHERE vec_id % 100 = 0),
      |bdots AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, sum(c.x * q.x) AS dp
      |  FROM comp c JOIN qcomp q ON c.i = q.i AND c.vec_id <> q.query_id
      |  GROUP BY q.query_id, c.vec_id),
      |bscored AS (
      |  SELECT d.query_id, d.neighbor_id,
      |         round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
      |  FROM bdots d
      |  JOIN nz nn ON nn.vec_id = d.neighbor_id
      |  JOIN nz nq ON nq.vec_id = d.query_id),
      |brute AS (SELECT * FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM bscored) t WHERE rnk <= 10)""".stripMargin

  /** IVF probe top-10 (16 deterministic seed lists, 4 probes) over the
    * same query sample, ending in ivf(query_id, neighbor_id, cosine, rnk)
    * — composes after [[VecBaseSql]]. */
  private val IvfKnnSql: String =
    """cent AS (
      |  SELECT vec_id AS cvid, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS list_id
      |  FROM (SELECT vec_id FROM nz ORDER BY vec_id LIMIT 16) t),
      |cdots AS (
      |  SELECT c.vec_id, ct.list_id, ct.cvid, sum(c.x * cc.x) AS dp
      |  FROM comp c CROSS JOIN cent ct
      |  JOIN comp cc ON cc.vec_id = ct.cvid AND cc.i = c.i
      |  GROUP BY c.vec_id, ct.list_id, ct.cvid),
      |csims AS (
      |  SELECT d.vec_id, d.list_id, d.dp / (nv.nrm * nc.nrm) AS csim
      |  FROM cdots d
      |  JOIN nz nv ON nv.vec_id = d.vec_id
      |  JOIN nz nc ON nc.vec_id = d.cvid),
      |cranked AS (
      |  SELECT vec_id, list_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, list_id) AS crank
      |  FROM csims),
      |assigned AS (SELECT vec_id, list_id FROM cranked WHERE crank = 1),
      |probes AS (SELECT vec_id AS query_id, list_id FROM cranked
      |           WHERE crank <= 4 AND vec_id % 100 = 0),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      |  FROM assigned a JOIN probes p ON a.list_id = p.list_id
      |                               AND a.vec_id <> p.query_id),
      |idots AS (
      |  SELECT c.query_id, c.neighbor_id, sum(ca.x * cb.x) AS dp
      |  FROM cand c
      |  JOIN comp ca ON ca.vec_id = c.neighbor_id
      |  JOIN comp cb ON cb.vec_id = c.query_id AND cb.i = ca.i
      |  GROUP BY c.query_id, c.neighbor_id),
      |iscored AS (
      |  SELECT d.query_id, d.neighbor_id, round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
      |  FROM idots d
      |  JOIN nz nn ON nn.vec_id = d.neighbor_id
      |  JOIN nz nq ON nq.vec_id = d.query_id),
      |ivf AS (SELECT * FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
      |  FROM iscored) t WHERE rnk <= 10)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Query("q36_knn_cosine", (s, dir) =>
      Similarity.knnCosineBrute(Tables.embeddings(s, dir), pmod(col("vec_id"), lit(100)) === 0)
        .orderBy("query_id", "rnk"),
      s"""WITH $VecBaseSql,
         |$BruteKnnSql
         |SELECT query_id, neighbor_id, cosine, rnk FROM brute
         |ORDER BY query_id, rnk""".stripMargin),
    Query("q37_embedding_dups", (s, dir) =>
      Similarity.cosineDupPairsBlocked(Tables.embeddings(s, dir), threshold = 0.3)
        .orderBy("vec_a", "vec_b"),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i),
        |comp AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |dots AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dp
        |  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY a.vec_id, b.vec_id),
        |scored AS (
        |  SELECT d.vec_a, d.vec_b, round(d.dp / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms na ON na.vec_id = d.vec_a
        |  JOIN norms nb ON nb.vec_id = d.vec_b)
        |SELECT vec_a, vec_b, cosine FROM scored
        |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin),
    Query("q47_embedding_dups_lsh", (s, dir) =>
      Similarity.cosineDupPairsLsh(Tables.embeddings(s, dir), threshold = 0.3)
        .orderBy("vec_a", "vec_b"),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(0, (SELECT d FROM dims))) AS j),
        |comp AS (SELECT vec_id, j, CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |tp AS (SELECT t, p FROM (SELECT unnest(range(0, 4)) AS t) a
        |       CROSS JOIN (SELECT unnest(range(0, 8)) AS p) b),
        |planes AS (
        |  SELECT t, p, j,
        |         CASE WHEN ('0x' || substr(md5('plane#' || CAST(p + t * 8 AS VARCHAR)
        |                       || '#' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 2 = 1
        |              THEN 1.0 ELSE -1.0 END AS c
        |  FROM tp CROSS JOIN idx),
        |proj AS (
        |  SELECT comp.vec_id, planes.t, planes.p, sum(comp.x * planes.c) AS s
        |  FROM comp JOIN planes ON planes.j = comp.j
        |  GROUP BY comp.vec_id, planes.t, planes.p),
        |buckets AS (
        |  SELECT vec_id, t,
        |         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
        |                              AND a.vec_id < b.vec_id),
        |dots AS (
        |  SELECT c.vec_a, c.vec_b, sum(ca.x * cb.x) AS dp
        |  FROM cand c
        |  JOIN comp ca ON ca.vec_id = c.vec_a
        |  JOIN comp cb ON cb.vec_id = c.vec_b AND cb.j = ca.j
        |  GROUP BY c.vec_a, c.vec_b),
        |scored AS (
        |  SELECT d.vec_a, d.vec_b, round(d.dp / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms na ON na.vec_id = d.vec_a
        |  JOIN norms nb ON nb.vec_id = d.vec_b)
        |SELECT vec_a, vec_b, cosine FROM scored
        |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin),
    Query("q42_ann_lsh", (s, dir) =>
      Similarity.annLshTopK(Tables.embeddings(s, dir), pmod(col("vec_id"), lit(100)) === 0)
        .orderBy("query_id", "rnk"),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(0, (SELECT d FROM dims))) AS j),
        |comp AS (SELECT vec_id, j, CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |tp AS (SELECT t, p FROM (SELECT unnest(range(0, 4)) AS t) a
        |       CROSS JOIN (SELECT unnest(range(0, 12)) AS p) b),
        |planes AS (
        |  SELECT t, p, j,
        |         CASE WHEN ('0x' || substr(md5('plane#' || CAST(p + t * 12 AS VARCHAR)
        |                       || '#' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 2 = 1
        |              THEN 1.0 ELSE -1.0 END AS c
        |  FROM tp CROSS JOIN idx),
        |proj AS (
        |  SELECT comp.vec_id, planes.t, planes.p, sum(comp.x * planes.c) AS s
        |  FROM comp JOIN planes ON planes.j = comp.j
        |  GROUP BY comp.vec_id, planes.t, planes.p),
        |buckets AS (
        |  SELECT vec_id, t,
        |         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id, t),
        |qb AS (SELECT vec_id AS query_id, t, bucket FROM buckets WHERE vec_id % 100 = 0),
        |cand AS (
        |  SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
        |  FROM buckets b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
        |                         AND b.vec_id <> qb.query_id),
        |dots AS (
        |  SELECT c.query_id, c.neighbor_id, sum(ca.x * cb.x) AS dp
        |  FROM cand c
        |  JOIN comp ca ON ca.vec_id = c.neighbor_id
        |  JOIN comp cb ON cb.vec_id = c.query_id AND cb.j = ca.j
        |  GROUP BY c.query_id, c.neighbor_id),
        |scored AS (
        |  SELECT d.query_id, d.neighbor_id, round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms nn ON nn.vec_id = d.neighbor_id
        |  JOIN norms nq ON nq.vec_id = d.query_id)
        |SELECT query_id, neighbor_id, cosine, rnk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    Query("q44_ann_ivf", (s, dir) =>
      Similarity.annIvfTopK(Tables.embeddings(s, dir), pmod(col("vec_id"), lit(100)) === 0)
        .orderBy("query_id", "rnk"),
      s"""WITH $VecBaseSql,
         |$IvfKnnSql
         |SELECT query_id, neighbor_id, cosine, rnk FROM ivf
         |ORDER BY query_id, rnk""".stripMargin),
    Query("q57_quantize_int8", (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir)).orderBy("vec_id", "i"),
      """WITH s AS (SELECT vec_id, embedding,
        |             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |      FROM embeddings),
        |x AS (SELECT vec_id, embedding, scale,
        |             unnest(range(1, len(embedding) + 1)) AS i
        |      FROM s)
        |SELECT vec_id, round(scale, 6) AS scale, CAST(i AS BIGINT) AS i,
        |       CASE WHEN scale > 0
        |            THEN CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) / scale + 0.5) AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS q
        |FROM x
        |ORDER BY vec_id, i""".stripMargin),
    // threshold 0.3 sits at the corpus's within-cluster p99 cosine, so the
    // keep verdict splits genuinely (≈1/3 of vectors marked dups at sf0.001)
    Query("q69_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), k = 8, threshold = 0.3)
        .orderBy("vec_id"),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |comp AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
        |  FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |         FROM (SELECT vec_id FROM norms ORDER BY vec_id LIMIT 8) t),
        |ccomp AS (SELECT cent.j, comp.i, comp.x
        |          FROM comp JOIN cent ON cent.cvid = comp.vec_id),
        |cnorm AS (SELECT j, sqrt(sum(x * x)) AS nrm FROM ccomp GROUP BY j),
        |cos AS (
        |  SELECT comp.vec_id, cc.j,
        |         round(sum(comp.x * cc.x) / (n1.nrm * n2.nrm), 6) AS c
        |  FROM comp JOIN ccomp cc ON cc.i = comp.i
        |  JOIN norms n1 ON n1.vec_id = comp.vec_id
        |  JOIN cnorm n2 ON n2.j = cc.j
        |  GROUP BY comp.vec_id, cc.j, n1.nrm, n2.nrm),
        |asg AS (SELECT vec_id, j AS cluster FROM (
        |          SELECT vec_id, j,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, j) AS rn
        |          FROM cos) t
        |        WHERE rn = 1),
        |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
        |      FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |pd AS (
        |  SELECT p.va, p.vb,
        |         round(sum(ca.x * cb.x) / (na.nrm * nb.nrm), 6) AS c
        |  FROM p JOIN comp ca ON ca.vec_id = p.va
        |         JOIN comp cb ON cb.vec_id = p.vb AND cb.i = ca.i
        |         JOIN norms na ON na.vec_id = p.va
        |         JOIN norms nb ON nb.vec_id = p.vb
        |  GROUP BY p.va, p.vb, na.nrm, nb.nrm),
        |dups AS (SELECT DISTINCT vb FROM pd WHERE c >= 0.3)
        |SELECT asg.vec_id, asg.cluster, (dups.vb IS NULL) AS keep
        |FROM asg LEFT JOIN dups ON dups.vb = asg.vec_id
        |ORDER BY asg.vec_id""".stripMargin),
    // contrastive hard negatives: top-k in the [0.05, 0.6) cosine band —
    // informative-but-not-duplicate, banded on the 6dp-rounded cosine
    Query("q89_hard_negatives", (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(50)) === 0, k = 10, lo = 0.05, hi = 0.6)
        .orderBy("query_id", "rnk"),
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i),
        |comp AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |qcomp AS (SELECT vec_id AS query_id, i, x FROM comp WHERE vec_id % 50 = 0),
        |dots AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, sum(c.x * q.x) AS dp
        |  FROM comp c JOIN qcomp q ON c.i = q.i AND c.vec_id <> q.query_id
        |  GROUP BY q.query_id, c.vec_id),
        |scored AS (
        |  SELECT d.query_id, d.neighbor_id,
        |         round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms nn ON nn.vec_id = d.neighbor_id
        |  JOIN norms nq ON nq.vec_id = d.query_id
        |  WHERE round(d.dp / (nn.nrm * nq.nrm), 6) >= 0.05
        |    AND round(d.dp / (nn.nrm * nq.nrm), 6) < 0.6)
        |SELECT query_id, neighbor_id, cosine, rnk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    // label-centroid cosine matrix: the class-separability card;
    // micro-tick-exact centroid sums, q36's 6dp cosine convention
    Query("q117_label_centroids", (s, dir) =>
      Similarity.labelCentroidMatrix(Tables.embeddings(s, dir))
        .orderBy("label_a", "label_b"),
      // micro-tick component sums -> exact centroids; pairwise cosine over
      // the (labels x dims) relation, q36's 6dp rounding
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |comp AS (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding,
        |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS t
        |  FROM e),
        |cent AS (SELECT label, i, CAST(sum(t) AS DOUBLE) / count(*) / 1000000.0 AS m
        |         FROM comp GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |             sum(a.m * b.m) AS dp, sum(a.m * a.m) AS na2, sum(b.m * b.m) AS nb2
        |      FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT label_a, label_b, round(dp / (sqrt(na2) * sqrt(nb2)), 6) AS cosine
        |FROM p ORDER BY label_a, label_b""".stripMargin),
    // ANN recall calibration: exact brute top-k ground truth vs the IVF
    // probe on the same query sample — the (nLists, nProbe) tuning loop
    Query("q121_ann_recall", (s, dir) =>
      Similarity.annRecallReport(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(100)) === 0).orderBy("query_id"),
      // brute ground truth LEFT JOIN the IVF retrieved set: recall@k per
      // query in HALF_UP integer basis points — single source of truth
      // with q36/q44 via the shared CTE constants
      s"""WITH $VecBaseSql,
         |$BruteKnnSql,
         |$IvfKnnSql,
         |j AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |         CAST(coalesce(sum(CASE WHEN v.neighbor_id IS NOT NULL
         |                                THEN 1 END), 0) AS BIGINT) AS n_hit
         |  FROM brute b LEFT JOIN ivf v ON v.query_id = b.query_id
         |                              AND v.neighbor_id = b.neighbor_id
         |  GROUP BY b.query_id)
         |SELECT query_id, n_exact, n_hit,
         |       (n_hit * 20000 + n_exact) // (2 * n_exact) AS recall_bp
         |FROM j ORDER BY query_id""".stripMargin),
    // one full-corpus Lloyd refinement pass over the deterministic seed
    // codebook — micro-tick member means, exact in any fold order
    Query("q122_kmeans_refine", (s, dir) =>
      Similarity.kmeansRefineStep(Tables.embeddings(s, dir), k = 8)
        .orderBy("cluster", "i"),
      // nearest-centroid assignment (rounded argmax, ties to lowest cell)
      // + per-dimension micro-tick means of unit-normalized members — one
      // full Lloyd refinement pass over the 8-seed codebook
      s"""WITH $VecBaseSql,
         |cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS j
         |         FROM (SELECT vec_id FROM nz ORDER BY vec_id LIMIT 8) t),
         |ccomp AS (SELECT cent.j, comp.i, comp.x
         |          FROM comp JOIN cent ON cent.cvid = comp.vec_id),
         |cnorm AS (SELECT j, sqrt(sum(x * x)) AS nrm FROM ccomp GROUP BY j),
         |cos AS (
         |  SELECT comp.vec_id, cc.j,
         |         round(sum(comp.x * cc.x) / (n1.nrm * n2.nrm), 6) AS c
         |  FROM comp JOIN ccomp cc ON cc.i = comp.i
         |  JOIN nz n1 ON n1.vec_id = comp.vec_id
         |  JOIN cnorm n2 ON n2.j = cc.j
         |  GROUP BY comp.vec_id, cc.j, n1.nrm, n2.nrm),
         |asg AS (SELECT vec_id, j AS cluster FROM (
         |          SELECT vec_id, j, c,
         |                 row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, j) AS rn
         |          FROM cos) t WHERE rn = 1),
         |u AS (
         |  SELECT a.cluster, comp.i,
         |         CASE WHEN n.nrm > 0
         |              THEN CAST(floor(round(comp.x / n.nrm, 6) * 1000000 + 0.5) AS BIGINT)
         |              ELSE 0 END AS t
         |  FROM asg a JOIN comp ON comp.vec_id = a.vec_id
         |  JOIN nz n ON n.vec_id = a.vec_id),
         |agg AS (SELECT cluster, CAST(i AS BIGINT) AS i,
         |               CAST(count(*) AS BIGINT) AS n_members,
         |               CAST(sum(t) AS BIGINT) AS s
         |        FROM u GROUP BY 1, 2)
         |SELECT cluster, i, n_members,
         |       (CAST(s AS DOUBLE) / n_members) / 1000000.0 AS c_new
         |FROM agg ORDER BY cluster, i""".stripMargin),
    // per-dimension mean/variance in exact integer ticks (decimal(38,0)
    // square sums) — the pre-whitening audit
    Query("q127_embedding_moments", (s, dir) =>
      Similarity.embeddingMoments(Tables.embeddings(s, dir)).orderBy("i"),
      // micro-tick component sums (s) and HUGEINT square sums (q) per dim;
      // mean and population variance fall out as exact-integer ratios
      s"""WITH $VecBaseSql,
         |tk AS (SELECT vec_id, i, CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS t FROM comp),
         |agg AS (SELECT CAST(i AS BIGINT) AS i, CAST(count(*) AS BIGINT) AS n_vecs,
         |               CAST(sum(t) AS BIGINT) AS s, sum(t * t) AS q
         |        FROM tk GROUP BY 1)
         |SELECT i, n_vecs,
         |       (CAST(s AS DOUBLE) / n_vecs) / 1000000.0 AS mean,
         |       (CAST(q AS DOUBLE) / n_vecs -
         |        (CAST(s AS DOUBLE) / n_vecs) * (CAST(s AS DOUBLE) / n_vecs))
         |         / 1000000000000.0 AS variance
         |FROM agg ORDER BY i""".stripMargin),
    // two power-iteration rounds toward the top principal direction —
    // each round one scan + a dims-row aggregate, norms from exact
    // integer square-sums
    Query("q128_power_iteration", (s, dir) =>
      Similarity.powerIterationTop(Tables.embeddings(s, dir), iters = 2)
        .orderBy("i"),
      // round 1: scores against the uniform 1/sqrt(d) start, per-dim tick
      // sums s1, norm from the exact integer square-sum; round 2 repeats
      // against the normalized round-1 direction
      s"""WITH $VecBaseSql,
         |u0 AS (SELECT 1.0 / sqrt(CAST(d AS DOUBLE)) AS u FROM dims),
         |p1 AS (SELECT vec_id, round(sum(x * (SELECT u FROM u0)), 6) AS p
         |       FROM comp GROUP BY vec_id),
         |s1 AS (SELECT c.i, CAST(sum(CAST(floor(c.x * p1.p * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
         |       FROM comp c JOIN p1 ON p1.vec_id = c.vec_id GROUP BY c.i),
         |n1 AS (SELECT sqrt(CAST(sum(s * s) AS DOUBLE) / 1000000000000.0) AS n FROM s1),
         |d1 AS (SELECT i, (CAST(s AS DOUBLE) / 1000000.0) / (SELECT n FROM n1) AS dir FROM s1),
         |p2 AS (SELECT c.vec_id, round(sum(c.x * d1.dir), 6) AS p
         |       FROM comp c JOIN d1 ON d1.i = c.i GROUP BY c.vec_id),
         |s2 AS (SELECT c.i, CAST(sum(CAST(floor(c.x * p2.p * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
         |       FROM comp c JOIN p2 ON p2.vec_id = c.vec_id GROUP BY c.i),
         |n2 AS (SELECT sqrt(CAST(sum(s * s) AS DOUBLE) / 1000000000000.0) AS n FROM s2)
         |SELECT CAST(i AS BIGINT) AS i,
         |       floor(((CAST(s AS DOUBLE) / 1000000.0) / (SELECT n FROM n2)) * 1000000 + 0.5)
         |         / 1000000.0 AS component,
         |       floor((SELECT n FROM n2) * 1000000 + 0.5) / 1000000.0 AS growth
         |FROM s2 ORDER BY i""".stripMargin),
    // embedding-table health audit: per (dim, 0.25-norm-bucket) counts,
    // zero-norm degenerates, micro-tick-exact norm extrema
    Query("q109_embedding_audit", (s, dir) =>
      Similarity.embeddingAudit(Tables.embeddings(s, dir))
        .orderBy("dim", "norm_bucket"),
      // q36's component/norm CTEs; extrema on micro ticks like the engine
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i),
        |comp AS (SELECT vec_id, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp GROUP BY vec_id),
        |t AS (SELECT CAST(len(e.embedding) AS BIGINT) AS dim,
        |             CAST(floor(n.nrm * 4) AS BIGINT) AS norm_bucket,
        |             CAST(floor(n.nrm * 1000000 + 0.5) AS BIGINT) AS nt
        |      FROM e JOIN norms n ON n.vec_id = e.vec_id)
        |SELECT dim, norm_bucket, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       min(nt) / 1e6 AS min_norm, max(nt) / 1e6 AS max_norm
        |FROM t GROUP BY 1, 2 ORDER BY dim, norm_bucket""".stripMargin),
    // IVF cell-quality report over q69's deterministic cells: member
    // counts + integer-micro inertia (mean/max cosine distance)
    Query("q102_ivf_cells", (s, dir) =>
      Similarity.ivfCellReport(Tables.embeddings(s, dir), k = 8)
        .orderBy("cluster"),
      // q69's assignment chain, then integer-micro inertia per cell
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |comp AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
        |  FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |         FROM (SELECT vec_id FROM norms ORDER BY vec_id LIMIT 8) t),
        |ccomp AS (SELECT cent.j, comp.i, comp.x
        |          FROM comp JOIN cent ON cent.cvid = comp.vec_id),
        |cnorm AS (SELECT j, sqrt(sum(x * x)) AS nrm FROM ccomp GROUP BY j),
        |cos AS (
        |  SELECT comp.vec_id, cc.j,
        |         round(sum(comp.x * cc.x) / (n1.nrm * n2.nrm), 6) AS c
        |  FROM comp JOIN ccomp cc ON cc.i = comp.i
        |  JOIN norms n1 ON n1.vec_id = comp.vec_id
        |  JOIN cnorm n2 ON n2.j = cc.j
        |  GROUP BY comp.vec_id, cc.j, n1.nrm, n2.nrm),
        |asg AS (SELECT vec_id, j AS cluster, c FROM (
        |          SELECT vec_id, j, c,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, j) AS rn
        |          FROM cos) t
        |        WHERE rn = 1),
        |dd AS (SELECT cluster, CAST(floor((1 - c) * 1000000 + 0.5) AS BIGINT) AS d
        |       FROM asg),
        |agg AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
        |               CAST(sum(d) AS BIGINT) AS sd, CAST(max(d) AS BIGINT) AS md
        |        FROM dd GROUP BY 1)
        |SELECT cluster, n_vectors,
        |       ((2 * sd + n_vectors) // (2 * n_vectors)) / 1000000.0 AS mean_dist,
        |       md / 1000000.0 AS max_dist
        |FROM agg ORDER BY cluster""".stripMargin),
    // filtered vector search (pre-filter semantics): every query's k
    // best matches FROM the odd-label candidate set — queries are drawn
    // unfiltered, so the predicate genuinely reshapes each result list
    Query("q100_knn_filtered", (s, dir) =>
      Similarity.knnCosineFiltered(Tables.embeddings(s, dir),
        queryPred = pmod(col("vec_id"), lit(100)) === 0,
        candidatePred = pmod(col("label"), lit(2)) === 1)
        .orderBy("query_id", "rnk"),
      // q36's brute-cosine chain with the candidate side label-filtered
      // (queries drawn unfiltered — pre-filter semantics)
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS d FROM e),
        |idx AS (SELECT unnest(range(1, (SELECT d FROM dims) + 1)) AS i),
        |comp AS (SELECT vec_id, label, i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |         FROM e CROSS JOIN idx),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |qcomp AS (SELECT vec_id AS query_id, i, x FROM comp WHERE vec_id % 100 = 0),
        |dots AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id, sum(c.x * q.x) AS dp
        |  FROM comp c JOIN qcomp q ON c.i = q.i AND c.vec_id <> q.query_id
        |  WHERE c.label % 2 = 1
        |  GROUP BY q.query_id, c.vec_id),
        |scored AS (
        |  SELECT d.query_id, d.neighbor_id,
        |         round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms nn ON nn.vec_id = d.neighbor_id
        |  JOIN norms nq ON nq.vec_id = d.query_id)
        |SELECT query_id, neighbor_id, cosine, rnk FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM scored) t
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    // int8 quantization acceptance gate: per-vector |x − q·scale| error
    // stats in exact micro-ticks
    Query("q205_int8_recon_error", (s, dir) =>
      Similarity.reconstructionError(Tables.embeddings(s, dir))
        .orderBy("vec_id"),
      // identical IEEE double chain: scale = max|x|/127, q = floor(x/s+0.5),
      // micro-tick |x − q·s| fixed per dim before the per-vector sums
      """WITH e AS (SELECT vec_id,
        |                 list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        |          FROM embeddings),
        |sc AS (SELECT vec_id, emb,
        |              list_max(list_transform(emb, v -> abs(v))) / 127.0 AS s
        |       FROM e),
        |t AS (SELECT vec_id,
        |             unnest(list_transform(emb, x ->
        |               CASE WHEN s > 0
        |                    THEN CAST(floor(abs(x - floor(x / s + 0.5) * s)
        |                           * 1000000 + 0.5) AS BIGINT)
        |                    ELSE 0 END)) AS tick
        |      FROM sc)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
        |       CAST(max(tick) AS BIGINT) AS max_err_ticks,
        |       CAST(sum(tick) AS BIGINT) AS sum_err_ticks,
        |       CAST((2 * sum(tick) + count(*)) // (2 * count(*)) AS BIGINT)
        |         AS mean_err_ticks
        |FROM t GROUP BY 1 ORDER BY vec_id""".stripMargin),
    // matryoshka audit: recall@10 of first-8-dims cosine search vs the
    // full-dimension ground truth, floor-bp per query
    Query("q206_dim_slice_recall", (s, dir) =>
      Similarity.dimSliceRecall(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(100)) === 0).orderBy("query_id"),
      // full-dim ground truth from the shared brute chain; the sliced side
      // repeats it over i <= 8; recall joined per (query, neighbor)
      s"""WITH $VecBaseSql,
        |$BruteKnnSql,
        |scomp AS (SELECT vec_id, i, x FROM comp WHERE i <= 8),
        |snorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM scomp GROUP BY 1),
        |sq AS (SELECT vec_id AS query_id, i, x FROM scomp WHERE vec_id % 100 = 0),
        |sdots AS (SELECT q.query_id, c.vec_id AS neighbor_id, sum(c.x * q.x) AS dp
        |          FROM scomp c JOIN sq q ON c.i = q.i AND c.vec_id <> q.query_id
        |          GROUP BY 1, 2),
        |sscored AS (SELECT d.query_id, d.neighbor_id,
        |                   round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
        |            FROM sdots d
        |            JOIN snorms nn ON nn.vec_id = d.neighbor_id
        |            JOIN snorms nq ON nq.vec_id = d.query_id),
        |slow AS (SELECT query_id, neighbor_id FROM (
        |           SELECT query_id, neighbor_id,
        |                  row_number() OVER (PARTITION BY query_id
        |                    ORDER BY cosine DESC, neighbor_id) AS rnk
        |           FROM sscored) t WHERE rnk <= 10)
        |SELECT b.query_id,
        |       CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_hit,
        |       CAST((sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |             * 10000) // count(*) AS BIGINT) AS recall_bp
        |FROM brute b LEFT JOIN slow s ON s.query_id = b.query_id
        |                             AND s.neighbor_id = b.neighbor_id
        |GROUP BY 1 ORDER BY b.query_id""".stripMargin),
    // embedding anisotropy: (v, v+250) pair cosines bucketed by
    // floor(cos·10), share of pairs per bucket
    Query("q213_cosine_histogram", (s, dir) =>
      Similarity.cosinePairHistogram(Tables.embeddings(s, dir))
        .orderBy("bucket"),
      // same (v, v+250) pair rule over the shared component CTEs; cos 6dp
      // then floor(cos·10) buckets; zero norms → bucket 0
      s"""WITH $VecBaseSql,
        |pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |          FROM e a JOIN e b ON b.vec_id = a.vec_id + 250),
        |dots AS (SELECT p.ia, p.ib, sum(ca.x * cb.x) AS dp
        |         FROM pairs p
        |         JOIN comp ca ON ca.vec_id = p.ia
        |         JOIN comp cb ON cb.vec_id = p.ib AND cb.i = ca.i
        |         GROUP BY 1, 2),
        |coss AS (SELECT CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
        |                     ELSE round(d.dp / (na.nrm * nb.nrm), 6) END AS cos
        |         FROM dots d
        |         JOIN norms na ON na.vec_id = d.ia
        |         JOIN norms nb ON nb.vec_id = d.ib),
        |h AS (SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
        |             CAST(count(*) AS BIGINT) AS n_pairs
        |      FROM coss GROUP BY 1)
        |SELECT bucket, n_pairs,
        |       CAST((n_pairs * 10000) // (sum(n_pairs) OVER ()) AS BIGINT)
        |         AS share_bp
        |FROM h ORDER BY bucket""".stripMargin),
    // semantic decontamination: best benchmark cosine per corpus
    // vector, broadcast bench side, struct-extreme argmax
    Query("q238_semantic_decontam", (s, dir) =>
      Similarity.semanticDecontamination(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(50)) === 0, threshold = 0.2),
      // zero-norm vectors excluded on both sides; argmax ties → lowest
      // bench id; flag compares the 6dp-rounded cosine
      s"""WITH $VecBaseSql,
        |pn AS (SELECT vec_id FROM norms WHERE nrm > 0),
        |bcomp AS (SELECT c.vec_id, i, x FROM comp c JOIN pn USING (vec_id)
        |          WHERE c.vec_id % 50 = 0),
        |ccomp AS (SELECT c.vec_id, i, x FROM comp c JOIN pn USING (vec_id)
        |          WHERE c.vec_id % 50 <> 0),
        |dots AS (SELECT c.vec_id, b.vec_id AS bench_id, sum(c.x * b.x) AS dp
        |         FROM ccomp c JOIN bcomp b ON b.i = c.i GROUP BY 1, 2),
        |sc AS (SELECT d.vec_id, d.bench_id,
        |              round(d.dp / (nc.nrm * nb.nrm), 6) AS cosine
        |       FROM dots d
        |       JOIN norms nc ON nc.vec_id = d.vec_id
        |       JOIN norms nb ON nb.vec_id = d.bench_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cosine DESC, bench_id) AS rn FROM sc)
        |SELECT vec_id, bench_id AS best_bench_id, cosine,
        |       cosine >= 0.2 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    // mutual-kNN graph: reciprocal exact top-5 pairs within the sample
    Query("q239_mutual_knn", (s, dir) =>
      Similarity.mutualKnnPairs(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(10)) === 0, k = 5),
      // reciprocal exact top-5 within the sample; pairs emit once with
      // both directed ranks
      s"""WITH $VecBaseSql,
        |scomp AS (SELECT vec_id, i, x FROM comp WHERE vec_id % 10 = 0),
        |sdots AS (SELECT b.vec_id AS qa, a.vec_id AS qb, sum(b.x * a.x) AS dp
        |          FROM scomp b JOIN scomp a ON a.i = b.i
        |            AND b.vec_id <> a.vec_id
        |          GROUP BY 1, 2),
        |ss AS (SELECT qa, qb, round(dp / (na.nrm * nb.nrm), 6) AS cosine
        |       FROM sdots JOIN norms na ON na.vec_id = qa
        |                  JOIN norms nb ON nb.vec_id = qb),
        |rk AS (SELECT qa, qb, cosine,
        |              CAST(row_number() OVER (PARTITION BY qa
        |                ORDER BY cosine DESC, qb) AS BIGINT) AS rnk
        |       FROM ss),
        |top AS (SELECT * FROM rk WHERE rnk <= 5)
        |SELECT t1.qa AS vec_a, t1.qb AS vec_b, t1.cosine AS cosine,
        |       t1.rnk AS rnk_ab, t2.rnk AS rnk_ba
        |FROM top t1 JOIN top t2 ON t2.qa = t1.qb AND t2.qb = t1.qa
        |WHERE t1.qa < t1.qb ORDER BY 1, 2""".stripMargin),
    // train/serve-skew check: even vs odd half-centroid cosine per
    // label via scale-invariant integer sum vectors
    Query("q252_embedding_drift", (s, dir) =>
      Similarity.embeddingDrift(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(2)) === 0),
      // half-centroid cosine = sum-vector cosine; HUGEINT micro-tick sums,
      // one final double; degenerate half → defined 0.0
      s"""WITH $VecBaseSql,
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |               vec_id % 2 AS g
        |        FROM embeddings),
        |tick AS (SELECT l.label, l.g, c.i,
        |                CAST(floor(c.x * 1000000 + 0.5) AS BIGINT) AS t
        |         FROM comp c JOIN lab l USING (vec_id)),
        |s AS (SELECT label, g, i, CAST(sum(t) AS HUGEINT) AS s2
        |      FROM tick GROUP BY 1, 2, 3),
        |cnt AS (SELECT label,
        |               CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |        FROM lab GROUP BY 1),
        |p AS (SELECT a.label, sum(a.s2 * b.s2) AS dp,
        |             sum(a.s2 * a.s2) AS na2, sum(b.s2 * b.s2) AS nb2
        |      FROM s a JOIN s b ON b.label = a.label AND b.i = a.i
        |                        AND a.g = 0 AND b.g = 1
        |      GROUP BY 1)
        |SELECT c.label, c.n_a, c.n_b,
        |       CASE WHEN p.na2 IS NULL OR p.na2 = 0 OR p.nb2 = 0 THEN 0.0
        |            ELSE round(CAST(p.dp AS DOUBLE) /
        |                   (sqrt(CAST(p.na2 AS DOUBLE)) *
        |                    sqrt(CAST(p.nb2 AS DOUBLE))), 6) END AS drift_cosine
        |FROM cnt c LEFT JOIN p USING (label) ORDER BY label""".stripMargin),
    // nearest-centroid classifier accuracy per label — the
    // label-separability eval over exact micro-tick centroids
    Query("q199_centroid_accuracy", (s, dir) =>
      Similarity.nearestCentroidAccuracy(Tables.embeddings(s, dir))
        // null label is a real group; pin to DuckDB's NULLS LAST
        .orderBy(col("label").asc_nulls_last),
      // exact micro-tick centroids, 6dp cosine BEFORE the argmax rank,
      // zero norms → 0.0
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
        |           FROM embeddings),
        |ccomp AS (SELECT label AS clabel,
        |                 unnest(range(1, len(embedding) + 1)) AS i,
        |                 unnest(list_transform(embedding,
        |                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
        |                     AS BIGINT))) AS t
        |          FROM e),
        |cent AS (SELECT clabel, i,
        |                CAST(sum(t) AS DOUBLE) / count(*) / 1000000.0 AS m
        |         FROM ccomp GROUP BY 1, 2),
        |cn AS (SELECT clabel, sqrt(sum(m * m)) AS nc FROM cent GROUP BY 1),
        |vcomp AS (SELECT vec_id, label AS true_label,
        |                 unnest(range(1, len(embedding) + 1)) AS i,
        |                 unnest(list_transform(embedding,
        |                   v -> CAST(v AS DOUBLE))) AS x
        |          FROM e),
        |vn AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM vcomp GROUP BY 1),
        |dp AS (SELECT v.vec_id, v.true_label, c.clabel, sum(v.x * c.m) AS dp
        |       FROM vcomp v JOIN cent c ON c.i = v.i GROUP BY 1, 2, 3),
        |sc AS (SELECT dp.vec_id, dp.true_label, dp.clabel,
        |              CASE WHEN vn.nv * cn.nc = 0 THEN 0.0
        |                   ELSE round(dp.dp / (vn.nv * cn.nc), 6) END AS cos
        |       FROM dp JOIN vn ON vn.vec_id = dp.vec_id
        |               JOIN cn ON cn.clabel = dp.clabel),
        |pred AS (SELECT vec_id, true_label, clabel,
        |                row_number() OVER (PARTITION BY vec_id
        |                  ORDER BY cos DESC, clabel ASC) AS rk
        |         FROM sc)
        |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(CASE WHEN clabel = true_label THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_correct,
        |       CAST((sum(CASE WHEN clabel = true_label THEN 1 ELSE 0 END) * 10000)
        |            // count(*) AS BIGINT) AS acc_bp
        |FROM pred WHERE rk = 1 GROUP BY 1 ORDER BY label""".stripMargin),
    // label-noise candidates: worst-20 own-centroid-minus-best-rival
    // cosine margins (negative = another class explains the vector
    // better than its own label)
    Query("q290_label_margin", (s, dir) =>
      Similarity.labelMarginWorst(Tables.embeddings(s, dir)).orderBy("rank"),
      // q199's centroid/cosine chain + own-minus-best-rival micro margin,
      // worst-20 by (margin asc, vec_id)
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
        |           FROM embeddings WHERE label IS NOT NULL),
        |ccomp AS (SELECT label AS clabel,
        |                 unnest(range(1, len(embedding) + 1)) AS i,
        |                 unnest(list_transform(embedding,
        |                   v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5)
        |                     AS BIGINT))) AS t
        |          FROM e),
        |cent AS (SELECT clabel, i,
        |                CAST(sum(t) AS DOUBLE) / count(*) / 1000000.0 AS m
        |         FROM ccomp GROUP BY 1, 2),
        |cn AS (SELECT clabel, sqrt(sum(m * m)) AS nc FROM cent GROUP BY 1),
        |vcomp AS (SELECT vec_id, label,
        |                 unnest(range(1, len(embedding) + 1)) AS i,
        |                 unnest(list_transform(embedding,
        |                   v -> CAST(v AS DOUBLE))) AS x
        |          FROM e),
        |vn AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM vcomp GROUP BY 1),
        |dp AS (SELECT v.vec_id, v.label, c.clabel, sum(v.x * c.m) AS dp
        |       FROM vcomp v JOIN cent c ON c.i = v.i GROUP BY 1, 2, 3),
        |sc AS (SELECT dp.vec_id, dp.label, dp.clabel,
        |              CASE WHEN vn.nv * cn.nc = 0 THEN 0.0
        |                   ELSE round(dp.dp / (vn.nv * cn.nc), 6) END AS cos
        |       FROM dp JOIN vn ON vn.vec_id = dp.vec_id
        |               JOIN cn ON cn.clabel = dp.clabel),
        |own AS (SELECT vec_id, cos AS own_cos FROM sc WHERE clabel = label),
        |riv AS (SELECT vec_id, label, clabel, cos,
        |               row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY cos DESC, clabel) AS rn
        |        FROM sc WHERE clabel <> label),
        |m AS (SELECT r.vec_id, r.label, r.clabel AS rival_label,
        |             CAST(round(o.own_cos * 1000000) - round(r.cos * 1000000)
        |               AS BIGINT) AS margin_micro
        |      FROM riv r JOIN own o USING (vec_id) WHERE r.rn = 1),
        |t AS (SELECT *, CAST(row_number() OVER (ORDER BY margin_micro, vec_id)
        |               AS BIGINT) AS rank FROM m)
        |SELECT rank, vec_id, label, rival_label, margin_micro
        |FROM t WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // unsupervised-vs-labels agreement: majority-label share per
    // deterministic Voronoi cell (zero-norm and unlabeled excluded)
    Query("q294_cluster_purity", (s, dir) =>
      Similarity.clusterLabelPurity(Tables.embeddings(s, dir)),
      // q102's assignment chain over labeled non-zero vectors + majority
      // label via (count desc, label asc) rank; HALF_UP bp
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl, embedding
        |           FROM embeddings WHERE label IS NOT NULL),
        |comp AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
        |  FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM comp
        |          GROUP BY vec_id HAVING sum(x * x) > 0),
        |cent AS (SELECT vec_id AS cvid, row_number() OVER (ORDER BY vec_id) - 1 AS j
        |         FROM (SELECT vec_id FROM norms ORDER BY vec_id LIMIT 8) t),
        |ccomp AS (SELECT cent.j, comp.i, comp.x
        |          FROM comp JOIN cent ON cent.cvid = comp.vec_id),
        |cnorm AS (SELECT j, sqrt(sum(x * x)) AS nrm FROM ccomp GROUP BY j),
        |cos AS (
        |  SELECT comp.vec_id, cc.j,
        |         round(sum(comp.x * cc.x) / (n1.nrm * n2.nrm), 6) AS c
        |  FROM comp JOIN ccomp cc ON cc.i = comp.i
        |  JOIN norms n1 ON n1.vec_id = comp.vec_id
        |  JOIN cnorm n2 ON n2.j = cc.j
        |  GROUP BY comp.vec_id, cc.j, n1.nrm, n2.nrm),
        |asg AS (SELECT vec_id, j AS cluster FROM (
        |          SELECT vec_id, j, c,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, j) AS rn
        |          FROM cos) t WHERE rn = 1),
        |g AS (SELECT a.cluster, e.lbl, CAST(count(*) AS BIGINT) AS c
        |      FROM asg a JOIN e USING (vec_id) GROUP BY 1, 2),
        |m AS (SELECT cluster, lbl, c,
        |             row_number() OVER (PARTITION BY cluster
        |               ORDER BY c DESC, lbl) AS rn,
        |             CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n
        |      FROM g)
        |SELECT cluster, n AS n_vectors, lbl AS majority_label,
        |       (20000 * c + n) // (2 * n) AS purity_bp
        |FROM m WHERE rn = 1 ORDER BY cluster""".stripMargin),
    // recall@10 vs probes bought: micro-averaged IVF recall per nProbe
    // against the shared exact brute top-k
    Query("q297_ivf_probe_curve", (s, dir) =>
      Similarity.ivfProbeCurve(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(100)) === 0),
      // the shared IVF chain with a probe grid folded into the rank
      // filter; recall micro-averaged over summed hit/exact counts
      s"""WITH $VecBaseSql,
        |$BruteKnnSql,
        |cent2 AS (SELECT vec_id AS cvid,
        |                 CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS list_id
        |          FROM (SELECT vec_id FROM nz ORDER BY vec_id LIMIT 16) t),
        |cdots2 AS (SELECT c.vec_id, ct.list_id, ct.cvid, sum(c.x * cc.x) AS dp
        |           FROM comp c CROSS JOIN cent2 ct
        |           JOIN comp cc ON cc.vec_id = ct.cvid AND cc.i = c.i
        |           GROUP BY c.vec_id, ct.list_id, ct.cvid),
        |csims2 AS (SELECT d.vec_id, d.list_id, d.dp / (nv.nrm * nc.nrm) AS csim
        |           FROM cdots2 d JOIN nz nv ON nv.vec_id = d.vec_id
        |                         JOIN nz nc ON nc.vec_id = d.cvid),
        |cranked2 AS (SELECT vec_id, list_id,
        |                    row_number() OVER (PARTITION BY vec_id
        |                      ORDER BY csim DESC, list_id) AS crank
        |             FROM csims2),
        |assigned2 AS (SELECT vec_id, list_id FROM cranked2 WHERE crank = 1),
        |pgrid AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS n_probe),
        |probes2 AS (SELECT g.n_probe, c.vec_id AS query_id, c.list_id
        |            FROM cranked2 c CROSS JOIN pgrid g
        |            WHERE c.crank <= g.n_probe AND c.vec_id % 100 = 0),
        |cand2 AS (SELECT DISTINCT p.n_probe, p.query_id, a.vec_id AS neighbor_id
        |          FROM assigned2 a JOIN probes2 p ON a.list_id = p.list_id
        |                                        AND a.vec_id <> p.query_id),
        |idots2 AS (SELECT c.n_probe, c.query_id, c.neighbor_id,
        |                  sum(ca.x * cb.x) AS dp
        |           FROM cand2 c
        |           JOIN comp ca ON ca.vec_id = c.neighbor_id
        |           JOIN comp cb ON cb.vec_id = c.query_id AND cb.i = ca.i
        |           GROUP BY 1, 2, 3),
        |iscored2 AS (SELECT d.n_probe, d.query_id, d.neighbor_id,
        |                    round(d.dp / (nn.nrm * nq.nrm), 6) AS cosine
        |             FROM idots2 d
        |             JOIN nz nn ON nn.vec_id = d.neighbor_id
        |             JOIN nz nq ON nq.vec_id = d.query_id),
        |ivf2 AS (SELECT * FROM (
        |  SELECT n_probe, query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY n_probe, query_id
        |           ORDER BY cosine DESC, neighbor_id) AS rnk
        |  FROM iscored2) t WHERE rnk <= 10),
        |jj AS (SELECT g.n_probe, b.query_id, CAST(count(*) AS BIGINT) AS n_exact,
        |              CAST(coalesce(sum(CASE WHEN v.neighbor_id IS NOT NULL
        |                                     THEN 1 END), 0) AS BIGINT) AS n_hit
        |       FROM pgrid g CROSS JOIN brute b
        |       LEFT JOIN ivf2 v ON v.n_probe = g.n_probe
        |                       AND v.query_id = b.query_id
        |                       AND v.neighbor_id = b.neighbor_id
        |       GROUP BY 1, 2)
        |SELECT n_probe, CAST(count(*) AS BIGINT) AS n_queries,
        |       CAST(sum(n_exact) AS BIGINT) AS n_exact,
        |       CAST(sum(n_hit) AS BIGINT) AS n_hit,
        |       CAST((sum(n_hit) * 20000 + sum(n_exact)) // (2 * sum(n_exact))
        |         AS BIGINT) AS recall_bp
        |FROM jj GROUP BY 1 ORDER BY n_probe""".stripMargin),
  )
}
