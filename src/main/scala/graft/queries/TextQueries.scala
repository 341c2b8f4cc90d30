package graft
package queries

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._

/** Text analysis and corpus preparation ([[graft.operators.TextAnalysis]],
  * [[graft.operators.CorpusPrep]]), with the bench-only production-hash
  * twins next to the queries they twin.
  */
object TextQueries {

  /** q98's mixture config: one source kept whole, one dropped whole,
    * the long tail half-sampled — chosen so the manifest diff exercises
    * unchanged, added, AND changed cells. */
  private val DiffRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.0)

  /** q68's mixture config: named-source rates over the corpus's src0..19
    * with a default for the long tail — integer cuts land on exact
    * hundredths so the oracle replays them as literals. */
  private val MixtureRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25)

  /** q66's fixture: rebuild each document as newline-delimited 8-token
    * lines (the corpus carries no natural newlines). The SQL twin is
    * [[LineifySql]]. */
  private def lineified(docs: DataFrame): DataFrame = {
    val w = TextAnalysis.tokens(TextAnalysis.asciiLower(col("text")))
    docs.where(size(w) > 0)
      .select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), floor((size(w) - 1).cast("double") / 8).cast("int")),
            i => array_join(slice(w, i * 8 + 1, lit(8)), " ")),
          "\n").as("text"))
  }

  /** Deterministic PII decoration for q60/q63: id-selected docs gain an
    * email / phone / IP span derived from the id, so expected counts and
    * redactions are recomputable in any engine without real PII data. */
  private def piiDecorated(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(250)).cast("string"), lit(".25")))
          .otherwise(lit(""))).as("text"))

  /** BM25 chain for the literal ('join','filter','merge') query, ending in
    * `bmtop(doc_id, s, rank)` — the single source of truth for q201/q204. */
  private val Bm25Sql: String =
    """toks AS (SELECT doc_id,
      |                unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
      |                  x -> x <> '')) AS tok
      |         FROM documents),
      |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
      |         FROM toks GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS l
      |       FROM lens),
      |btf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      |        WHERE tok IN ('join', 'filter', 'merge') GROUP BY 1, 2),
      |bdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY 1),
      |term AS (SELECT btf.doc_id,
      |                CAST(floor(
      |                  ln((CAST(st.n AS DOUBLE) - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
      |                  * (btf.tf * 2.2)
      |                  / (btf.tf + 1.2 * (0.25 + 0.75 * lens.len
      |                      / (CAST(st.l AS DOUBLE) / st.n)))
      |                  * 1000000 + 0.5) AS BIGINT) AS t
      |         FROM btf JOIN bdf ON bdf.tok = btf.tok
      |                  JOIN lens ON lens.doc_id = btf.doc_id
      |                  CROSS JOIN st),
      |sc AS (SELECT doc_id, CAST(sum(t) AS BIGINT) AS s FROM term GROUP BY 1),
      |bmtop AS (SELECT doc_id, s,
      |                 CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC)
      |                   AS BIGINT) AS rank
      |          FROM sc)""".stripMargin

  /** q67's hashed-classifier score chain ending in scored(doc_id,
    * score) — single source of truth for q221/q246. */
  private val ClassifierScoreSql: String =
    """tok AS (SELECT doc_id,
        |          unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                             x -> x <> '')) AS token
        |        FROM documents),
        |wts AS (SELECT doc_id,
        |          (('0x' || substr(md5('w:' ||
        |              CAST((('0x' || substr(md5(token), 1, 8))::BIGINT % 1024) AS VARCHAR)),
        |            1, 8))::BIGINT / 2147483648.0) - 1.0 AS w
        |        FROM tok),
        |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS raw FROM wts GROUP BY 1),
        |scored AS (SELECT d.doc_id,
        |                  coalesce(round(raw / n_tokens, 6), 0.0) AS score
        |           FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)""".stripMargin

  /** The SQL twin of [[lineified]]: documents rebuilt as newline-delimited
    * 8-token lines (CTE `d`). */
  private val LineifySql: String =
    """w AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |         array_to_string(list_transform(range(0, (len(words) - 1) // 8 + 1),
      |           i -> array_to_string(words[i * 8 + 1 : i * 8 + 8], ' ')), chr(10)) AS text
      |  FROM w WHERE len(words) > 0)""".stripMargin

  /** The SQL twin of [[piiDecorated]]'s text expression. */
  private val PiiDecorateSql: String =
    "text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.25' ELSE '' END"

  val entries: Seq[Entry] = Seq(
    // oracle instantiation: md5-portable base at 16×8 so DuckDB can replay
    // the MinHash arithmetic; production default is the xxhash base (spec-
    // covered to keep the same survivor set on the fixture corpus)
    Query("q52_corpus_prep", (s, dir) =>
      CorpusPrep.prepare(Tables.documents(s, dir), numPerms = 16, bands = 8,
        base = HashBase.Md5).orderBy("doc_id"),
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
        |    CAST(CAST(CASE
        |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
        |      WHEN n_toks = 0 THEN
        |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
        |          // (2 * n_chars)
        |      ELSE 25 * least(n_toks, 200)
        |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
        |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
        |                + 2000 * n_toks * n_chars)
        |           + n_toks * n_chars)
        |          // (2 * n_toks * n_chars)
        |    END AS BIGINT) AS DOUBLE) / 10000.0 AS quality
        |  FROM t),
        |ls AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents),
        |lang AS (
        |  SELECT doc_id, CASE
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang
        |  FROM ls),
        |fp AS (SELECT doc_id, md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fingerprint
        |       FROM documents),
        |canon AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint),
        |w AS (
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
        |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
        |          UNION SELECT doc_b, doc_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
        |dropped AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING least(src, min(dst)) < src)
        |SELECT q.doc_id, q.n_tokens, q.quality
        |FROM qual q
        |JOIN lang l ON l.doc_id = q.doc_id AND l.predicted_lang = 'en'
        |JOIN fp ON fp.doc_id = q.doc_id
        |JOIN canon c ON c.fingerprint = fp.fingerprint AND c.keep_id = q.doc_id
        |WHERE q.quality >= 0.4
        |  AND NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = q.doc_id)
        |ORDER BY q.doc_id""".stripMargin),
    Query("q30_token_stats", (s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces,
        |  round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) > 0
        |    THEN list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
        |           x -> CAST(length(x) AS DOUBLE)))
        |         / CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE)
        |    ELSE 0.0 END, 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q31_quality_score", (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN n_chars > 0
        |    THEN (2 * n_punct * 10000 + n_chars) // (2 * n_chars) ELSE 0 END
        |    AS DOUBLE) / 10000.0 AS punct_ratio,
        |  CAST(CASE WHEN n_chars > 0
        |    THEN (2 * n_digit * 10000 + n_chars) // (2 * n_chars) ELSE 0 END
        |    AS DOUBLE) / 10000.0 AS digit_ratio,
        |  CAST(CASE WHEN n_toks > 0
        |    THEN (2 * n_stop * 10000 + n_toks) // (2 * n_toks) ELSE 0 END
        |    AS DOUBLE) / 10000.0 AS stopword_ratio,
        |  CAST(n_toks AS BIGINT) AS n_tokens,
        |  CAST(CAST(CASE
        |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
        |      WHEN n_toks = 0 THEN
        |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
        |          // (2 * n_chars)
        |      ELSE 25 * least(n_toks, 200)
        |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
        |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
        |                + 2000 * n_toks * n_chars)
        |           + n_toks * n_chars)
        |          // (2 * n_toks * n_chars)
        |    END AS BIGINT) AS DOUBLE) / 10000.0 AS quality
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("q32_lang_id", (s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q33_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        |  md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS fingerprint,
        |  CAST(length(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q45_winnowing", (s, dir) =>
      // exploded to scalar (doc_id, fingerprint) rows so the driver's
      // column-sorting compare can hash them (arrays are unhashable there)
      TextAnalysis.winnowingFingerprints(Tables.documents(s, dir))
        .select(col("doc_id"), explode(col("fingerprints")).as("fingerprint"))
        .orderBy("doc_id", "fingerprint"),
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(norm) - 6),
        |           i -> ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 8))::BIGINT) AS hs
        |  FROM n WHERE length(norm) >= 11),
        |wins AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(list_transform(range(0, len(hs) - 3),
        |           j -> least(hs[CAST(j + 1 AS INT)], hs[CAST(j + 2 AS INT)],
        |                      hs[CAST(j + 3 AS INT)], hs[CAST(j + 4 AS INT)])))) AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fingerprint FROM wins ORDER BY doc_id, fingerprint""".stripMargin),
    Twin("x45_winnowing_prod", (s, dir) =>
      TextAnalysis.winnowingFingerprints(Tables.documents(s, dir), base = HashBase.Xx)
        .select(col("doc_id"), explode(col("fingerprints")).as("fingerprint"))
        .orderBy("doc_id", "fingerprint")),
    Query("q55_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, words,
        |         CASE WHEN len(words) >= 3
        |              THEN list_transform(range(1, len(words) - 1),
        |                                  i -> array_to_string(words[i:i+2], ' '))
        |              ELSE CAST([] AS VARCHAR[]) END AS ng
        |  FROM w),
        |tops AS (
        |  SELECT doc_id, max(cnt) AS top_cnt FROM (
        |    SELECT doc_id, ngram, count(*) AS cnt
        |    FROM (SELECT doc_id, unnest(ng) AS ngram FROM g) u
        |    GROUP BY doc_id, ngram) c
        |  GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CASE WHEN len(words) > 0
        |       THEN CAST((2 * (len(words) - len(list_distinct(words))) * 10000
        |                  + len(words)) // (2 * len(words)) AS DOUBLE) / 10000.0
        |       ELSE 0.0 END AS dup_word_frac,
        |  CASE WHEN len(ng) > 0
        |       THEN CAST((2 * (len(ng) - len(list_distinct(ng))) * 10000
        |                  + len(ng)) // (2 * len(ng)) AS DOUBLE) / 10000.0
        |       ELSE 0.0 END AS dup_ngram_frac,
        |  CASE WHEN len(ng) > 0
        |       THEN CAST((2 * coalesce(t.top_cnt, 0) * 10000
        |                  + len(ng)) // (2 * len(ng)) AS DOUBLE) / 10000.0
        |       ELSE 0.0 END AS top_ngram_frac,
        |  (CASE WHEN len(ng) > 0
        |        THEN CAST((2 * (len(ng) - len(list_distinct(ng))) * 10000
        |                   + len(ng)) // (2 * len(ng)) AS DOUBLE) / 10000.0
        |        ELSE 0.0 END) > 0.2 AS repetitive
        |FROM g LEFT JOIN tops t ON t.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin),
    // pseudo-benchmark split: docs with doc_id % 7 == 0 play the eval set
    Query("q56_decontamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contamination(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(7)) === 0))
        .orderBy("doc_id")
    },
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 6),
        |                                 i -> array_to_string(words[i:i+7], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 8) t)
        |SELECT a.doc_id, count(*) AS n_shared
        |FROM (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 <> 0) a
        |JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0) b USING (shingle)
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin),
    Query("q58_vocab_topk", (s, dir) =>
      TextAnalysis.vocab(Tables.documents(s, dir)).orderBy(desc("n"), col("token")),
      """WITH tok AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                            x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT c.token, c.n,
        |  CAST((2 * c.n * 1000000 + t.total) // (2 * t.total) AS DOUBLE)
        |    / 1000000.0 AS freq
        |FROM c CROSS JOIN t
        |ORDER BY c.n DESC, c.token LIMIT 100""".stripMargin),
    // the synthetic corpus carries no natural PII, so the fixture plants
    // deterministic id-derived PII spans in-plan (the q43/q59 pattern) and
    // the oracle plants the same spans in SQL — the scan/redaction regexes
    // themselves are then genuinely cross-checked against DuckDB's RE2
    Query("q60_pii_scan", (s, dir) =>
      TextAnalysis.piiScan(piiDecorated(Tables.documents(s, dir))).orderBy("doc_id"),
      s"""WITH d AS (
         |  SELECT doc_id, $PiiDecorateSql AS text FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS BIGINT) AS n_phones,
         |    CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips
         |  FROM d)
         |SELECT doc_id, n_emails, n_phones, n_ips,
         |       (n_emails > 0 OR n_phones > 0 OR n_ips > 0) AS has_pii
         |FROM c ORDER BY doc_id""".stripMargin),
    Query("q61_chunking", (s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir)).orderBy("doc_id", "chunk_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, words, unnest(range(0, (len(words) - 1) // 48 + 1)) AS chunk_id
        |  FROM w WHERE len(words) > 0),
        |c AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |         words[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS c
        |  FROM k)
        |SELECT doc_id, chunk_id, CAST(len(c) AS BIGINT) AS n_tokens,
        |       array_to_string(c, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    Query("q62_hash_split", (s, dir) =>
      TextAnalysis.hashSplit(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH b AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),
    Query("q63_pii_redact", (s, dir) =>
      TextAnalysis.redactPii(piiDecorated(Tables.documents(s, dir))).orderBy("doc_id"),
      s"""WITH d AS (
         |  SELECT doc_id, $PiiDecorateSql AS text FROM documents)
         |SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
         |        '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
         |      '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin),
    // the memorization-window audit: 13-token spans in ≥2 distinct docs
    Query("q64_repeated_ngrams", (s, dir) =>
      TextAnalysis.repeatedNgrams(Tables.documents(s, dir)).orderBy("shingle"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 11),
        |                                 i -> array_to_string(words[i:i+12], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 13) t)
        |SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
        |FROM sh GROUP BY shingle HAVING count(*) >= 2
        |ORDER BY shingle""".stripMargin),
    // vocabSize 16 < the corpus's 31 distinct tokens, so real OOV mass
    // exists and the boundary tie-break is genuinely exercised
    Query("q65_oov_rate", (s, dir) =>
      TextAnalysis.oovRate(Tables.documents(s, dir), vocabSize = 16).orderBy("doc_id"),
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                            x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS n FROM tok GROUP BY token
        |  ORDER BY n DESC, token LIMIT 16) t),
        |a AS (
        |  SELECT tok.doc_id, count(*) AS n_tokens,
        |         sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM tok LEFT JOIN v ON v.token = tok.token
        |  GROUP BY tok.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_oov AS BIGINT) AS n_oov,
        |       CAST((2 * n_oov * 1000000 + n_tokens) // (2 * n_tokens)
        |            AS DOUBLE) / 1000000.0 AS oov_rate
        |FROM a ORDER BY doc_id""".stripMargin),
    // the synthetic corpus has no newlines, so the fixture derives 8-token
    // lines in-plan (the q43/q59/q60 pattern) — the corpus's real repeated
    // token spans then surface as genuine boilerplate lines (df >= 2)
    Query("q66_line_dedup", (s, dir) =>
      TextAnalysis.dedupLines(lineified(Tables.documents(s, dir))).orderBy("doc_id"),
      s"""WITH $LineifySql,
         |l AS (
         |  SELECT doc_id,
         |         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         |         unnest(string_split(text, chr(10))) AS line
         |  FROM d),
         |b AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT l.doc_id, l.pos, l.line, (b.line IS NOT NULL) AS boiler
         |      FROM l LEFT JOIN b ON b.line = l.line)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(sum(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT boiler),
         |                                chr(10)), '') AS cleaned
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q67_quality_classifier", (s, dir) =>
      TextAnalysis.hashedClassifierScore(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                            x -> x <> '')) AS token
        |  FROM documents),
        |wts AS (
        |  SELECT doc_id,
        |    (('0x' || substr(md5('w:' ||
        |        CAST((('0x' || substr(md5(token), 1, 8))::BIGINT % 1024) AS VARCHAR)),
        |      1, 8))::BIGINT / 2147483648.0) - 1.0 AS w
        |  FROM tok),
        |s AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS raw FROM wts GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |       coalesce(round(raw / n_tokens, 6), 0.0) AS score,
        |       coalesce(round(raw / n_tokens, 6), 0.0) > 0.0 AS keep
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Twin("x67_quality_classifier_prod", (s, dir) =>
      TextAnalysis.hashedClassifierScore(Tables.documents(s, dir), base = HashBase.Xx)),
    Query("q68_mixture_sample", (s, dir) =>
      TextAnalysis.mixtureSample(Tables.documents(s, dir), MixtureRates, defaultRate = 0.1)
        .orderBy("doc_id"),
      """SELECT doc_id, source,
        |       ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 10000 AS u,
        |       (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 10000) <
        |       (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500
        |                    WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500
        |                    ELSE 1000 END) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    // cross-split leakage: the corpus's repeated 13-token spans genuinely
    // straddle the 90/10 hash split (4 contaminated train docs at sf0.001)
    Query("q70_split_contamination", (s, dir) =>
      TextAnalysis.splitContamination(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |         CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                     % 100) < 90
        |              THEN 'train' ELSE 'holdout' END AS split
        |  FROM w),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 11),
        |                                 i -> array_to_string(words[i:i+12], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 13) t),
        |tr AS (SELECT sh.doc_id, sh.shingle
        |       FROM sh JOIN sp USING (doc_id) WHERE sp.split = 'train'),
        |h AS (SELECT DISTINCT shingle
        |      FROM sh JOIN sp USING (doc_id) WHERE sp.split <> 'train')
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM tr JOIN h ON h.shingle = tr.shingle
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
    // the full fused gate stack over the PII-decorated corpus (so the PII
    // gate is genuinely active: ~54% of docs carry a planted span); the
    // classifier cut sits under the corpus's score median and the mixture
    // rates are high, so every gate drops some docs but none annihilates
    Query("q71_corpus_prep_full", (s, dir) =>
      CorpusPrep.prepareFull(piiDecorated(Tables.documents(s, dir)),
        numPerms = 16, bands = 8, base = HashBase.Md5,
        classifierThreshold = -0.2,
        rates = MixtureRates, defaultRate = 0.75).orderBy("doc_id"),
      s"""WITH RECURSIVE dd AS (
         |  SELECT doc_id, source, $PiiDecorateSql AS text FROM documents),
         |t AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS BIGINT) AS n_punct,
         |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop
         |  FROM dd),
         |qual AS (
         |  SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
         |    CAST(CAST(CASE
         |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
         |      WHEN n_toks = 0 THEN
         |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
         |          // (2 * n_chars)
         |      ELSE 25 * least(n_toks, 200)
         |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
         |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
         |                + 2000 * n_toks * n_chars)
         |           + n_toks * n_chars)
         |          // (2 * n_toks * n_chars)
         |    END AS BIGINT) AS DOUBLE) / 10000.0 AS quality
         |  FROM t),
         |ls AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
         |  FROM dd),
         |lang AS (
         |  SELECT doc_id, CASE
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |    WHEN s_fr >= s_zh THEN 'fr'
         |    ELSE 'zh' END AS predicted_lang
         |  FROM ls),
         |pii AS (
         |  SELECT doc_id,
         |    (len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0) AS has_pii
         |  FROM dd),
         |ctok AS (
         |  SELECT doc_id,
         |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
         |                            x -> x <> '')) AS token
         |  FROM dd),
         |cwts AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5('w:' ||
         |        CAST((('0x' || substr(md5(token), 1, 8))::BIGINT % 1024) AS VARCHAR)),
         |      1, 8))::BIGINT / 2147483648.0) - 1.0 AS cw
         |  FROM ctok),
         |sc AS (SELECT doc_id, round(sum(cw) / count(*), 6) AS score
         |       FROM cwts GROUP BY doc_id),
         |mx AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 10000) <
         |    (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500
         |                 WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500
         |                 ELSE 7500 END) AS kept
         |  FROM dd),
         |spl AS (
         |  SELECT doc_id,
         |    CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90
         |         THEN 'train'
         |         WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 95
         |         THEN 'val' ELSE 'test' END AS split
         |  FROM dd),
         |fp AS (SELECT doc_id, md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+', ' ', 'g'))) AS fingerprint
         |       FROM dd),
         |canon AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint),
         |w AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS words
         |  FROM dd),
         |sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(range(1, len(words) - 3),
         |                                 i -> array_to_string(words[i:i+4], ' '))) AS shingle
         |    FROM w WHERE len(words) >= 5) t2),
         |bh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
         |perms AS (
         |  SELECT perm,
         |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 1, 7))::BIGINT + 1 AS a,
         |         ('0x' || substr(md5('perm#' || CAST(perm AS VARCHAR)), 9, 7))::BIGINT AS b
         |  FROM (SELECT unnest(range(0, 16)) AS perm) t3),
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
         |pr AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         |dropped AS (
         |  SELECT src AS doc_id FROM reach GROUP BY src
         |  HAVING least(src, min(dst)) < src)
         |SELECT q.doc_id, q.n_tokens, q.quality, sc.score, spl.split
         |FROM qual q
         |JOIN lang l ON l.doc_id = q.doc_id AND l.predicted_lang = 'en'
         |JOIN pii ON pii.doc_id = q.doc_id AND NOT pii.has_pii
         |JOIN sc ON sc.doc_id = q.doc_id AND sc.score > -0.2
         |JOIN mx ON mx.doc_id = q.doc_id AND mx.kept
         |JOIN spl ON spl.doc_id = q.doc_id
         |JOIN fp ON fp.doc_id = q.doc_id
         |JOIN canon c ON c.fingerprint = fp.fingerprint AND c.keep_id = q.doc_id
         |WHERE q.quality >= 0.4
         |  AND NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = q.doc_id)
         |ORDER BY q.doc_id""".stripMargin),
    Twin("x71_corpus_prep_full_prod", (s, dir) =>
      CorpusPrep.prepareFull(piiDecorated(Tables.documents(s, dir)),
        numPerms = 16, bands = 8, base = HashBase.Xx,
        classifierThreshold = -0.2,
        rates = MixtureRates, defaultRate = 0.75).orderBy("doc_id")),
    // contextLen 512 ~ corpus mean doc ≈ 120 tokens, so packs hold several
    // docs and boundary straddles genuinely occur; bucketSize 64 forces the
    // two-phase prefix sum through MANY buckets (the scale path), not one
    Query("q72_pack_plan", (s, dir) =>
      TextAnalysis.packDocs(Tables.documents(s, dir), contextLen = 512,
        bucketSize = 64).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, start_offset,
        |       start_offset // 512 AS pack_id,
        |       (start_offset + n_tokens - 1) // 512 AS end_pack_id,
        |       (start_offset // 512) <> ((start_offset + n_tokens - 1) // 512) AS straddles
        |FROM p ORDER BY doc_id""".stripMargin),
    Query("q73_composition_report", (s, dir) =>
      TextAnalysis.compositionReport(piiDecorated(Tables.documents(s, dir)))
        .orderBy(col("source").asc_nulls_last, col("split").asc_nulls_last),
      s"""WITH dd AS (
         |  SELECT doc_id, source, $PiiDecorateSql AS text FROM documents),
         |t AS (
         |  SELECT doc_id, source,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS BIGINT) AS n_punct,
         |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop,
         |    (len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0) AS has_pii
         |  FROM dd),
         |q AS (
         |  SELECT doc_id, source,
         |    CAST(n_toks AS BIGINT) AS n_tokens,
         |    CAST(CASE
         |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
         |      WHEN n_toks = 0 THEN
         |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
         |          // (2 * n_chars)
         |      ELSE 25 * least(n_toks, 200)
         |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
         |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
         |                + 2000 * n_toks * n_chars)
         |           + n_toks * n_chars)
         |          // (2 * n_toks * n_chars)
         |    END AS BIGINT) AS q_ticks,
         |    CASE WHEN has_pii THEN 1 ELSE 0 END AS pii,
         |    CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90 THEN 'train'
         |         WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM t),
         |g AS (
         |  SELECT source, split,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(q_ticks) AS BIGINT) AS q_ticks,
         |    CAST(sum(pii) AS BIGINT) AS pii_docs
         |  FROM q GROUP BY source, split),
         |tot AS (SELECT source, split, n_docs, n_tokens, q_ticks, pii_docs,
         |               sum(n_tokens) OVER () AS total_tokens FROM g)
         |SELECT source, split, n_docs, n_tokens,
         |  CAST((2 * CAST(n_tokens AS HUGEINT) * 1000000 + total_tokens)
         |       // (2 * total_tokens) AS BIGINT) / 1000000.0 AS token_share,
         |  ((2 * q_ticks + n_docs) // (2 * n_docs)) / 10000.0 AS mean_quality,
         |  pii_docs,
         |  ((2 * pii_docs * 10000 + n_docs) // (2 * n_docs)) / 10000.0 AS pii_rate
         |FROM tot ORDER BY source, split""".stripMargin),
    // 12k of the corpus's 27,939 tokens: the budget genuinely cuts ~57%
    // of docs and the straddling doc is exercised
    Query("q74_token_budget", (s, dir) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, dir),
        budgetTokens = 12000L).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, md5('draw:' || CAST(doc_id AS VARCHAR)) AS h,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, start_offset
        |FROM p WHERE start_offset < 12000 ORDER BY doc_id""".stripMargin),
    Twin("x74_token_budget_prod", (s, dir) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, dir),
        budgetTokens = 12000L, base = HashBase.Xx).orderBy("doc_id")),
    // q72's plan materialized: docs split exactly at pack boundaries,
    // every pack but the last holds precisely 512 tokens
    Query("q79_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), contextLen = 512,
        bucketSize = 64).orderBy("pack_id"),
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |c AS (SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_tokens
        |      FROM t WHERE len(words) > 0),
        |p AS (
        |  SELECT doc_id, words, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM c),
        |x AS (
        |  SELECT doc_id, words, n_tokens, start_offset,
        |         unnest(range(start_offset // 512, (start_offset + n_tokens - 1) // 512 + 1)) AS pack_id
        |  FROM p),
        |sl AS (
        |  SELECT pack_id, start_offset,
        |         greatest(pack_id * 512 - start_offset, 0) AS f,
        |         least(n_tokens, (pack_id + 1) * 512 - start_offset) AS u,
        |         words
        |  FROM x)
        |SELECT CAST(pack_id AS BIGINT) AS pack_id,
        |       CAST(sum(u - f) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       string_agg(array_to_string(words[CAST(f + 1 AS INT):CAST(u AS INT)], ' '),
        |                  ' ' ORDER BY start_offset) AS text
        |FROM sl GROUP BY pack_id ORDER BY pack_id""".stripMargin),
    // per-doc novelty: the corpus's repeated spans (q64) turned into the
    // curation signal — what fraction of each doc is new sequence
    Query("q81_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(words) - 11),
        |                                 i -> array_to_string(words[i:i+12], ' '))) AS shingle
        |    FROM w WHERE len(words) >= 13) t),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        |d AS (
        |  SELECT s.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_shingles,
        |         CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |  FROM sh s JOIN df ON df.shingle = s.shingle
        |  GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_unique,
        |       ((2 * n_unique * 10000 + n_shingles) // (2 * n_shingles)) / 10000.0 AS novelty
        |FROM d ORDER BY doc_id""".stripMargin),
    // length octaves via integer bit-length, not float log2 (whose
    // power-of-two boundaries round differently across libm builds)
    Query("q82_length_histogram", (s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir)).orderBy("bin"),
      """WITH t AS (
        |  SELECT CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT n_tokens, CAST(length(bin(n_tokens)) AS INT) AS bin
        |      FROM t WHERE n_tokens > 0)
        |SELECT bin,
        |       CAST(1 AS BIGINT) << (bin - 1) AS lo,
        |       (CAST(1 AS BIGINT) << bin) - 1 AS hi,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
    // corpus-relative TF-IDF top-5 per doc: the one transcendental (ln)
    // rounded ONCE to integer micro-nats, every sum/product after it integer
    Query("q83_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), k = 5)
        .orderBy("doc_id", "rank"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |             tf.tf * (CAST(round(ln((n.n + 1.0) / (df.df + 1.0)) * 1000000) AS BIGINT)
        |                      + 1000000) AS score
        |      FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, token) AS rank FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df,
        |       score / 1000000.0 AS tfidf
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),
    // unigram-LM surprisal = the perplexity-proxy quality filter (CCNet
    // recipe): integer micro-nat sums, HALF_UP mean — order-free hashes
    Query("q84_lm_score", (s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
        |m AS (SELECT token, CAST(round(ln(CAST(t.t AS DOUBLE) / n) * 1000000) AS BIGINT) AS nll
        |      FROM c CROSS JOIN t),
        |d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |             CAST(sum(m.nll) AS BIGINT) AS nll_micro
        |      FROM tok JOIN m USING (token) GROUP BY 1)
        |SELECT doc_id, n_tokens, nll_micro,
        |       ((2 * nll_micro + n_tokens) // (2 * n_tokens)) / 1000000.0 AS avg_nll
        |FROM d ORDER BY doc_id""".stripMargin),
    // per-source quality cap (domain balancing): top-20 docs per source
    // by quality — window per source, no global sort
    Query("q94_source_cap", (s, dir) =>
      TextAnalysis.perSourceCap(Tables.documents(s, dir), n = 20)
        .orderBy(col("source").asc_nulls_last, col("src_rank").asc_nulls_last),
      s"""WITH $QualitySql,
         |src AS (SELECT d.doc_id, d.source, q.quality
         |        FROM documents d JOIN q ON q.doc_id = d.doc_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |                ORDER BY quality DESC, doc_id) AS INT) AS src_rank
         |      FROM src)
         |SELECT doc_id, source, quality, src_rank
         |FROM r WHERE src_rank <= 20 ORDER BY source, src_rank""".stripMargin),
    // publication manifest: per (split, source) counts + order-free
    // content checksum — the integrity handshake a shipped dataset carries
    Query("q96_manifest", (s, dir) =>
      TextAnalysis.datasetManifest(Tables.documents(s, dir))
        .orderBy(col("split").asc_nulls_last, col("source").asc_nulls_last),
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS BIGINT) AS ntok,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h,
        |    CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90
        |         THEN 'train'
        |         WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 95
        |         THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |       CAST(sum(h) AS BIGINT) AS content_sum
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Twin("x96_manifest_prod", (s, dir) =>
      TextAnalysis.datasetManifest(Tables.documents(s, dir), base = HashBase.Xx)
        .orderBy("split", "source")),
    // dataset-version diff: v1 = the mixture-kept subset (src0 kept
    // whole, src1 dropped whole, the rest half), v2 = the full corpus —
    // so all four statuses are live: src0 cells unchanged (checksum
    // equality, not just counts), src1 added, the rest changed
    Query("q98_manifest_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = TextAnalysis.mixtureSample(docs, DiffRates, defaultRate = 0.5)
        .where(col("kept")).select("doc_id")
      TextAnalysis.datasetManifestDiff(
        TextAnalysis.datasetManifest(docs.join(kept, Seq("doc_id"))),
        TextAnalysis.datasetManifest(docs))
        .orderBy(col("split").asc_nulls_last, col("source").asc_nulls_last)
    },
      // both manifests replayed from one decorated scan: u is the mixture
      // draw, f the v1 (kept) subset; FULL OUTER on the (split, source)
      // dim with the same status ladder as the engine
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS BIGINT) AS ntok,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h,
        |    CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90
        |         THEN 'train'
        |         WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 95
        |         THEN 'val' ELSE 'test' END AS split,
        |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS u
        |  FROM documents),
        |f AS (SELECT * FROM s
        |      WHERE u < CASE WHEN source = 'src0' THEN 10000
        |                     WHEN source = 'src1' THEN 0 ELSE 5000 END),
        |o AS (SELECT split, source, CAST(count(*) AS BIGINT) AS od,
        |             CAST(sum(ntok) AS BIGINT) AS ot, CAST(sum(h) AS BIGINT) AS os
        |      FROM f GROUP BY 1, 2),
        |n AS (SELECT split, source, CAST(count(*) AS BIGINT) AS nd,
        |             CAST(sum(ntok) AS BIGINT) AS nt, CAST(sum(h) AS BIGINT) AS ns
        |      FROM s GROUP BY 1, 2)
        |SELECT coalesce(o.split, n.split) AS split,
        |       coalesce(o.source, n.source) AS source,
        |       coalesce(od, 0) AS old_docs, coalesce(nd, 0) AS new_docs,
        |       coalesce(nd, 0) - coalesce(od, 0) AS delta_docs,
        |       coalesce(nt, 0) - coalesce(ot, 0) AS delta_tokens,
        |       CASE WHEN od IS NULL THEN 'added'
        |            WHEN nd IS NULL THEN 'removed'
        |            WHEN od = nd AND ot = nt AND os = ns THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n
        |  ON o.split = n.split AND o.source IS NOT DISTINCT FROM n.source
        |ORDER BY split, source""".stripMargin),
    // held-out unigram surprisal: model trained on the train split,
    // scored on val with add-one OOV smoothing — the generalization
    // signal q84's in-corpus score cannot give
    Query("q116_heldout_surprisal", (s, dir) =>
      TextAnalysis.heldOutSurprisal(Tables.documents(s, dir)).orderBy("doc_id"),
      // the q101 bigram stream aggregated to pair types; PMI rounded once
      // to micro-nats so the top-k boundary is integer-deterministic
      // q62's split buckets + q84's micro-nat discipline with add-one
      // smoothing over the train-only counts; OOV = absent from train
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents),
        |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
        |       FROM tok JOIN sp USING (doc_id) WHERE sp.bucket < 90 GROUP BY 1),
        |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tc),
        |vv AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM tok),
        |vals AS (SELECT tok.doc_id, token FROM tok JOIN sp USING (doc_id)
        |         WHERE sp.bucket >= 90 AND sp.bucket < 95),
        |sc AS (SELECT doc_id,
        |         CASE WHEN tc.c IS NULL THEN 1 ELSE 0 END AS oov,
        |         CAST(round(ln((tt.t + vv.v) * 1.0 / (coalesce(tc.c, 0) + 1)) * 1000000) AS BIGINT) AS nll
        |       FROM vals LEFT JOIN tc USING (token) CROSS JOIN tt CROSS JOIN vv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       CAST(sum(nll) AS BIGINT) AS nll_micro,
        |       ((2 * sum(nll) + count(*)) // (2 * count(*))) / 1e6 AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // doc-level epoch diff: v1 = corpus minus id%7 docs, id%5 texts
    // mutated, plus retired id%11 copies — all four statuses live
    Query("q118_epoch_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val v1 = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" [v1]"))).otherwise(col("text")).as("text"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      TextAnalysis.corpusEpochDiff(v1, docs).orderBy("status")
    },
      // full-outer on doc_id, q34's normalized fingerprint as identity
      """WITH v1 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' [v1]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 11 = 0),
        |fo AS (SELECT doc_id, md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS f FROM v1),
        |fn AS (SELECT doc_id, md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g'))) AS f FROM documents),
        |j AS (SELECT coalesce(fo.doc_id, fn.doc_id) AS doc_id, fo.f AS f_old, fn.f AS f_new
        |      FROM fo FULL OUTER JOIN fn ON fn.doc_id = fo.doc_id),
        |s AS (SELECT doc_id, CASE WHEN f_old IS NULL THEN 'added'
        |                          WHEN f_new IS NULL THEN 'removed'
        |                          WHEN f_old = f_new THEN 'unchanged'
        |                          ELSE 'changed' END AS status FROM j)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM s GROUP BY 1 ORDER BY status""".stripMargin),
    // stratified eval draw: 5 per (source, predicted-lang) cell by a
    // salted reproducible hash — per-cell rank pushed map-side
    Query("q119_stratified_eval", (s, dir) =>
      TextAnalysis.stratifiedEvalDraw(Tables.documents(s, dir))
        .orderBy(col("source").asc_nulls_last, col("predicted_lang"),
          col("rk")),
      // q32's langid CASE + the salted eval hash; rank within each cell
      """WITH s AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, CASE
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr >= s_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang
        |  FROM s),
        |u AS (SELECT doc_id, source, predicted_lang,
        |             ('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS uu
        |      FROM p),
        |r AS (SELECT doc_id, source, predicted_lang,
        |             CAST(row_number() OVER (PARTITION BY source, predicted_lang
        |                                     ORDER BY uu, doc_id) AS BIGINT) AS rk
        |      FROM u)
        |SELECT doc_id, source, predicted_lang, rk FROM r WHERE rk <= 5
        |ORDER BY source, predicted_lang, rk""".stripMargin),
    // Efraimidis-Spirakis weighted draw, derandomized: n docs with
    // inclusion probability ∝ n_chars, citable and engine-replayable
    Query("q123_weighted_sample", (s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir), n = 40)
        .orderBy("key_micro", "doc_id"),
      // A-ES priority keys: u from the salted md5 prefix, -ln(u) in
      // integer micro-nats, key = lnMicro/weight HALF_UP-ticked; the n
      // smallest keys are the sample
      """WITH w AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
        |         ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents WHERE n_chars > 0),
        |k AS (
        |  SELECT doc_id, source, weight,
        |         CAST(floor(-ln((h + 1) / 4294967296.0) * 1000000 + 0.5) AS BIGINT) AS lm
        |  FROM w)
        |SELECT doc_id, source, weight,
        |       CAST(floor(CAST(lm AS DOUBLE) / weight + 0.5) AS BIGINT) AS key_micro
        |FROM k ORDER BY key_micro, doc_id LIMIT 40""".stripMargin),
    // quantile length buckets → per-bucket padded-batch waste in
    // HALF_UP bp — the bucketing trade curve for batch scheduling
    Query("q141_padding_efficiency", (s, dir) =>
      TextAnalysis.paddingEfficiency(Tables.documents(s, dir), k = 4)
        .orderBy("bucket"),
      // q91's counting-cuts chain on token counts, then per-bucket
      // padded-waste arithmetic (pure integers, HALF_UP bp)
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                              x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |d AS (SELECT v, count(*) AS c FROM w WHERE v IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM d),
        |n AS (SELECT count(*) AS n FROM w WHERE v IS NOT NULL),
        |js AS (SELECT unnest(range(1, 4)) AS j),
        |cuts AS (SELECT j, min(v) AS cut FROM cum, n, js
        |         WHERE cum >= (j * n.n + 3) // 4 GROUP BY j),
        |b AS (SELECT doc_id, v,
        |             CAST(1 + (SELECT count(*) FROM cuts WHERE cut < w.v) AS INT) AS bucket
        |      FROM w),
        |agg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(max(v) AS BIGINT) AS max_len,
        |               CAST(sum(v) AS BIGINT) AS sum_tokens
        |        FROM b GROUP BY 1)
        |SELECT bucket, n_docs, max_len, sum_tokens,
        |       CASE WHEN max_len > 0
        |            THEN ((n_docs * max_len - sum_tokens) * 20000 + n_docs * max_len)
        |                 // (2 * n_docs * max_len)
        |            ELSE 0 END AS waste_bp
        |FROM agg ORDER BY bucket""".stripMargin),
    // per-source doc-id continuity: ids absent from the source's own
    // [min, max] span — the dropped-batch ingest audit
    Query("q143_id_continuity", (s, dir) =>
      TextAnalysis.idContinuity(Tables.documents(s, dir)).orderBy(col("source").asc_nulls_last),
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       max(doc_id) - min(doc_id) + 1 - count(*) AS n_missing
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // per-doc character Shannon entropy in exact micro-nat terms —
    // the gibberish/encoding detector orthogonal to word gates
    Query("q136_char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(Tables.documents(s, dir)).orderBy("doc_id"),
      // exploded (doc, char) counts → per-doc micro-nat entropy terms
      // summed exactly; empty docs coalesce to (0, 0.0)
      """WITH ch AS (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
        |            FROM documents),
        |cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM ch
        |       WHERE ch <> '' GROUP BY 1, 2),
        |cn AS (SELECT doc_id, ch, c,
        |              CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM cc),
        |tm AS (SELECT doc_id, n,
        |              CAST(floor((c / CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE) / c)
        |                * 1000000 + 0.5) AS BIGINT) AS t
        |       FROM cn),
        |e AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        |             CAST(sum(t) AS BIGINT) AS s FROM tm GROUP BY 1)
        |SELECT d.doc_id, coalesce(e.n_chars, 0) AS n_chars,
        |       coalesce(e.s / 1000000.0, 0.0) AS entropy
        |FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // exact-substring corpus grep: match count via length arithmetic,
    // 1-based first offset; rows only for hits
    Query("q137_corpus_grep", (s, dir) =>
      TextAnalysis.corpusGrep(Tables.documents(s, dir), needle = "spark")
        .orderBy("doc_id"),
      // literal-substring count by length difference + strpos; hits only
      """SELECT doc_id,
        |       (length(text) - length(replace(text, 'spark', ''))) // 5 AS n_matches,
        |       CAST(strpos(text, 'spark') AS BIGINT) AS first_pos
        |FROM documents
        |WHERE (length(text) - length(replace(text, 'spark', ''))) // 5 > 0
        |ORDER BY doc_id""".stripMargin),
    // integer water-filling of a 26k-token budget across sources:
    // below-water sources take everything, the rest split the
    // remainder evenly (deterministic integer remainder placement)
    Query("q138_budget_allocation", (s, dir) =>
      TextAnalysis.budgetAllocation(Tables.documents(s, dir), budget = 26000L)
        .orderBy(col("source").asc_nulls_last),
      // closed-form water level over sources sorted by availability:
      // j = first rank the remaining budget no longer floods; the
      // remainder r = B - pa_j splits over m = n - j + 1 sources with
      // the integer remainder placed on the first ranks
      """WITH w AS (
        |  SELECT source,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |av AS (SELECT source, CAST(sum(len(words)) AS BIGINT) AS a FROM w GROUP BY 1),
        |o AS (SELECT source, a,
        |             CAST(row_number() OVER (ORDER BY a, source) AS BIGINT) AS rn,
        |             CAST(count(*) OVER () AS BIGINT) AS n,
        |             CAST(coalesce(sum(a) OVER (ORDER BY a, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pa
        |      FROM av),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM av),
        |j AS (SELECT min(rn) AS j FROM o WHERE pa + (n - rn + 1) * a >= 26000),
        |par AS (SELECT pa AS paj FROM o, j WHERE o.rn = j.j)
        |SELECT source, a AS available,
        |       CAST(CASE WHEN (SELECT t FROM tot) <= 26000 THEN a
        |                 WHEN rn < (SELECT j FROM j) THEN a
        |                 ELSE (26000 - (SELECT paj FROM par)) // (n - (SELECT j FROM j) + 1)
        |                      + CASE WHEN rn - (SELECT j FROM j) <
        |                               (26000 - (SELECT paj FROM par)) % (n - (SELECT j FROM j) + 1)
        |                             THEN 1 ELSE 0 END
        |            END AS BIGINT) AS allocated
        |FROM o ORDER BY source""".stripMargin),
    // KL(source || corpus) over the corpus top-100 vocab: bounded
    // (sources × k) grid, add-one smoothing, micro-nat term ticks
    Query("q133_source_divergence", (s, dir) =>
      TextAnalysis.sourceTokenDivergence(Tables.documents(s, dir))
        .orderBy("source"),
      // corpus top-100 vocab → (source × token) grid with add-one
      // smoothing → micro-nat KL terms summed exactly
      """WITH w AS (
        |  SELECT source,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |t1 AS (SELECT source, unnest(words) AS token FROM w),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t1 GROUP BY 1),
        |top AS (SELECT token, n AS cq FROM c ORDER BY n DESC, token LIMIT 100),
        |nq AS (SELECT CAST(sum(cq) AS BIGINT) AS nq FROM top),
        |cs AS (SELECT t1.source, t1.token, CAST(count(*) AS BIGINT) AS cs
        |       FROM t1 JOIN top ON top.token = t1.token GROUP BY 1, 2),
        |grid AS (SELECT s.source, top.token, top.cq, coalesce(cs.cs, 0) AS cs
        |         FROM (SELECT DISTINCT source FROM documents) s
        |         CROSS JOIN top
        |         LEFT JOIN cs ON cs.source = s.source AND cs.token = top.token),
        |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM grid GROUP BY 1),
        |terms AS (
        |  SELECT g.source,
        |         CAST(floor(
        |           ((g.cs + 1) / CAST(ns.ns + 100 AS DOUBLE))
        |           * ln(((g.cs + 1) / CAST(ns.ns + 100 AS DOUBLE))
        |               / (CAST(g.cq AS DOUBLE) / (SELECT nq FROM nq)))
        |           * 1000000 + 0.5) AS BIGINT) AS t
        |  FROM grid g JOIN ns ON ns.source = g.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens_topk,
        |       CAST(sum(t) AS BIGINT) / 1000000.0 AS kl_nats
        |FROM terms GROUP BY 1 ORDER BY source""".stripMargin),
    // Pearson r between length and quality per source — the "is the
    // gate a length proxy?" audit; exact integer sums, 4dp
    Query("q135_length_quality_corr", (s, dir) =>
      TextAnalysis.lengthQualityCorrelation(Tables.documents(s, dir))
        .orderBy(col("source").asc_nulls_last),
      // Pearson r from exact integer sums (HUGEINT cross/square sums),
      // one fixed expression shape, 4dp
      s"""WITH $QualitySql,
         |b AS (SELECT d.source, CAST(length(d.text) AS BIGINT) AS x,
         |             CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS y
         |      FROM documents d JOIN q ON q.doc_id = d.doc_id),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM b GROUP BY 1)
         |SELECT source, n AS n_docs,
         |       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / sqrt(greatest(0.000000000001,
         |             (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))),
         |         4) AS corr
         |FROM s ORDER BY source""".stripMargin),
    // percentile ensemble of heuristic quality × inverted LM surprisal
    // on bounded tick grids — one blended bp rank per token-bearing doc
    Query("q125_quality_blend", (s, dir) =>
      TextAnalysis.qualityBlend(Tables.documents(s, dir)).orderBy("doc_id"),
      // per-signal tick grids (quality 1e-4, surprisal 1e-3 nats) →
      // cumulative-count percentiles in HALF_UP bp → blended rank with
      // the surprisal axis inverted (low surprisal = better)
      s"""WITH $QualitySql,
         |w AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'), x -> x <> '') AS words
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
         |m AS (SELECT token, CAST(round(ln(CAST(t.t AS DOUBLE) / n) * 1000000) AS BIGINT) AS nll
         |      FROM c CROSS JOIN t),
         |d AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |             CAST(sum(m.nll) AS BIGINT) AS nll_micro
         |      FROM tok JOIN m USING (token) GROUP BY 1),
         |s AS (SELECT doc_id,
         |             ((2 * nll_micro + n_tokens) // (2 * n_tokens)) / 1000000.0 AS avg_nll
         |      FROM d),
         |qt2 AS (SELECT doc_id, CAST(floor(quality * 10000 + 0.5) AS BIGINT) AS v FROM q
         |        WHERE quality IS NOT NULL),
         |st2 AS (SELECT doc_id, CAST(floor(avg_nll * 1000 + 0.5) AS BIGINT) AS v FROM s),
         |qg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM qt2 GROUP BY 1),
         |qc AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
         |              (SELECT CAST(count(*) AS BIGINT) FROM qt2) AS n FROM qg),
         |qp AS (SELECT v, (cum * 20000 + n) // (2 * n) AS p FROM qc),
         |sg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM st2 GROUP BY 1),
         |sc AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
         |              (SELECT CAST(count(*) AS BIGINT) FROM st2) AS n FROM sg),
         |sp AS (SELECT v, (cum * 20000 + n) // (2 * n) AS p FROM sc),
         |j AS (SELECT qt2.doc_id, qp.p AS q_bp, sp.p AS nll_bp
         |      FROM qt2 JOIN qp ON qp.v = qt2.v
         |      JOIN st2 ON st2.doc_id = qt2.doc_id
         |      JOIN sp ON sp.v = st2.v)
         |SELECT doc_id, q_bp, nll_bp,
         |       (q_bp + (10000 - nll_bp) + 1) // 2 AS blend_bp
         |FROM j ORDER BY doc_id""".stripMargin),
    // copied-span pairs: ≥ minShared shared winnowing fingerprints,
    // df-capped inverted index — the local-duplication axis whole-doc
    // sketches dilute away
    Query("q126_winnow_overlap", (s, dir) =>
      TextAnalysis.winnowOverlapPairs(Tables.documents(s, dir),
        minShared = 5, maxDf = 5).orderBy("doc_a", "doc_b"),
      // q45's winnowing chain + df-capped inverted-index pairing: pairs
      // sharing >= 5 fingerprints after dropping fingerprints in > 5 docs
      // (this corpus's 30-word vocab makes 8-char grams promiscuous; the
      // tight cap is what keeps the pair set meaning "copied span")
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(norm) - 6),
        |           i -> ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 8))::BIGINT) AS hs
        |  FROM n WHERE length(norm) >= 11),
        |wins AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(list_transform(range(0, len(hs) - 3),
        |           j -> least(hs[CAST(j + 1 AS INT)], hs[CAST(j + 2 AS INT)],
        |                      hs[CAST(j + 3 AS INT)], hs[CAST(j + 4 AS INT)])))) AS fps
        |  FROM h),
        |fp AS (SELECT doc_id, unnest(fps) AS f FROM wins),
        |rare AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 5),
        |i AS (SELECT fp.doc_id, fp.f FROM fp JOIN rare ON rare.f = fp.f),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             CAST(count(*) AS BIGINT) AS n_shared
        |      FROM i a JOIN i b ON a.f = b.f AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM p
        |WHERE n_shared >= 5 ORDER BY doc_a, doc_b""".stripMargin),
    // gate-funnel report: first-failing-gate counts over the decorated
    // corpus with every gate live (classifier cut 0.0, q68's mixture)
    Query("q111_gate_funnel", (s, dir) =>
      TextAnalysis.gateFunnel(piiDecorated(Tables.documents(s, dir)),
        classifierThreshold = 0.0, rates = MixtureRates, defaultRate = 0.1)
        .orderBy("stage"),
      // the full row-local gate chain over the decorated corpus: q60's pii
      // regexes, QualitySql's formula, q32's langid CASE, q67's classifier,
      // q68's mixture CASE — first failing gate wins, shares HALF_UP bp
      s"""WITH d AS (
         |  SELECT doc_id, source, $PiiDecorateSql AS text FROM documents),
         |pii AS (
         |  SELECT doc_id,
         |    (len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) > 0
         |     OR len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0) AS has_pii
         |  FROM d),
         |qt AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
         |    CAST(len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS BIGINT) AS n_punct,
         |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'on', 'for', 'with'))) AS BIGINT) AS n_stop
         |  FROM d),
         |q AS (
         |  SELECT doc_id,
         |    CAST(CAST(CASE
         |      WHEN n_chars = 0 THEN 2000 + 25 * least(n_toks, 200)
         |      WHEN n_toks = 0 THEN
         |        (4000 * (n_chars - least(4 * (n_punct + n_digit), n_chars)) + n_chars)
         |          // (2 * n_chars)
         |      ELSE 25 * least(n_toks, 200)
         |        + (2 * (3000 * least(5 * n_stop, n_toks) * n_chars
         |                - 2000 * least(4 * (n_punct + n_digit), n_chars) * n_toks
         |                + 2000 * n_toks * n_chars)
         |           + n_toks * n_chars)
         |          // (2 * n_toks * n_chars)
         |    END AS BIGINT) AS DOUBLE) / 10000.0 AS quality
         |  FROM qt),
         |ls AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
         |  FROM d),
         |lang AS (
         |  SELECT doc_id, CASE
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |    WHEN s_fr >= s_zh THEN 'fr'
         |    ELSE 'zh' END AS predicted_lang
         |  FROM ls),
         |tok AS (
         |  SELECT doc_id,
         |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
         |                            x -> x <> '')) AS token
         |  FROM d),
         |wts AS (
         |  SELECT doc_id,
         |    (('0x' || substr(md5('w:' ||
         |        CAST((('0x' || substr(md5(token), 1, 8))::BIGINT % 1024) AS VARCHAR)),
         |      1, 8))::BIGINT / 2147483648.0) - 1.0 AS w
         |  FROM tok),
         |cs AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS raw FROM wts GROUP BY doc_id),
         |cls AS (SELECT d.doc_id, coalesce(round(raw / n_tokens, 6), 0.0) AS score
         |        FROM d LEFT JOIN cs ON cs.doc_id = d.doc_id),
         |mix AS (
         |  SELECT doc_id,
         |         (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |           % 10000) <
         |         (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500
         |                      WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500
         |                      ELSE 1000 END) AS kept
         |  FROM d),
         |v AS (
         |  SELECT CASE WHEN pii.has_pii THEN 'pii'
         |              WHEN q.quality < 0.4 THEN 'quality'
         |              WHEN lang.predicted_lang <> 'en' THEN 'language'
         |              WHEN cls.score <= 0.0 THEN 'classifier'
         |              WHEN NOT mix.kept THEN 'mixture'
         |              ELSE 'admitted' END AS gate
         |  FROM d JOIN pii USING (doc_id) JOIN q USING (doc_id)
         |         JOIN lang USING (doc_id) JOIN cls USING (doc_id)
         |         JOIN mix USING (doc_id)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM v),
         |g AS (SELECT gate, CAST(count(*) AS BIGINT) AS n_docs FROM v GROUP BY 1)
         |SELECT CAST(CASE gate WHEN 'pii' THEN 1 WHEN 'quality' THEN 2
         |            WHEN 'language' THEN 3 WHEN 'classifier' THEN 4
         |            WHEN 'mixture' THEN 5 ELSE 6 END AS BIGINT) AS stage,
         |       gate, n_docs, (20000 * n_docs + t) // (2 * t) AS share_bp
         |FROM g CROSS JOIN tot ORDER BY stage""".stripMargin),
    // char-class composition per source: the encoding/markup health
    // card — disjoint classes, HALF_UP bp shares, one scan
    Query("q112_charclass", (s, dir) =>
      TextAnalysis.charClassProfile(Tables.documents(s, dir)).orderBy(col("source").asc_nulls_last),
      """WITH c AS (
        |  SELECT source,
        |    CAST(length(text) AS BIGINT) AS n_ch,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS a,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dg,
        |    CAST(len(regexp_extract_all(text, '\s')) AS BIGINT) AS sp,
        |    CAST(len(regexp_extract_all(text, '[\.,;:!\?]')) AS BIGINT) AS p
        |  FROM documents),
        |g AS (SELECT source, CAST(sum(n_ch) AS BIGINT) AS n_chars,
        |             CAST(sum(a) AS BIGINT) AS a, CAST(sum(dg) AS BIGINT) AS dg,
        |             CAST(sum(sp) AS BIGINT) AS sp, CAST(sum(p) AS BIGINT) AS p
        |      FROM c GROUP BY 1)
        |SELECT source, n_chars,
        |       (20000 * a + n_chars) // (2 * n_chars) AS alpha_bp,
        |       (20000 * dg + n_chars) // (2 * n_chars) AS digit_bp,
        |       (20000 * sp + n_chars) // (2 * n_chars) AS space_bp,
        |       (20000 * p + n_chars) // (2 * n_chars) AS punct_bp,
        |       (20000 * (n_chars - a - dg - sp - p) + n_chars) // (2 * n_chars) AS other_bp
        |FROM g ORDER BY source""".stripMargin),
    // top boilerplate lines by document frequency over the lineified
    // corpus — the pre-commit audit for q66's minDf choice
    Query("q113_boilerplate_topk", (s, dir) =>
      TextAnalysis.topBoilerplateLines(lineified(Tables.documents(s, dir)))
        .orderBy("rank"),
      // q66's lineified corpus; df distinct-first, top-20 by (df desc, line)
      s"""WITH $LineifySql,
         |lns AS (SELECT DISTINCT doc_id, line FROM (
         |          SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d) t),
         |dfs AS (SELECT line, CAST(count(*) AS BIGINT) AS df FROM lns
         |        GROUP BY 1 HAVING count(*) >= 2),
         |top AS (SELECT line, df FROM dfs ORDER BY df DESC, line LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, line) AS BIGINT) AS rank,
         |       line, df
         |FROM top ORDER BY rank""".stripMargin),
    // zipf slope over the top-100 vocab: integer micro-nat least squares
    Query("q114_zipf_slope", (s, dir) =>
      TextAnalysis.zipfSlope(Tables.documents(s, dir)),
      // least squares over integer micro-nat (ln rank, ln count) points;
      // exact BIGINT sums, one double division rounded 6dp
      """WITH tok AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100),
        |r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank FROM top),
        |m AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x,
        |             CAST(round(ln(n) * 1000000) AS BIGINT) AS y FROM r),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |      FROM m)
        |SELECT k AS n_points,
        |       round(CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS slope
        |FROM a""".stripMargin),
    // per-source quality quantiles: type-1 cuts on the 4dp counting grid
    Query("q115_source_quality", (s, dir) =>
      TextAnalysis.sourceQualityQuantiles(Tables.documents(s, dir))
        .orderBy(col("source").asc_nulls_last),
      // q77's quality chain; explicit type-1 quantiles on the counting grid
      s"""WITH $QualitySql,
         |src AS (SELECT d.source, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id
         |        WHERE q.quality IS NOT NULL),
         |cells AS (SELECT source, quality, CAST(count(*) AS BIGINT) AS cnt
         |          FROM src GROUP BY 1, 2),
         |cum AS (SELECT source, quality, cnt,
         |          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY quality
         |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |          CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
         |        FROM cells)
         |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |       min(CASE WHEN cum * 100 >= n * 25 THEN quality END) AS p25,
         |       min(CASE WHEN cum * 100 >= n * 50 THEN quality END) AS p50,
         |       min(CASE WHEN cum * 100 >= n * 75 THEN quality END) AS p75
         |FROM cum GROUP BY source ORDER BY source""".stripMargin),
    // vocabulary coverage curve: cumulative token-occurrence share of
    // the top-100 vocab, integer HALF_UP basis points; top-k is a
    // TakeOrdered heap, the running sum windows over exactly k rows
    Query("q107_vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir)).orderBy("rank"),
      """WITH tok AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100),
        |r AS (SELECT token, n,
        |        CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
        |        CAST(sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM top)
        |SELECT rank, token, n, (20000 * cum + total) // (2 * total) AS cum_share_bp
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin),
    // tokenizer-fertility report: chars-per-token (HALF_UP basis
    // points) per q32-predicted language — one scan + 5-row aggregate
    Query("q110_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir))
        .orderBy("predicted_lang"),
      // q32's score CTE + argmax CASE with token/char counters fused in
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(length(text) AS BIGINT) AS n_ch,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT n_toks, n_ch,
        |    CASE
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted_lang
        |  FROM s),
        |g AS (SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |             CAST(sum(n_ch) AS BIGINT) AS n_chars
        |      FROM p GROUP BY 1)
        |SELECT predicted_lang, n_docs, n_tokens, n_chars,
        |       (20000 * n_chars + n_tokens) // (2 * n_tokens) AS cpt_bp
        |FROM g ORDER BY predicted_lang""".stripMargin),
    // PMI collocations: top-20 adjacent pairs, min count 5 — ranking
    // integer-exact in micro-nats, deterministic (pmi, prev, cur) order
    Query("q105_collocations", (s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir)),
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
        |bgi AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i
        |        FROM w WHERE len(words) >= 2),
        |bgp AS (SELECT doc_id, words[CAST(i AS INT)] AS prev,
        |               words[CAST(i + 1 AS INT)] AS cur
        |        FROM bgi),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bgp),
        |c2t AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS n_pair
        |        FROM bgp GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT c2t.prev, c2t.cur, c2t.n_pair,
        |       CAST(round(ln((n.n * n_pair) * 1.0 / (ua.c1 * ub.c1)) * 1000000) AS BIGINT) AS pmi_micro
        |FROM c2t
        |JOIN uni ua ON ua.token = c2t.prev
        |JOIN uni ub ON ub.token = c2t.cur
        |CROSS JOIN n
        |ORDER BY pmi_micro DESC, prev, cur LIMIT 20""".stripMargin),
    // dataset-card language table: per (source, predicted language)
    // doc counts + per-source share in integer HALF_UP basis points
    Query("q104_lang_composition", (s, dir) =>
      TextAnalysis.langComposition(Tables.documents(s, dir))
        .orderBy("source", "predicted_lang"),
      // q32's score CTE + argmax CASE, grouped to the (source, lang) dim;
      // share in the q95 integer-HALF_UP basis-point formula. NULL source
      // → '<none>' sentinel on BOTH sides (it is the first ORDER BY key;
      // Spark NULLS FIRST vs DuckDB NULLS LAST would flip the row order)
      """WITH s AS (
        |  SELECT doc_id, coalesce(source, '<none>') AS source,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT source,
        |    CASE
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted_lang
        |  FROM s),
        |g AS (SELECT source, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM p GROUP BY 1, 2)
        |SELECT source, predicted_lang, n_docs,
        |       CAST((20000 * n_docs + sum(n_docs) OVER (PARTITION BY source))
        |         // (2 * sum(n_docs) OVER (PARTITION BY source)) AS BIGINT) AS share_bp
        |FROM g ORDER BY source, predicted_lang""".stripMargin),
    // bigram-LM surprisal: conditional NLL under the corpus's own
    // add-one-smoothed bigram model — the n-gram step past q84's
    // unigram; integer micro-nats end to end
    Query("q101_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, dir)).orderBy("doc_id"),
      // add-one-smoothed conditional NLL per bigram TYPE, rounded once to
      // integer micro-nats; per-doc sums and HALF_UP mean exact after that
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bgi AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i
        |        FROM w WHERE len(words) >= 2),
        |bgp AS (SELECT doc_id, words[CAST(i AS INT)] AS prev,
        |               words[CAST(i + 1 AS INT)] AS cur
        |        FROM bgi),
        |c2t AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
        |        FROM bgp GROUP BY 1, 2),
        |m AS (SELECT c2t.prev, c2t.cur,
        |             CAST(round(ln((c1 + v.v) * 1.0 / (c2 + 1)) * 1000000) AS BIGINT) AS nll
        |      FROM c2t JOIN uni ON uni.token = c2t.prev CROSS JOIN v),
        |d AS (SELECT bgp.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(sum(m.nll) AS BIGINT) AS nll_micro
        |      FROM bgp JOIN m ON m.prev = bgp.prev AND m.cur = bgp.cur
        |      GROUP BY 1)
        |SELECT doc_id, n_bigrams, nll_micro,
        |       ((2 * nll_micro + n_bigrams) // (2 * n_bigrams)) / 1000000.0 AS avg_nll2
        |FROM d ORDER BY doc_id""".stripMargin),
    // normalized exact dedup over a planted reformatting fixture (the
    // corpus has no natural case/punctuation recrawls): every doc_id%7
    // doc gets an uppercased, punctuation-noised twin the normalizer
    // must re-collide
    Query("q145_normalized_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val variants = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 4000000000L).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit("!!")).as("text"))
      TextAnalysis.normalizedDedupGroups(docs.unionByName(variants))
        .orderBy("norm_key")
    },
      // lower → non-alnum → space → collapse → trim, md5 group; the
      // planted %7 twins must re-collide with their originals
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000000, '  ' || upper(text) || '!!'
        |  FROM documents WHERE doc_id % 7 = 0),
        |n AS (SELECT doc_id,
        |             md5(trim(regexp_replace(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_key
        |      FROM all_docs),
        |g AS (SELECT norm_key, CAST(count(*) AS BIGINT) AS n_docs,
        |             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |      FROM n GROUP BY 1)
        |SELECT * FROM g WHERE n_docs > 1 ORDER BY norm_key""".stripMargin),
    // truncation families over planted 2/3-cut twins (doc_id%8): shared
    // 120-char normalized prefix, distinct full hash — the
    // recrawl-cut-off shape exact dedup misses
    Query("q149_prefix_dup", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.where(pmod(col("doc_id"), lit(8)) === 0)
        .select((col("doc_id") + 5000000000L).as("doc_id"),
          expr("substring(text, 1, CAST(length(text) * 2 DIV 3 AS INT))").as("text"))
      TextAnalysis.prefixDupGroups(docs.unionByName(twins))
        .orderBy("prefix_key")
    },
      // shared 120-char normalized prefix, >1 distinct full hash; the
      // planted twins are raw-text 2/3 cuts normalized AFTER the cut on
      // both engines
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000000,
        |         substr(text, 1, CAST(length(text) * 2 // 3 AS INT))
        |  FROM documents WHERE doc_id % 8 = 0),
        |n AS (SELECT doc_id,
        |             trim(regexp_replace(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |      FROM all_docs),
        |k AS (SELECT doc_id, md5(substr(norm, 1, 120)) AS prefix_key,
        |             md5(norm) AS full_key FROM n),
        |g AS (SELECT prefix_key, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(count(DISTINCT full_key) AS BIGINT) AS n_variants,
        |             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |      FROM k GROUP BY 1)
        |SELECT * FROM g WHERE n_docs > 1 AND n_variants > 1
        |ORDER BY prefix_key""".stripMargin),
    // deterministic epoch-shuffle manifest: global 1-based rank in the
    // salted-md5 total order — 256 prefix buckets make the sort
    // distributed; ranks are a dense permutation of 1..n
    Query("q150_order_manifest", (s, dir) =>
      TextAnalysis.orderManifest(Tables.documents(s, dir)).orderBy("doc_id"),
      // one global row_number over the salted-md5 key (the engine's
      // bucketed two-phase rank must equal the flat total order exactly)
      """SELECT doc_id,
        |       md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key,
        |       CAST(row_number() OVER (
        |         ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
        |         AS BIGINT) AS global_rank
        |FROM documents ORDER BY doc_id""".stripMargin),
    // first BPE merge iteration: vocabulary-collapsed adjacent char-pair
    // counts, top-20 merge candidates
    Query("q157_bpe_pairs", (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir)).orderBy("rank"),
      // vocabulary-collapsed adjacent char pairs, (count desc, pair asc)
      // total tie order
      """WITH wd AS (SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                   x -> x <> '')) AS word
        |            FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM wd GROUP BY 1),
        |p AS (SELECT unnest(list_transform(range(1, length(word)),
        |               i -> word[CAST(i AS INT):CAST(i AS INT)+1])) AS pair, wc
        |      FROM wc WHERE length(word) >= 2),
        |g AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM p GROUP BY 1),
        |top AS (SELECT pair, n,
        |               CAST(row_number() OVER (ORDER BY n DESC, pair ASC) AS BIGINT)
        |                 AS rank
        |        FROM g)
        |SELECT rank, pair, n FROM top WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // language-ID eval: declared lang vs marker-argmax prediction, with
    // per-declared-row recall share (the diagonal IS the recall column)
    Query("q165_lang_confusion", (s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir))
        .orderBy(col("lang").asc_nulls_last, col("predicted_lang")),
      // the q104 marker CTE keyed by the DECLARED lang; HALF_UP row share
      """WITH s AS (
        |  SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted_lang
        |  FROM s),
        |g AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM p GROUP BY 1, 2)
        |SELECT lang, predicted_lang, n_docs,
        |       CAST((20000 * n_docs + sum(n_docs) OVER (PARTITION BY lang))
        |         // (2 * sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT)
        |         AS row_share_bp
        |FROM g ORDER BY lang, predicted_lang""".stripMargin),
    // per-group top-k: the 3 best docs per source by quality —
    // WindowGroupLimit pushes the rank heap map-side
    Query("q170_top_per_source", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityExpr(col("text")).as("quality"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .orderBy(col("source").asc_nulls_last, col("rk").asc_nulls_last)
    },
      // the shared quality chain ranked per source; (quality desc, doc_id)
      // total tie order
      s"""WITH $QualitySql,
        |r AS (SELECT q.doc_id, d.source, q.quality,
        |             CAST(row_number() OVER (PARTITION BY d.source
        |               ORDER BY q.quality DESC, q.doc_id) AS BIGINT) AS rk
        |      FROM q JOIN documents d ON d.doc_id = q.doc_id)
        |SELECT doc_id, source, quality, rk FROM r WHERE rk <= 3
        |ORDER BY source, rk""".stripMargin),
    // BM25 top-20 for a literal 3-term query — micro-tick term scores,
    // exact any-fold-order totals, (score desc, doc_id) rank
    Query("q201_bm25", (s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir),
        query = Seq("join", "filter", "merge")).orderBy("rank"),
      // identical BM25 arithmetic: micro-tick per-term floors, integer
      // sums, same k1/b literals (shared chain with q204)
      s"""WITH $Bm25Sql
        |SELECT rank, doc_id, s / 1000000.0 AS score
        |FROM bmtop WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // reciprocal-rank fusion of the BM25 list with the quality prior —
    // integer 10^9 DIV (60 + rank) terms, k-bounded after the scans
    Query("q204_rrf_fusion", (s, dir) =>
      TextAnalysis.rrfRetrieval(Tables.documents(s, dir),
        query = Seq("join", "filter", "merge")).orderBy("rank"),
      // fused ranking from the shared BM25 chain + the quality CTE:
      // integer 10^9 // (60 + rank) terms, absent ranks → 0
      s"""WITH $Bm25Sql,
        |$QualitySql,
        |lex AS (SELECT doc_id, rank AS lex_rank FROM bmtop WHERE rank <= 50),
        |qrank AS (SELECT doc_id,
        |                 CAST(row_number() OVER (
        |                   ORDER BY CAST(floor(quality * 10000 + 0.5) AS BIGINT) DESC,
        |                            doc_id ASC) AS BIGINT) AS quality_rank
        |          FROM q),
        |qtop AS (SELECT doc_id, quality_rank FROM qrank WHERE quality_rank <= 50),
        |f AS (SELECT coalesce(l.doc_id, t.doc_id) AS doc_id,
        |             CAST(coalesce(1000000000 // (60 + l.lex_rank), 0)
        |                + coalesce(1000000000 // (60 + t.quality_rank), 0) AS BIGINT)
        |               AS rrf_ticks,
        |             CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
        |             CAST(coalesce(t.quality_rank, 0) AS BIGINT) AS quality_rank
        |      FROM lex l FULL OUTER JOIN qtop t ON t.doc_id = l.doc_id),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY rrf_ticks DESC, doc_id ASC)
        |                AS BIGINT) AS rank
        |      FROM f)
        |SELECT rank, doc_id, rrf_ticks, lex_rank, quality_rank
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // per-source readability: words/sentence + alpha-chars/word bp and
    // the clamped Flesch milli-mean
    Query("q207_readability", (s, dir) =>
      TextAnalysis.readabilityProfile(Tables.documents(s, dir))
        .orderBy(col("source").asc_nulls_last),
      // same [.!?]+ sentence runs, [aeiouy]+ vowel groups (floored at one
      // per word), clamped Flesch milli-ticks, HALF_UP integer means
      """WITH d AS (SELECT source,
        |                  greatest(CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                    x -> x <> '')) AS BIGINT), 1) AS w,
        |                  greatest(CAST(len(regexp_extract_all(text, '[\.!\?]+')) AS BIGINT), 1) AS s,
        |                  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS a,
        |                  CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[aeiouy]+')) AS BIGINT) AS syl0
        |           FROM documents),
        |f AS (SELECT source, w, s, a,
        |             greatest(CAST(floor((206.835
        |               - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |               - 84.6 * (CAST(greatest(syl0, w) AS DOUBLE) / CAST(w AS DOUBLE)))
        |               * 1000 + 0.5) AS BIGINT), 0) AS fm
        |      FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST((20000 * sum(w) + sum(s)) // (2 * sum(s)) AS BIGINT) AS wps_bp,
        |       CAST((20000 * sum(a) + sum(w)) // (2 * sum(w)) AS BIGINT) AS cpw_bp,
        |       CAST((2 * sum(fm) + count(*)) // (2 * count(*)) AS BIGINT) AS flesch_milli
        |FROM f GROUP BY 1 ORDER BY source""".stripMargin),
    // incremental ingest gate: new-epoch docs (doc_id%10 ≥ 8) already
    // present in the old epoch by normalized-prefix fingerprint
    Query("q210_epoch_ingest_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.crossEpochPrefixDedup(
        docs.where(pmod(col("doc_id"), lit(10)) < 8),
        docs.where(pmod(col("doc_id"), lit(10)) >= 8))
        .orderBy("source")
    },
      // q149's normalized-prefix fingerprint; old epoch distinct-first
      """WITH n AS (SELECT doc_id, source,
        |                  trim(regexp_replace(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |           FROM documents),
        |k AS (SELECT doc_id, source, md5(substr(norm, 1, 120)) AS fp FROM n),
        |old AS (SELECT DISTINCT fp FROM k WHERE doc_id % 10 < 8),
        |nw AS (SELECT * FROM k WHERE doc_id % 10 >= 8)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_new,
        |       CAST(sum(CASE WHEN fp IN (SELECT fp FROM old) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dup,
        |       CAST((sum(CASE WHEN fp IN (SELECT fp FROM old) THEN 1 ELSE 0 END)
        |             * 10000) // count(*) AS BIGINT) AS dup_bp
        |FROM nw GROUP BY 1 ORDER BY 1""".stripMargin),
    // classifier reliability diagram: score centibins vs quality-gate
    // pass rate, exact offset-tick means
    Query("q221_calibration", (s, dir) =>
      TextAnalysis.scoreCalibration(Tables.documents(s, dir))
        .orderBy("bin"),
      // same md5 classifier + quality formulas; offset-tick integer means
      s"""WITH $QualitySql,
        |$ClassifierScoreSql,
        |b AS (SELECT CAST(floor(score * 100) AS BIGINT) AS bin,
        |             CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS t,
        |             CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS p
        |      FROM scored JOIN q USING (doc_id))
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(t + 1000000) // count(*) - 1000000 AS BIGINT) AS mean_uticks,
        |       CAST((sum(p) * 10000) // count(*) AS BIGINT) AS pass_bp
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    // self-calibrated exact-phrase search: top corpus trigram, per-doc
    // occurrence counts — transform-based adjacency, no position joins
    Query("q225_phrase_match", (s, dir) =>
      TextAnalysis.phraseMatchTopTrigram(Tables.documents(s, dir)),
      // same trigram stream from 1-based list indexing; top-1 tie order
      """WITH w AS (SELECT doc_id,
        |             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                         x -> x <> '') AS ws
        |           FROM documents),
        |tri AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
        |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
        |              FROM w WHERE len(ws) >= 3)),
        |top AS (SELECT w1, w2, w3 FROM tri GROUP BY 1, 2, 3
        |        ORDER BY count(*) DESC, w1, w2, w3 LIMIT 1)
        |SELECT t.doc_id, t.w1, t.w2, t.w3, CAST(count(*) AS BIGINT) AS n_occ
        |FROM tri t JOIN top USING (w1, w2, w3)
        |GROUP BY 1, 2, 3, 4 ORDER BY t.doc_id""".stripMargin),
    // Mann–Whitney rank-sum AUC over the bounded milli-bin score grid,
    // midrank ties in integer halves, decimal(38,0) products
    Query("q246_classifier_auc", (s, dir) =>
      TextAnalysis.classifierAuc(Tables.documents(s, dir)),
      // binned Mann–Whitney over milli-bins: num2 = Σ pos·(2·cumneg+neg),
      // AUC = num2/(2PN) floored to micro; HUGEINT products
      s"""WITH $QualitySql,
        |$ClassifierScoreSql,
        |b AS (SELECT CAST(floor(score * 1000) AS BIGINT) AS bin,
        |             CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS p
        |      FROM scored JOIN q USING (doc_id)),
        |g AS (SELECT bin, CAST(sum(p) AS BIGINT) AS pos,
        |             CAST(count(*) - sum(p) AS BIGINT) AS neg
        |      FROM b GROUP BY 1),
        |c AS (SELECT bin, pos, neg,
        |             coalesce(sum(neg) OVER (ORDER BY bin
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |      FROM g)
        |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |       CAST(sum(neg) AS BIGINT) AS n_neg,
        |       CAST((sum(CAST(pos AS HUGEINT) * (2 * cumneg + neg)) * 1000000)
        |            // (2 * CAST(sum(pos) AS HUGEINT) * sum(neg)) AS BIGINT)
        |         AS auc_micro
        |FROM c""".stripMargin),
    // per-source → global quantile calibration map on the bounded
    // (source × 4dp-quality) counting grids
    Query("q247_quantile_norm", (s, dir) =>
      TextAnalysis.quantileNormTable(Tables.documents(s, dir)),
      // type-1 cuts at d/10 per source AND globally on the same 4dp grid
      s"""WITH $QualitySql,
        |cells AS (SELECT d.source, q.quality, CAST(count(*) AS BIGINT) AS cnt
        |          FROM q JOIN documents d USING (doc_id)
        |          WHERE q.quality IS NOT NULL GROUP BY 1, 2),
        |sl AS (SELECT source, quality,
        |              sum(cnt) OVER (PARTITION BY source ORDER BY quality
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |              sum(cnt) OVER (PARTITION BY source) AS n
        |       FROM cells),
        |ds AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS decile),
        |sc2 AS (SELECT source, decile,
        |               min(CASE WHEN cum * 10 >= n * decile THEN quality END)
        |                 AS source_cut
        |        FROM sl CROSS JOIN ds GROUP BY 1, 2),
        |gcells AS (SELECT quality, CAST(sum(cnt) AS BIGINT) AS cnt
        |           FROM cells GROUP BY 1),
        |gl AS (SELECT quality,
        |              sum(cnt) OVER (ORDER BY quality
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |              sum(cnt) OVER () AS n
        |       FROM gcells),
        |gc AS (SELECT decile,
        |              min(CASE WHEN cum * 10 >= n * decile THEN quality END)
        |                AS global_cut
        |       FROM gl CROSS JOIN ds GROUP BY 1)
        |SELECT s.source, s.decile, s.source_cut, g.global_cut
        |FROM sc2 s JOIN gc g USING (decile)
        |ORDER BY s.source, s.decile""".stripMargin),
    // code-switching detector: second-best marker score within 4/5 of
    // the best; exact integer comparisons
    Query("q285_mixed_lang", (s, dir) =>
      TextAnalysis.mixedLanguageCensus(Tables.documents(s, dir)),
      // the q104 marker scores, second-best within 4/5 of the best
      """WITH s AS (
        |  SELECT source, list_reverse_sort([
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist', 'ein'))) AS BIGINT),
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('the', 'and', 'of', 'is', 'to', 'in', 'that'))) AS BIGINT),
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('el', 'la', 'los', 'las', 'es', 'un', 'una', 'que'))) AS BIGINT),
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('le', 'la', 'les', 'est', 'une', 'des', 'dans'))) AS BIGINT),
        |    CAST(len(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-z0-9_]+'), t -> t IN ('de', 'shi', 'bu', 'le', 'zai', 'wo', 'you'))) AS BIGINT)]) AS l
        |  FROM documents),
        |m AS (SELECT source, l[1] AS b, l[2] AS b2 FROM s)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN b > 0 AND b2 * 5 >= b * 4 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_mixed,
        |       CAST(floor(sum(CASE WHEN b > 0 AND b2 * 5 >= b * 4
        |                           THEN 1 ELSE 0 END) * 10000.0 / count(*)
        |                  + 0.5) AS BIGINT) AS mixed_bp
        |FROM m GROUP BY source ORDER BY source""".stripMargin),
    // Horvitz–Thompson estimate audit: scale the q68 sample back up by
    // exact tick-rational inverse rates, err vs truth in HALF_UP bp
    Query("q275_ht_estimate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val ticks = when(col("source") === "src0", 10000L)
        .when(col("source") === "src1", 7500L)
        .when(col("source") === "src2", 5000L)
        .when(col("source") === "src3", 2500L).otherwise(1000L)
      val kept = TextAnalysis
        .mixtureSample(docs, MixtureRates, defaultRate = 0.1)
        .where(col("kept"))
        .groupBy(col("source")).agg(count(lit(1)).as("__k"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_actual"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_actual"),
          coalesce(col("__k"), lit(0L)).as("n_kept"),
          expr("CAST(coalesce(__k, 0) * 10000 AS BIGINT)").as("__scaled"),
          ticks.as("__t"))
        .select(col("source"), col("n_actual"), col("n_kept"),
          expr("__scaled DIV __t").as("n_est"))
        .withColumn("err_bp",
          floor(abs(col("n_est") - col("n_actual")) * 10000.0 /
            col("n_actual") + 0.5).cast("long"))
        .orderBy(col("source").asc_nulls_last)
    },
      // the q68 kept predicate scaled back by exact tick inverse rates
      """WITH k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        |           FROM documents
        |           WHERE (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                   % 10000) <
        |                 (CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500
        |                              WHEN 'src2' THEN 5000 WHEN 'src3' THEN 2500
        |                              ELSE 1000 END)
        |           GROUP BY 1),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_actual
        |      FROM documents GROUP BY 1),
        |j AS (SELECT a.source, a.n_actual,
        |             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |             CAST((coalesce(k.n_kept, 0) * 10000) //
        |                  (CASE a.source WHEN 'src0' THEN 10000
        |                                 WHEN 'src1' THEN 7500
        |                                 WHEN 'src2' THEN 5000
        |                                 WHEN 'src3' THEN 2500
        |                                 ELSE 1000 END) AS BIGINT) AS n_est
        |      FROM a LEFT JOIN k USING (source))
        |SELECT source, n_actual, n_kept, n_est,
        |       CAST(floor(abs(n_est - n_actual) * 10000.0 / n_actual + 0.5)
        |            AS BIGINT) AS err_bp
        |FROM j ORDER BY source""".stripMargin),
    // release-diff trending tokens: both halves' top-200 vocab ranks
    // joined, top movers by |Δrank|
    Query("q276_trending_tokens", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def ranked(pred: Column): DataFrame = {
        val w = Window.orderBy(col("n").desc, col("token"))
        docs.where(pred)
          .select(explode(TextAnalysis.tokens(TextAnalysis.asciiLower(col("text")))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(200)
          .withColumn("rnk", row_number().over(w).cast("long"))
      }
      val a = ranked(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("token"), col("rnk").as("rank_a"))
      val b = ranked(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("token"), col("rnk").as("rank_b"))
      a.join(b, Seq("token"))
        .withColumn("abs_delta", abs(col("rank_a") - col("rank_b")))
        .orderBy(col("abs_delta").desc, col("token"))
        .limit(20)
    },
      // both halves' top-200 ranks (total order: count desc, token), top
      // movers by |Δrank|
      """WITH tk AS (SELECT doc_id % 2 AS h,
        |              unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                 x -> x <> '')) AS token
        |            FROM documents),
        |cnt AS (SELECT h, token, CAST(count(*) AS BIGINT) AS n
        |        FROM tk GROUP BY 1, 2),
        |rk AS (SELECT h, token, CAST(row_number() OVER (PARTITION BY h
        |         ORDER BY n DESC, token) AS BIGINT) AS rnk FROM cnt),
        |a AS (SELECT token, rnk AS rank_a FROM rk WHERE h = 0 AND rnk <= 200),
        |b AS (SELECT token, rnk AS rank_b FROM rk WHERE h = 1 AND rnk <= 200),
        |j AS (SELECT a.token, a.rank_a, b.rank_b,
        |             abs(a.rank_a - b.rank_b) AS abs_delta
        |      FROM a JOIN b USING (token))
        |SELECT token, rank_a, rank_b, abs_delta FROM j
        |ORDER BY abs_delta DESC, token LIMIT 20""".stripMargin),
    // serving-side bigram suggest table: top-3 continuations per
    // eligible prefix, lexicographic ties
    Query("q268_autocomplete", (s, dir) =>
      TextAnalysis.bigramAutocomplete(Tables.documents(s, dir)),
      // bigram pairs via list_transform; minCount prefix gate; ties
      // lexicographic
      """WITH w AS (SELECT list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                              x -> x <> '') AS words
        |           FROM documents),
        |bi0 AS (SELECT unnest(list_transform(range(1, len(words)),
        |                 i -> words[i] || chr(1) || words[i+1])) AS pw
        |        FROM w WHERE len(words) >= 2),
        |bi AS (SELECT split_part(pw, chr(1), 1) AS prefix,
        |              split_part(pw, chr(1), 2) AS next_word
        |       FROM bi0),
        |cnt AS (SELECT prefix, next_word, CAST(count(*) AS BIGINT) AS n
        |        FROM bi GROUP BY 1, 2),
        |el AS (SELECT prefix FROM cnt GROUP BY prefix HAVING sum(n) >= 10),
        |r AS (SELECT c.prefix, c.next_word, c.n,
        |             CAST(row_number() OVER (PARTITION BY c.prefix
        |               ORDER BY c.n DESC, c.next_word) AS BIGINT) AS rank
        |      FROM cnt c JOIN el USING (prefix))
        |SELECT prefix, rank, next_word, n FROM r WHERE rank <= 3
        |ORDER BY prefix, rank""".stripMargin),
    // vocabulary overlap coefficient per source pair on the
    // (source × distinct token) relation
    Query("q267_vocab_overlap", (s, dir) =>
      TextAnalysis.vocabOverlapMatrix(Tables.documents(s, dir)),
      // (source × distinct token) relation; floor-bp coefficient
      """WITH v AS (SELECT DISTINCT source,
        |             unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                x -> x <> '')) AS tok
        |           FROM documents),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
        |i AS (SELECT a.source AS source_a, b.source AS source_b,
        |             CAST(count(*) AS BIGINT) AS n_common
        |      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, sa.nv AS nv_a, sb.nv AS nv_b,
        |       i.n_common,
        |       CAST((i.n_common * 10000) // least(sa.nv, sb.nv) AS BIGINT)
        |         AS overlap_bp
        |FROM i JOIN sz sa ON sa.source = i.source_a
        |       JOIN sz sb ON sb.source = i.source_b
        |ORDER BY i.source_a, i.source_b""".stripMargin),
    // ML-ops drift gate: PSI between corpus halves per source over the
    // fixed 11-bin quality grid, add-one smoothed, micro-nat logs
    Query("q259_psi_drift", (s, dir) =>
      TextAnalysis.psiDrift(Tables.documents(s, dir),
        pmod(col("doc_id"), lit(2)) === 0),
      // fixed 11-bin grid, add-one smoothing over the FULL grid, floored
      // micro shares, round-half-away micro-nat logs on both engines
      s"""WITH $QualitySql,
        |h AS (SELECT d.source, d.doc_id % 2 AS g,
        |             CAST(floor(q.quality * 10) AS BIGINT) AS bin
        |      FROM q JOIN documents d USING (doc_id)),
        |cnt AS (SELECT source, g, bin, count(*) AS c FROM h GROUP BY 1, 2, 3),
        |grid AS (SELECT s.source, gg.g, b.bin
        |         FROM (SELECT DISTINCT source FROM documents) s
        |         CROSS JOIN (SELECT unnest([0, 1]) AS g) gg
        |         CROSS JOIN (SELECT unnest(range(0, 11)) AS bin) b),
        |f AS (SELECT grid.source, grid.g, grid.bin,
        |             coalesce(cnt.c, 0) + 1 AS c1
        |      FROM grid LEFT JOIN cnt ON cnt.source = grid.source
        |        AND cnt.g = grid.g AND cnt.bin = grid.bin),
        |tot AS (SELECT source, g, CAST(sum(c1) AS BIGINT) AS n1
        |        FROM f GROUP BY 1, 2),
        |sh AS (SELECT f.source, f.g, f.bin, (f.c1 * 1000000) // t.n1 AS p,
        |              f.c1, t.n1
        |       FROM f JOIN tot t ON t.source = f.source AND t.g = f.g),
        |t2 AS (SELECT a.source, a.n1 AS na, b.n1 AS nb,
        |              (a.p - b.p) * CAST(round(ln(CAST(a.c1 * b.n1 AS DOUBLE)
        |                / (b.c1 * a.n1)) * 1000000, 0) AS BIGINT) AS term
        |       FROM sh a JOIN sh b ON b.source = a.source
        |         AND b.bin = a.bin AND a.g = 0 AND b.g = 1)
        |SELECT source, CAST(max(na) - 11 AS BIGINT) AS n_a,
        |       CAST(max(nb) - 11 AS BIGINT) AS n_b,
        |       CAST(greatest(sum(term), 0) // 1000000 AS BIGINT) AS psi_micro
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin),
    // dataset-card signature terms: per-source top-3 lift over the
    // global token share, exact integer micro lifts
    Query("q255_signature_terms", (s, dir) =>
      TextAnalysis.sourceSignatureTerms(Tables.documents(s, dir)),
      // exact integer micro lifts over vocab-dim aggregates; rank ties
      // lexicographic; minCount 20 gates hapax noise
      """WITH tok AS (SELECT source,
        |               unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                                  x -> x <> '')) AS token
        |             FROM documents),
        |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |       FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1),
        |gt AS (SELECT token, CAST(sum(c) AS BIGINT) AS cg FROM st GROUP BY 1),
        |ng AS (SELECT CAST(sum(cg) AS BIGINT) AS ng FROM gt),
        |lf AS (SELECT st.source, st.token, st.c,
        |              CAST((CAST(st.c AS HUGEINT) * ng.ng * 1000000)
        |                   // (CAST(ns.ns AS HUGEINT) * gt.cg) AS BIGINT)
        |                AS lift_micro
        |       FROM st JOIN gt USING (token) JOIN ns USING (source)
        |       CROSS JOIN ng WHERE st.c >= 20),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY lift_micro DESC, token) AS BIGINT) AS rank FROM lf)
        |SELECT source, rank, token, c, lift_micro FROM r WHERE rank <= 3
        |ORDER BY source, rank""".stripMargin),
    // source concentration: sources ranked by token mass, cumulative
    // share — "how few sources carry 90% of the corpus"
    Query("q198_source_concentration", (s, dir) => {
      val bySrc = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextAnalysis.nTokensExpr(col("text"))).as("n_tokens"))
      val ord = Seq(col("n_tokens").desc, col("source").asc)
      val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      bySrc
        .withColumn("rank", row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy(ord: _*))
          .cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("cum_share_bp",
          expr("(cum_tokens * 10000) DIV sum(n_tokens) OVER ()"))
        .select("rank", "source", "n_tokens", "cum_tokens", "cum_share_bp")
        .orderBy("rank")
    },
      // token-mass ranking with cumulative floor-bp shares
      """WITH s AS (SELECT source,
        |                  CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                    x -> x <> ''))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |r AS (SELECT source, n_tokens,
        |             CAST(row_number() OVER (ORDER BY n_tokens DESC, source ASC)
        |               AS BIGINT) AS rank,
        |             CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |               AS cum_tokens,
        |             CAST(sum(n_tokens) OVER () AS BIGINT) AS tot
        |      FROM s)
        |SELECT rank, source, n_tokens, cum_tokens,
        |       CAST((cum_tokens * 10000) // tot AS BIGINT) AS cum_share_bp
        |FROM r ORDER BY rank""".stripMargin),
    // the corpus one-pager: six families' headline numbers as one
    // (metric, value) table — every term reuses an already-gated
    // expression
    Query("q200_corpus_health", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.nTokensExpr(col("text"))).as("n_tokens"),
        sum((TextAnalysis.splitExpr() === "train").cast("long"))
          .as("train_docs"))
      val vocab = docs
        .select(explode(TextAnalysis.tokens(TextAnalysis.asciiLower(col("text")))).as("t"))
        .agg(countDistinct(col("t")).as("vocab_size"))
      val dups = docs
        .select(md5(trim(regexp_replace(TextAnalysis.asciiLower(col("text")), "\\s+", " ")))
          .as("f"))
        .groupBy(col("f")).agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .agg(count(lit(1)).as("exact_dup_groups"))
      val quality = docs
        .select(floor(TextAnalysis.qualityExpr(col("text")) * 10000 + 0.5)
          .cast("long").as("q_ticks"))
        .agg(expr("(2 * sum(q_ticks) + count(1)) DIV (2 * count(1))")
          .as("mean_quality_ticks"))
      base.crossJoin(vocab).crossJoin(dups).crossJoin(quality)
        .select(expr(
          "stack(6, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
            "'train_docs', train_docs, 'vocab_size', vocab_size, " +
            "'exact_dup_groups', coalesce(exact_dup_groups, 0), " +
            "'mean_quality_ticks', mean_quality_ticks) AS (metric, value)"))
        .orderBy("metric")
    },
      // six already-gated expressions folded to one (metric, value) table
      s"""WITH $QualitySql,
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
        |               x -> x <> ''))) AS BIGINT) AS n_tokens,
        |             CAST(sum(CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 90
        |                           THEN 1 ELSE 0 END) AS BIGINT) AS train_docs
        |      FROM documents),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
        |      FROM (SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
        |              x -> x <> '')) AS tok FROM documents) t),
        |dg AS (SELECT CAST(count(*) AS BIGINT) AS exact_dup_groups
        |       FROM (SELECT md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+', ' ', 'g'))) AS f
        |             FROM documents GROUP BY 1 HAVING count(*) > 1) g0),
        |mq AS (SELECT CAST((2 * sum(CAST(floor(quality * 10000 + 0.5) AS BIGINT))
        |               + count(*)) // (2 * count(*)) AS BIGINT)
        |               AS mean_quality_ticks
        |       FROM q)
        |SELECT 'exact_dup_groups' AS metric,
        |       (SELECT exact_dup_groups FROM dg) AS value
        |UNION ALL SELECT 'mean_quality_ticks', (SELECT mean_quality_ticks FROM mq)
        |UNION ALL SELECT 'n_docs', (SELECT n_docs FROM b)
        |UNION ALL SELECT 'n_tokens', (SELECT n_tokens FROM b)
        |UNION ALL SELECT 'train_docs', (SELECT train_docs FROM b)
        |UNION ALL SELECT 'vocab_size', (SELECT vocab_size FROM v)
        |ORDER BY metric""".stripMargin),
    // corpus unigram entropy in exact micro-nat terms (the charEntropy
    // discipline at vocab level) + effective vocabulary exp(H) — the
    // one-number diversity complement to the zipf slope
    Query("q195_vocab_entropy", (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(TextAnalysis.asciiLower(col("text")))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy()
      counts
        .withColumn("__n", sum(col("c")).over(n))
        .select(col("c"), col("__n"),
          floor((col("c") / col("__n").cast("double")) *
            log(col("__n").cast("double") / col("c")) * 1000000 + 0.5)
            .cast("long").as("__t"))
        .agg(max(col("__n")).as("n_tokens"), count(lit(1)).as("vocab_size"),
          sum(col("__t")).as("__s"))
        .select(col("n_tokens"), col("vocab_size"),
          (col("__s") / 1000000.0).as("entropy"),
          round(exp(col("__s") / 1000000.0), 4).as("eff_vocab"))
    },
      // the charEntropy micro-nat discipline over the global vocab
      """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                  x -> x <> '')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |w AS (SELECT c, CAST(sum(c) OVER () AS BIGINT) AS n FROM c),
        |tm AS (SELECT n,
        |              CAST(floor((c / CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE) / c)
        |                * 1000000 + 0.5) AS BIGINT) AS t
        |       FROM w),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS vocab_size,
        |             CAST(sum(t) AS BIGINT) AS s
        |      FROM tm)
        |SELECT n_tokens, vocab_size, s / 1000000.0 AS entropy,
        |       round(exp(s / 1000000.0), 4) AS eff_vocab
        |FROM a""".stripMargin),
    // per-source template extraction: LCP(group) = LCP(min, max) — two
    // string aggregates + one bounded per-GROUP prefix scan; banner
    // decoration plants real templates on two sources
    Query("q183_source_template", (s, dir) => {
      val decorated = Tables.documents(s, dir)
        .select(col("source"),
          when(col("source").isin("src0", "src1"),
            concat(lit("<<"), col("source"), lit(" banner>> "), col("text")))
            .otherwise(col("text")).as("text"))
      decorated
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("text")).as("__a"),
          max(col("text")).as("__b"))
        .withColumn("__n", least(length(col("__a")), length(col("__b"))))
        .withColumn("lcp_len",
          when(col("__n") > 0,
            size(filter(sequence(lit(1), col("__n")),
              i => col("__a").substr(lit(1), i) === col("__b").substr(lit(1), i)))
              .cast("long"))
            .otherwise(lit(0L)))
        .select(col("source"), col("n_docs"), col("lcp_len"),
          col("__a").substr(lit(1), least(col("lcp_len"), lit(40L)).cast("int"))
            .as("lcp_prefix"))
        .orderBy(col("source").asc_nulls_last)
    },
      // LCP(min, max) per source over the banner-decorated corpus
      """WITH d AS (SELECT source,
        |                  CASE WHEN source IN ('src0', 'src1')
        |                       THEN '<<' || source || ' banner>> ' || text
        |                       ELSE text END AS text
        |           FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             min(text) AS a, max(text) AS b
        |      FROM d GROUP BY 1),
        |l AS (SELECT source, n_docs, a,
        |             CAST(len(list_filter(range(1, least(length(a), length(b)) + 1),
        |               i -> substr(a, 1, CAST(i AS INT)) = substr(b, 1, CAST(i AS INT))))
        |               AS BIGINT) AS lcp_len
        |      FROM g)
        |SELECT source, n_docs, lcp_len,
        |       substr(a, 1, CAST(least(lcp_len, 40) AS INT)) AS lcp_prefix
        |FROM l ORDER BY source""".stripMargin),
    // vocabulary health: hapax share per source on corpus-global
    // occurrence counts — Zipf-healthy text runs ~40-60%, templated
    // text collapses, OCR junk explodes
    Query("q287_hapax_census", (s, dir) =>
      TextAnalysis.hapaxCensus(Tables.documents(s, dir)),
      // occurrence-count df; a df=1 token belongs to one source, so the
      // census partitions the global hapax set; HALF_UP bp
      s"""WITH tok AS (SELECT coalesce(source, '<none>') AS source, doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
        |                            x -> x <> '')) AS token
        |       FROM documents),
        |d AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
        |p AS (SELECT DISTINCT source, token FROM tok)
        |SELECT p.source, CAST(count(*) AS BIGINT) AS vocab_size,
        |       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST((20000 * sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) + count(*))
        |         // (2 * count(*)) AS BIGINT) AS hapax_bp
        |FROM p JOIN d USING (token) GROUP BY 1 ORDER BY source""".stripMargin),
    // corpus-head burstiness: of each top-20 token's occurrences, the
    // distinct-doc share in floor bp (10000 = function word, low =
    // templated/bursty)
    Query("q289_token_dispersion", (s, dir) =>
      TextAnalysis.tokenDispersion(Tables.documents(s, dir)).orderBy("rank"),
      // (tf desc, token) top-20 with floor-bp distinct-doc share
      s"""WITH tok AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
        |                            x -> x <> '')) AS token
        |       FROM documents),
        |st AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |              CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |top AS (SELECT token, tf, df,
        |               CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT)
        |                 AS rank
        |        FROM st)
        |SELECT rank, token, tf, df, (df * 10000) // tf AS dispersion_bp
        |FROM top WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // Heaps-law vocab-growth checkpoints + log-log OLS slope: tokens
    // are new at their MIN doc rank, so no running distinct anywhere
    Query("q293_heaps_law", (s, dir) =>
      TextAnalysis.heapsLawCurve(Tables.documents(s, dir)),
      // a token is new at its MIN doc rank; power-of-two checkpoints +
      // the corpus size; micro log-ticks, exact integer OLS sums
      s"""WITH tok AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
        |                            x -> x <> '')) AS token
        |       FROM documents),
        |rk AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
        |              AS rk FROM documents),
        |fs AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY token),
        |fr AS (SELECT rk.rk, CAST(count(*) AS BIGINT) AS nnew
        |       FROM fs JOIN rk USING (doc_id) GROUP BY 1),
        |nn AS (SELECT max(rk) AS n FROM rk),
        |cps AS (SELECT DISTINCT checkpoint FROM (
        |          SELECT CAST(pow(2, g) AS BIGINT) AS checkpoint
        |          FROM range(0, 62) t(g), nn WHERE pow(2, g) < nn.n
        |          UNION ALL SELECT n FROM nn)),
        |curve AS (SELECT c.checkpoint, CAST(sum(f.nnew) AS BIGINT) AS vocab
        |          FROM cps c JOIN fr f ON f.rk <= c.checkpoint GROUP BY 1),
        |pts AS (SELECT checkpoint, vocab,
        |               CAST(round(ln(checkpoint) * 1000000) AS BIGINT) AS x,
        |               CAST(round(ln(vocab) * 1000000) AS BIGINT) AS y
        |        FROM curve),
        |beta AS (SELECT CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |                ELSE ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
        |                END AS BIGINT) AS beta_milli
        |         FROM (SELECT CAST(count(*) AS HUGEINT) AS n,
        |                      CAST(sum(x) AS HUGEINT) AS sx,
        |                      CAST(sum(y) AS HUGEINT) AS sy,
        |                      CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |                      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |               FROM pts) s)
        |SELECT p.checkpoint, p.vocab, b.beta_milli
        |FROM pts p CROSS JOIN beta b ORDER BY checkpoint""".stripMargin),
    // shingle novelty by ingest epoch: the diminishing-returns curve
    Query("q300_novelty_decay", (s, dir) =>
      TextAnalysis.arrivalNoveltyDecay(Tables.documents(s, dir)),
      // per-shingle min(doc_id) first-seen; ingest epochs by integer
      // doc_id cuts; HALF_UP bp
      """WITH w AS (SELECT doc_id,
        |             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'),
        |                         x -> x <> '') AS words
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words) - 1),
        |                                       i -> array_to_string(words[i:i+2], ' '))) AS shingle
        |  FROM w WHERE len(words) >= 3) t),
        |f AS (SELECT shingle, min(doc_id) AS first FROM sh GROUP BY 1),
        |pd AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |              CAST(sum(CASE WHEN f.first = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |       FROM sh JOIN f USING (shingle) GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS m FROM documents)
        |SELECT CAST((10 * pd.doc_id) // (mx.m + 1) AS BIGINT) AS band,
        |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
        |       CAST(sum(n_new) AS BIGINT) AS n_novel,
        |       CAST((20000 * sum(n_new) + sum(n_sh)) // (2 * sum(n_sh)) AS BIGINT)
        |         AS novelty_bp
        |FROM pd CROSS JOIN mx GROUP BY 1 ORDER BY 1""".stripMargin),
    // span-level exact-substring REMOVAL (the q64 detection's action):
    // repeated 13-gram spans cut from every doc but the first container
    Query("q305_span_dedup", (s, dir) =>
      TextAnalysis.dedupSpans(Tables.documents(s, dir)).orderBy("doc_id"),
      // independent replay of the span cut: repeated-13-gram starts in
      // non-first docs cover positions; survivors reassemble by position
      """WITH w AS (
        |  SELECT doc_id,
        |         coalesce(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'), x -> x <> ''),
        |                  CAST([] AS VARCHAR[])) AS words
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, s, array_to_string(words[s:s+12], ' ') AS shingle
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 11)) AS s
        |        FROM w WHERE len(words) >= 13) t),
        |rep AS (
        |  SELECT shingle, min(doc_id) AS first_doc
        |  FROM (SELECT DISTINCT doc_id, shingle FROM sp) d
        |  GROUP BY shingle HAVING count(*) >= 2),
        |dr AS (SELECT DISTINCT sp.doc_id, sp.s
        |       FROM sp JOIN rep ON rep.shingle = sp.shingle
        |       WHERE sp.doc_id <> rep.first_doc),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + 13)) AS pos FROM dr),
        |p AS (SELECT doc_id, unnest(range(1, len(words) + 1)) AS pos,
        |             unnest(words) AS tok
        |      FROM w),
        |kept AS (SELECT p.doc_id, p.pos, p.tok
        |         FROM p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.pos = p.pos
        |         WHERE c.pos IS NULL),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
        |        FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.words) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(agg.cleaned, '') AS cleaned
        |FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
        |ORDER BY w.doc_id""".stripMargin),
  )
}
