package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, n-gram language ID, and document
  * fingerprinting. All pure codegen'd column expressions — no UDFs — so the
  * whole stage stays inside WholeStageCodegen and scales linearly with
  * document count (no shuffle at all for the per-document ops).
  */
object TextAnalysis {

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish lexical pieces: alphanumeric runs or single non-space symbols. */
  private val bpePattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Per-document token statistics.
    * Output: doc_id, n_chars, n_tokens, n_pieces, avg_token_len.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).cast("long").as("n_pieces"),
      round(
        when(size(toks) > 0,
          aggregate(transform(toks, t => length(t).cast("double")), lit(0.0), _ + _) /
            size(toks).cast("double"))
          .otherwise(lit(0.0)), 4).as("avg_token_len"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Whitespace token count as a pure column over `text`. */
  def nTokensExpr(text: Column): Column = size(tokens(text)).cast("long")

  /** The composite quality score in [0, 1] as a pure column over `text` —
    * exactly the formula [[qualityScore]] emits, exposed so composed
    * pipelines ([[CorpusPrep]]) can fuse the gate into a single scan
    * instead of re-reading the corpus per signal. Codegen's subexpression
    * elimination dedupes the shared regex counts within one projection.
    *
    * Semantics: 0.5·min(nToks/200, 1) + 0.3·min(5·nStop/nToks, 1) +
    * 0.2·(1 − min(4·(nPunct+nDigit)/nChars, 1)), on the 4dp grid —
    * computed as ONE exact integer rational with a single HALF_UP
    * rounding (all inputs are counts, so the three terms share the
    * common denominator nToks·nChars). The float formulation
    * (`round(0.5·a + 0.3·b + 0.2·c, 4)`) half-tie-diverged between
    * engines on 6 of 5000 sf0.1 docs (1e-4 each) — the same class as
    * the q73 lesson, caught by the sf0.1 stress sweep. Operands stay
    * non-negative so Spark `div` (truncate) and DuckDB `//` (floor)
    * agree.
    *
    * Input bounds: all operands are PER-DOCUMENT counts and the widest
    * product is 3000·nToks·nChars, which fits a signed 64-bit integer
    * while nToks·nChars < ~1.5e15 — a single document tens of MB large.
    * Past that both engines diverge the same way (Spark wraps silently,
    * DuckDB raises), so cap document size upstream (the DocGate length
    * gate every ingest front door runs) before scoring; corpus SIZE
    * never enters this expression.
    */
  def qualityExpr(text: Column): Column = {
    val nChars = length(text).cast("long")
    val nToks = size(tokens(text)).cast("long")
    val nPunct = size(regexp_extract_all(text, lit("[\\.,;:!\\?]"), lit(0))).cast("long")
    val nDigit = size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("long")
    val nStop = markerCount(text, stopwords).cast("long")
    def div(n: Column, d: Column): Column = call_function("div", n, d)
    // c1 = 10⁴·0.5·min(nToks/200, 1) — exact (25 divides 10⁴·min/200)
    val c1 = lit(25L) * least(nToks, lit(200L))
    val a = least(lit(5L) * nStop, nToks)                  // min(5·nStop/nToks,1)·nToks
    val b = least(lit(4L) * (nPunct + nDigit), nChars)     // min(4·(p+d)/nChars,1)·nChars
    val den = nToks * nChars
    // ticks = c1 + HALF_UP((3000·a·nChars + 2000·den − 2000·b·nToks)/den);
    // numerator ≥ 0 because b ≤ nChars
    val n3 = lit(3000L) * a * nChars - lit(2000L) * b * nToks + lit(2000L) * den
    val ticks =
      when(nChars === 0L, lit(2000L) + c1) // no chars ⇒ nStop = 0, ratios 0
        .when(nToks === 0L, // t1 = t2 = 0; t3 = 2000·(nChars−b)/nChars
          div(lit(4000L) * (nChars - b) + nChars, lit(2L) * nChars))
        .otherwise(c1 + div(lit(2L) * n3 + den, lit(2L) * den))
    ticks.cast("double") / 10000.0
  }

  /** Per-document quality signals (length, punctuation ratio, stopword ratio,
    * digit ratio) and a deterministic composite score in [0, 1].
    * Mirrors the heuristics large text-corpus filters apply (C4/Gopher-style),
    * expressed as pure column math.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val toks = tokens(col("text"))
    val nToks = size(toks).cast("long")
    val nPunct = size(regexp_extract_all(col("text"), lit("[\\.,;:!\\?]"), lit(0))).cast("long")
    val nDigit = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("long")
    val nStop = markerCount(col("text"), stopwords).cast("long")
    // exact HALF_UP 4dp of the COUNT-derived ratios (the integer-rational
    // ticks discipline): the former float round(n/d, 4) was the last
    // half-tie-capable round in the quality family — counts CAN land on
    // exact .5 ties, where Spark's BigDecimal-of-double and DuckDB's
    // round disagree
    def ticks4(n: Column, d: Column): Column =
      call_function("div", lit(2L) * n * lit(10000L) + d, lit(2L) * d)
        .cast("double") / 1e4
    docs.select(
      col("doc_id"),
      when(nChars > 0, ticks4(nPunct, nChars)).otherwise(0.0).as("punct_ratio"),
      when(nChars > 0, ticks4(nDigit, nChars)).otherwise(0.0).as("digit_ratio"),
      when(nToks > 0, ticks4(nStop, nToks)).otherwise(0.0).as("stopword_ratio"),
      nToks.as("n_tokens"),
      qualityExpr(col("text")).as("quality"))
  }

  /** Per-source quality quantiles (p25/p50/p75) — the distribution view
    * behind a per-source filtering policy: a source whose median sits
    * under the global gate threshold is dropped wholesale, one with a
    * thin low-quality tail is filtered per-document. Quantiles are
    * explicit type-1 (smallest value with cumulative count ≥ ⌈p·n⌉, as
    * exact integer comparisons — no interpolation, engine-portable), and
    * the cumulative window runs over the (source × 4dp-quality-grid)
    * COUNTING dim — ≤ 10001 cells per source at any corpus size, the
    * [[graft.operators.Stats]] counting-quantile discipline.
    * Output: source, n_docs, p25, p50, p75.
    */
  def sourceQualityQuantiles(docs: DataFrame): DataFrame = {
    val cells = docs
      .select(col("source"), qualityExpr(col("text")).as("quality"))
      // null quality (null text) is not a quantile observation — the
      // quantileBuckets null convention; also keeps the cumulation
      // engine-portable (Spark windows order an included null FIRST,
      // DuckDB LAST)
      .where(col("quality").isNotNull)
      .groupBy(col("source"), col("quality")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrc = Window.partitionBy(col("source"))
    def pick(p: Int): Column =
      min(when(col("cum") * 100 >= col("n") * p, col("quality"))).as(s"p$p")
    cells
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wSrc))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), pick(25), pick(50), pick(75))
  }

  /** Per-source quantile-normalization table — the calibration map that
    * puts every source's quality scores on ONE comparable scale before a
    * global cut (a source whose crawler produces systematically long
    * docs would otherwise dominate any absolute-threshold gate). For
    * each source and interior q-quantile d/q: the source's own type-1
    * cut and the global cut at the same rank — "a doc at this source's
    * d-th decile sits HERE globally". Type-1 quantiles as exact integer
    * comparisons (smallest value with cum·q ≥ n·d) on the (source ×
    * 4dp-quality) counting grid, the [[sourceQualityQuantiles]]
    * discipline: ≤ 10001 cells per source (and globally) at any corpus
    * size; the global-grid window is single-partition over that bounded
    * grid by construction. Output: source, decile, source_cut,
    * global_cut.
    */
  def quantileNormTable(docs: DataFrame, q: Int = 10): DataFrame = {
    require(q >= 2, "need at least 2 quantile buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    // pinned: the quality projection (tokenize + char-class over full
    // text) feeds BOTH the per-source and the global counting grid —
    // unpinned it evaluates once per grid (the q191 quantileBuckets
    // class). The pinned rows are (source, long) — corpus-sized but
    // narrow. r12 A/B at sf0.1 (two pairs, control-normalized):
    // q247 2.88/2.90 -> 2.57/2.68 s — modest here because the grid
    // aggregation dominates at this corpus size, but the saved pass is
    // the full-text scan, which grows with document size.
    val scored = Pins.pin(docs
      .select(col("source"), qualityExpr(col("text")).as("quality"))
      .where(col("quality").isNotNull)) // the quantileBuckets null convention
    val deciles = broadcast((1 until q).map(_.toLong).toDF("decile"))
    def cuts(cells: DataFrame, parts: Seq[String], out: String): DataFrame = {
      val wCum = Window.partitionBy(parts.map(col): _*).orderBy(col("quality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(parts.map(col): _*)
      cells
        .withColumn("__cum", sum(col("cnt")).over(wCum))
        .withColumn("__n", sum(col("cnt")).over(wAll))
        .crossJoin(deciles)
        .groupBy((parts.map(col) :+ col("decile")): _*)
        .agg(min(when(col("__cum") * q >= col("__n") * col("decile"),
          col("quality"))).as(out))
    }
    val srcCuts = cuts(
      scored.groupBy(col("source"), col("quality")).agg(count(lit(1)).as("cnt")),
      Seq("source"), "source_cut")
    val globalCuts = cuts(
      scored.groupBy(col("quality")).agg(count(lit(1)).as("cnt")),
      Seq.empty, "global_cut")
    srcCuts.join(broadcast(globalCuts), Seq("decile"))
      .select(col("source"), col("decile"), col("source_cut"), col("global_cut"))
      .orderBy(col("source").asc_nulls_last, col("decile")) // null source: DuckDB NULLS LAST
  }

  /** Marker-word lists per language for the n-gram heuristic language ID. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein"),
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "que"),
    "fr" -> Seq("le", "la", "les", "est", "une", "des", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "wo", "you"))

  /** Marker-hit score columns `s_<lang>` over `text` — the first projection
    * of [[languageId]], exposed for fused pipelines. */
  /** ASCII-pinned case fold: A-Z -> a-z ONLY. java.lang full case
    * mapping and utf8proc/ICU codepoint mapping disagree outside ASCII
    * (U+0130 Istanbul-I lowers to "i"+combining-dot in Java but "i" in
    * DuckDB; eszett/ligatures differ too), so any tokenization built on
    * engine `lower` diverges between engines on non-ASCII corpora. The
    * whole text pipeline folds case through this translate instead --
    * non-ASCII case is preserved as-is, identically everywhere.
    */
  def asciiLower(c: Column): Column =
    translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** Marker-word count with ASCII word semantics, pinned across engines:
    * split on maximal non-[a-z0-9_] runs and count tokens in `words`.
    * Equivalent to \\b-delimited matching for ASCII words, but Java's \\b
    * treats combining marks (U+0300+) as word characters while RE2's is
    * ASCII-only — the split form evaluates identically in both.
    */
  private[operators] def markerCount(text: Column, words: Seq[String]): Column =
    size(filter(split(asciiLower(text), "[^a-z0-9_]+"),
      t => t.isin(words: _*)))

  private[operators] def langScoreCols(text: Column): Seq[Column] =
    langMarkers.map { case (lang, words) =>
      markerCount(text, words).cast("long").as(s"s_$lang")
    }

  /** Argmax over the `s_<lang>` columns with deterministic alphabetical
    * tie-break: fold langs in order, strictly-greater beats, so the first
    * (alphabetically smallest) wins ties. Evaluate over a projection that
    * already computed [[langScoreCols]] (the scores are attribute refs, so
    * the fold never recomputes a regex).
    *
    * Seeded with the LAST language so a null-text row (all scores NULL —
    * every `when` condition unknown) resolves to the same answer as the
    * oracle's CASE chain, whose all-NULL comparisons fall through to
    * `ELSE 'zh'`. Non-null scores always beat the -1 seed, so real rows
    * are unaffected.
    */
  private[operators] def predictedFromScores: Column =
    langMarkers.map(_._1).foldLeft((lit(langMarkers.last._1), lit(-1L))) {
      case ((bestLang, bestScore), lang) =>
        val s = col(s"s_$lang")
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
         when(s > bestScore, s).otherwise(bestScore))
    }._1

  /** Heuristic language ID: count marker-word hits per language, argmax with
    * alphabetical tie-break. Output: doc_id, plus one s_<lang> score column
    * and the predicted language.
    */
  def languageId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: langScoreCols(col("text")): _*)
      .withColumn("predicted_lang", predictedFromScores)

  /** Declared-vs-predicted language confusion matrix — the language-ID
    * EVAL view ([[langComposition]] reports the mix; this scores the
    * classifier against the corpus's own `lang` labels). One scan (the
    * fused marker-score argmax), one bounded (langs × langs) aggregate;
    * per-declared-row recall share in HALF_UP bp on the bounded dim.
    * Output: lang, predicted_lang, n_docs, row_share_bp.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("lang"))
    docs.select(col("lang") +: langScoreCols(col("text")): _*)
      .withColumn("predicted_lang", predictedFromScores)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__tot", sum(col("n_docs")).over(wl))
      .withColumn("row_share_bp",
        expr("(20000 * n_docs + __tot) div (2 * __tot)"))
      .select("lang", "predicted_lang", "n_docs", "row_share_bp")
  }

  /** Dataset-card language table — the language-composition section
    * next to [[compositionReport]]'s source×split table: per (source,
    * predicted language), document count and per-source share in
    * integer HALF_UP basis points (the q95 `prob_bp` formula — every
    * rounded ratio here is integer arithmetic, engine-exact). One scan
    * (the [[languageId]] argmax as fused column exprs) + one bounded
    * (sources × languages) aggregate; the share window runs on that
    * bounded dim, never the corpus.
    *
    * A NULL `source` is bucketed as the `'<none>'` sentinel (the
    * transitions/linearAttribution pattern): it is the FIRST output
    * ORDER BY key, and Spark's NULLS FIRST vs DuckDB's NULLS LAST would
    * otherwise diverge in row order on identical row multisets.
    * Output: source, predicted_lang, n_docs, share_bp.
    */
  def langComposition(docs: DataFrame): DataFrame = {
    val wsrc = Window.partitionBy(col("source"))
    docs.select(col("doc_id") +:
        coalesce(col("source").cast("string"), lit("<none>")).as("source") +:
        langScoreCols(col("text")): _*)
      .withColumn("predicted_lang", predictedFromScores)
      .groupBy(col("source"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__tot", sum(col("n_docs")).over(wsrc))
      .withColumn("share_bp", expr("(20000 * n_docs + __tot) div (2 * __tot)"))
      .drop("__tot")
  }

  /** Character-class composition per source — the encoding/markup health
    * check on a dataset card: shares (integer HALF_UP basis points of the
    * source's characters) of letters, digits, whitespace, sentence
    * punctuation, and everything else. A source whose `other_bp` spikes
    * is the "binary junk / markup soup / mojibake" signature caught
    * before tokenization. One scan of per-class codegen'd counters + one
    * bounded per-source aggregate; classes are disjoint so the five
    * shares + rounding partition each source's characters.
    * Output: source, n_chars, alpha_bp, digit_bp, space_bp, punct_bp,
    * other_bp.
    */
  def charClassProfile(docs: DataFrame): DataFrame = {
    def cnt(re: String): Column =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    docs.select(col("source"),
        length(col("text")).cast("long").as("n_ch"),
        cnt("[A-Za-z]").as("n_alpha"), cnt("[0-9]").as("n_digit"),
        cnt("\\s").as("n_space"), cnt("[\\.,;:!\\?]").as("n_punct"))
      .groupBy(col("source"))
      .agg(sum("n_ch").as("n_chars"), sum("n_alpha").as("__a"),
        sum("n_digit").as("__d"), sum("n_space").as("__s"),
        sum("n_punct").as("__p"))
      .select(col("source"), col("n_chars"),
        expr("(20000 * __a + n_chars) div (2 * n_chars)").as("alpha_bp"),
        expr("(20000 * __d + n_chars) div (2 * n_chars)").as("digit_bp"),
        expr("(20000 * __s + n_chars) div (2 * n_chars)").as("space_bp"),
        expr("(20000 * __p + n_chars) div (2 * n_chars)").as("punct_bp"),
        expr("(20000 * (n_chars - __a - __d - __s - __p) + n_chars) div (2 * n_chars)")
          .as("other_bp"))
  }

  /** Tokenizer-fertility report per predicted language — document count,
    * token and character totals, and characters-per-token in integer
    * HALF_UP basis points (`cpt_bp`; whitespace tokens as the fertility
    * proxy — the cross-language signal a tokenizer budget review needs:
    * a language whose cpt runs high pays more sequence length per word
    * under a byte-level vocab). One corpus scan (the [[languageId]]
    * argmax fused as column exprs with the length/size counters) + one
    * aggregate over the bounded language dim.
    * Output: predicted_lang, n_docs, n_tokens, n_chars, cpt_bp.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +:
        nTokensExpr(col("text")).as("n_toks") +:
        length(col("text")).cast("long").as("n_ch") +:
        langScoreCols(col("text")): _*)
      .withColumn("predicted_lang", predictedFromScores)
      .groupBy(col("predicted_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"))
      .withColumn("cpt_bp",
        expr("(20000 * n_chars + n_tokens) div (2 * n_tokens)"))

  /** Per-source readability profile: words/sentence and alpha-chars/word
    * in HALF_UP integer bp, plus a Flesch-style reading-ease mean in
    * integer milli-points — the "is this source textbook prose or keyword
    * soup" audit next to [[charClassProfile]]. Sentences are terminal-
    * punctuation runs (`[.!?]+`, floor 1 so headline docs count as one
    * sentence); syllables are the standard vowel-group heuristic
    * (`[aeiouy]+` runs, floor 1 per word). The per-doc Flesch score
    * 206.835 − 1.015·(w/s) − 84.6·(syl/w) is computed in IEEE doubles
    * from integer counts (identical in any engine), fixed to CLAMPED
    * milli-ticks (≥ 0 — "unreadably dense" saturates, and the clamp
    * keeps every aggregate operand non-negative so integral division is
    * engine-portable), then HALF_UP-averaged. One scan, one bounded agg.
    * Output: source, n_docs, wps_bp, cpw_bp, flesch_milli.
    */
  def readabilityProfile(docs: DataFrame): DataFrame = {
    def cnt(c: Column, re: String): Column =
      size(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    val w = greatest(nTokensExpr(col("text")), lit(1L))
    val s = greatest(cnt(col("text"), "[\\.!\\?]+"), lit(1L))
    val syl = greatest(cnt(asciiLower(col("text")), "[aeiouy]+"), w)
    val flesch = lit(206.835) -
      lit(1.015) * (w.cast("double") / s.cast("double")) -
      lit(84.6) * (syl.cast("double") / w.cast("double"))
    docs.select(col("source"),
        w.as("__w"), s.as("__s"),
        cnt(col("text"), "[A-Za-z]").as("__a"),
        greatest(floor(flesch * 1000 + 0.5).cast("long"), lit(0L)).as("__f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("__ws"),
        sum(col("__s")).as("__ss"), sum(col("__a")).as("__as"),
        sum(col("__f")).as("__fs"))
      .select(col("source"), col("n_docs"),
        expr("(20000 * __ws + __ss) div (2 * __ss)").as("wps_bp"),
        expr("(20000 * __as + __ws) div (2 * __ws)").as("cpw_bp"),
        expr("(2 * __fs + n_docs) div (2 * n_docs)").as("flesch_milli"))
  }

  /** Canonical text normalization: lowercase, collapse whitespace, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(asciiLower(text), "\\s+", " "))

  /** Deterministic document fingerprint: md5 over normalized text. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(normalized(col("text"))).as("fingerprint"),
      length(normalized(col("text"))).cast("long").as("norm_len"))

  /** Winnowing fingerprints (rolling-hash min-sampling, per the MOSS
    * winnowing scheme): hash every k-gram of the normalized text, then keep
    * the minimum hash of each sliding window of `w` consecutive k-gram
    * hashes. Guarantees any shared substring ≥ w+k−1 chars yields a shared
    * fingerprint, with ~2/(w+1) selection density — the standard
    * scalable local-similarity fingerprint for plagiarism/near-dup.
    *
    * The per-row computation is one native codegen expression
    * ([[graft.functions.winnow_fingerprints]]); with the md5 k-gram base
    * (the default) the output is oracle-reproducible and the plan stays inside
    * WholeStageCodegen (the round-1 HOF formulation was interpreter-bound).
    * Output: doc_id, fingerprints array<long> (distinct, sorted).
    */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
                            base: HashBase = HashBase.Md5): DataFrame =
    docs
      .select(col("doc_id"), normalized(col("text")).as("norm"))
      .where(length(col("norm")) >= k + w - 1)
      .select(col("doc_id"),
        graft.functions.winnow_fingerprints(col("norm"), k, w, base)
          .as("fingerprints"))

  /** Copied-span pair detection over winnowing fingerprints — the LOCAL
    * near-dup axis the whole-document sketches miss: two documents
    * sharing ≥ `minShared` winnowing fingerprints share (w.h.p.) that
    * many distinct ≥ (w+k−1)-char substrings — a lifted paragraph, a
    * quoted passage — even when their overall Jaccard/MinHash similarity
    * is negligible ([[winnowingFingerprints]]' guarantee makes the
    * count a lower bound on shared spans, not a heuristic). Pairing is
    * the inverted-index recipe with [[graft.operators.Dedup.jaccardPairs]]'
    * df-cap discipline: a fingerprint present in more than `maxDf` docs
    * is boilerplate chrome and is dropped BEFORE pairing, so pair volume
    * is Σ df² per surviving fingerprint, never corpus².
    * Output: doc_a < doc_b, n_shared (distinct shared fingerprints).
    */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
                         minShared: Int = 3, maxDf: Int = 50,
                         base: HashBase = HashBase.Md5): DataFrame = {
    // pinch-point exchange (sharedShinglePairStats' discipline): the
    // winnowing expression — the entry's dominant cost — feeds the df cap
    // AND both self-join sides; one explicit repartition makes all three
    // branches share a single reused exchange so it evaluates ONCE. The
    // isNotNulls are no-ops (fingerprints are ints, doc_id is the corpus
    // key) but keep every branch's exchange child identical — the
    // optimizer infers them on the join branches only, and a one-filter
    // difference defeats ReuseExchange (r12 plan audit: the winnow
    // explode ran twice here)
    val fps = winnowingFingerprints(docs, k, w, base)
      .select(col("doc_id"), explode(col("fingerprints")).as("fp"))
      .where(col("fp").isNotNull && col("doc_id").isNotNull)
      .repartition(col("doc_id"), col("fp"))
    // count(doc_id), not count(1) — keeps doc_id in this branch's
    // subtree so the pinch exchange is reused (see sharedShinglePairStats)
    val rare = fps.groupBy(col("fp")).agg(count(col("doc_id")).as("__df"))
      .where(col("__df") <= maxDf)
    val idx = fps.join(rare.select("fp"), Seq("fp"))
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Gopher-style repetition signals — the standard pre-training quality
    * gates for pathologically repetitive documents (boilerplate loops,
    * keyword stuffing, decode glitches). Per document:
    *
    *   - `dup_word_frac`  = 1 − distinct words / words
    *   - `dup_ngram_frac` = 1 − distinct word n-grams / n-grams
    *   - `top_ngram_frac` = occurrences of the most frequent n-gram / n-grams
    *   - `repetitive`     = dup_ngram_frac > threshold (on rounded values)
    *
    * Documents with fewer than n tokens report 0 n-gram fractions (nothing
    * long enough to repeat). All pure column expressions over one scan, no
    * UDF, no shuffle — the per-row mode count is array_sort + a linear
    * run-length fold (O(n log n) per doc; the naive
    * distinct×filter-per-candidate formulation is O(distinct × total) and
    * measured ~4× slower on the probe corpus).
    */
  /** Longest run of equal adjacent elements in a SORTED array = the mode's
    * occurrence count, as one linear `aggregate` fold (state: previous
    * element, current run, best run).
    */
  private def topRunLength(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  def repetitionStats(docs: DataFrame, n: Int = 3, threshold: Double = 0.2): DataFrame = {
    // exact HALF_UP 4dp of (size − distinct)/size — count ratios round
    // tick-exact (the q31 discipline): float round half-tie-diverges
    // between engines on quotients like odd/32
    def ticks4(num: Column, den: Column): Column =
      call_function("div", lit(2L) * num * lit(10000L) + den, lit(2L) * den)
        .cast("double") / 1e4
    def dupFrac(xs: Column): Column =
      when(size(xs) > 0,
        ticks4((size(xs) - size(array_distinct(xs))).cast("long"),
          size(xs).cast("long")))
        .otherwise(0.0)
    docs
      .select(col("doc_id"), tokens(asciiLower(col("text"))).as("w"))
      // CaseWhen evaluates branches lazily per row, so the descending
      // sequence(1, size-2) for short docs is never constructed
      .withColumn("ng",
        when(size(col("w")) >= n,
          transform(sequence(lit(1), size(col("w")) - (n - 1)),
            i => array_join(slice(col("w"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>")))
      .select(
        col("doc_id"),
        dupFrac(col("w")).as("dup_word_frac"),
        dupFrac(col("ng")).as("dup_ngram_frac"),
        when(size(col("ng")) > 0,
          ticks4(topRunLength(array_sort(col("ng"))).cast("long"),
            size(col("ng")).cast("long")))
          .otherwise(0.0).as("top_ngram_frac"))
      .withColumn("repetitive", col("dup_ngram_frac") > threshold)
  }

  /** Corpus vocabulary: the k most frequent whitespace tokens with
    * counts and corpus frequency — the tokenizer-prep / corpus-inspection
    * table. One explode + hash aggregate; the top-k is a TakeOrderedAndProject
    * (no full sort), deterministically tie-broken by token. The total-token
    * denominator rides the same aggregate via a window-free scalar
    * subquery-shaped crossJoin of a 1-row frame.
    */
  /** (token, n) corpus token counts — one scan + one hash aggregate; the
    * shared head of [[vocab]] and [[oovRate]]. */
  private def tokenCounts(docs: DataFrame): DataFrame =
    // explicit isNotNull (a no-op — tokens() never yields null elements):
    // consumers that JOIN on the token get isnotnull(token) inferred and
    // pushed below this aggregate, and a one-filter difference between
    // branches defeats ReuseExchange, re-running the tokenize per branch
    // (the r12 plan-audit lesson; see sharedShinglePairStats)
    docs.select(explode(tokens(asciiLower(col("text")))).as("token"))
      .where(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  def vocab(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = tokenCounts(docs)
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("token"), col("n"),
        // exact HALF_UP 6dp of the integer rational n/total — float
        // round(n/total, 6) is the engine-divergent half-tie class the
        // sf0.1 stress sweep flagged on quality/luma (same discipline).
        // `total` is a CORPUS-level token count, so the 2·n·10⁶ product
        // is the one rational here that genuinely outgrows a Long at
        // target scale (~2.5e13 tokens in 100 TB of text wraps past
        // total ≈ 4.6e12): widen to DECIMAL(38,0) — div still returns
        // BIGINT, the quotient is ≤ 10⁶, and the DuckDB twin's BIGINT
        // `//` agrees wherever it doesn't raise
        (call_function("div",
          lit(2L) * col("n").cast("decimal(38,0)") * lit(1000000L) +
            col("total").cast("decimal(38,0)"),
          lit(2L) * col("total").cast("decimal(38,0)")).cast("double") / 1e6)
          .as("freq"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Vocabulary coverage curve — for each rank in the top-k vocabulary,
    * the cumulative fraction of ALL token occurrences covered by the
    * vocab up to that rank. The tokenizer-design staple: "what vocab
    * size covers 95% of the corpus" is read straight off the curve, and
    * the curve's tail slope is the OOV-rate forecast for any proposed
    * cutoff.
    *
    * Scale shape: token counts are one corpus hash aggregate (map-side
    * partials); the top-k is a TakeOrderedAndProject (per-partition heap
    * + bounded driver merge — no global sort); the running sum then
    * windows over exactly k rows, bounded by construction at any corpus
    * size. Cumulative share is integer HALF_UP basis points (the
    * engine-exact `share_bp` arithmetic used across the report family).
    * Output: rank (1-based by count desc, token asc), token, n,
    * cum_share_bp.
    */
  /** Zipf-slope fit over the top-k vocabulary — the one-number
    * distributional health check next to [[vocabCoverage]]: the
    * least-squares slope of log(count) against log(rank). Natural text
    * sits near −1; a slope far from it flags template/boilerplate-heavy
    * or synthetic corpora before any model sees them.
    *
    * Engine-portable by the integer-tick discipline: both logs are fixed
    * to integer micro-nats ([[lnMicros]]) per point, all four
    * least-squares sums run in exact BIGINT arithmetic (k ≤ a few
    * thousand keeps every product far inside 2⁶³), and only the final
    * slope division is floating point, rounded 6dp. Same scale shape as
    * [[vocabCoverage]]: corpus hash agg → top-k heap → k-row aggregate.
    * Output: one row — n_points, slope.
    */
  def zipfSlope(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = tokenCounts(docs)
    val ord = Seq(col("n").desc, col("token").asc)
    counts.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(lnMicros(col("rank")).as("x"), lnMicros(col("n")).as("y"))
      .agg(count(lit(1)).as("__k"), sum("x").as("__sx"), sum("y").as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("__k").as("n_points"),
        round((col("__k") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          (col("__k") * col("__sxx") - col("__sx") * col("__sx")).cast("double"), 6)
          .as("slope"))
  }

  def vocabCoverage(docs: DataFrame, k: Int = 100): DataFrame = {
    val counts = tokenCounts(docs)
    val total = counts.agg(sum(col("n")).as("total"))
    val ord = Seq(col("n").desc, col("token").asc)
    val w = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.orderBy(ord: _*).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .withColumn("__cum", sum(col("n")).over(w))
      .withColumn("cum_share_bp",
        expr("(20000 * __cum + total) div (2 * total)"))
      .select("rank", "token", "n", "cum_share_bp")
  }

  /** Benchmark decontamination — flag corpus documents sharing any word
    * n-gram with an eval/benchmark set (the standard overlap check run
    * before training on scraped corpora). Inverted-shingle equi-join, ids
    * only; the benchmark side is orders of magnitude smaller than the
    * corpus, so its distinct shingles broadcast and the 100 TB corpus side
    * never shuffles.
    * Output: doc_id, n_shared (distinct shared n-grams), hit docs only.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val benchShingles = Dedup.shingles(benchmark, n).select(col("shingle")).distinct()
    Dedup.shingles(corpus, n) // distinct per doc by construction
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document repeated n-grams — the bounded form of exact
    * substring deduplication (the "repeated 13-token window" audit run on
    * training corpora to find memorization-prone spans): every word
    * n-gram appearing in at least `minDocs` DISTINCT documents, with its
    * document frequency. Shingle explode + one hash aggregate — the same
    * scale shape as [[contamination]]'s corpus side, no joins at all.
    * Output: shingle, n_docs (≥ minDocs only).
    */
  def repeatedNgrams(docs: DataFrame, n: Int = 13, minDocs: Int = 2): DataFrame =
    Dedup.shingles(docs, n) // distinct per doc by construction
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)

  /** Span-level exact-substring deduplication — the REMOVAL action for
    * what [[repeatedNgrams]] detects (the "Deduplicating Training Data
    * Makes Language Models Better" pass): every word n-gram appearing
    * in ≥ `minDocs` DISTINCT documents is dropped, token-by-token, from
    * every document EXCEPT the first (min doc_id) that contains it; the
    * surviving tokens reassemble in original order. A doc position is
    * cut when ANY repeated span from a non-first doc covers it, so
    * overlapping spans merge naturally and a verbatim re-quoted
    * paragraph vanishes from the re-poster while the origin keeps it.
    *
    * Shape at 100 TB: one per-occurrence span scan; the repeated-span
    * table is the [[repeatedNgrams]] distinct-first df agg extended
    * with min(doc_id) (both map-side combining on the shingle); one
    * shingle-key equi-join marks drop starts; everything after is
    * DOC-LOCAL — drop starts aggregate to a per-doc array (bounded by
    * doc length) and the cut + reassembly are pure column expressions
    * over the token array, so corpus tokens never shuffle for the cut.
    * The cut is O(len + drops) per document: every drop start covers
    * the fixed-width interval [s, s+n−1] and the starts arrive sorted,
    * so the SURVIVING positions are exactly the gaps — head
    * [1, s₁−1], between-drops [sⱼ₋₁+n, sⱼ−1] (empty when spans
    * overlap or touch), tail [s_last+n, len] — and the kept array is a
    * concat of O(drops) slices totaling O(len) copied tokens. No
    * per-position coverage scan, so a book-length doc dense with
    * repeated spans costs the same as a clean one.
    * Output: doc_id, n_tokens, n_kept, cleaned (space-joined survivors;
    * "" when everything was cut or the doc had no tokens).
    */
  def dedupSpans(docs: DataFrame, n: Int = 13, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2,
      "need a positive span length; minDocs < 2 would cut every document")
    val base = Pins.pin(docs.select(col("doc_id"),
      coalesce(tokens(asciiLower(col("text"))), array()).as("__w")))
    val spans = base.where(size(col("__w")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__w")) - (n - 1)),
          s => struct(s.as("s"),
            array_join(slice(col("__w"), s, lit(n)), " ").as("shingle")))).as("__sp"))
      .select(col("doc_id"), col("__sp.s").as("s"), col("__sp.shingle").as("shingle"))
    // NOTE (r12 plan audit): the positional explode evaluates once per
    // consumer branch (df aggregate + drop-start join). A pinch-point
    // repartition does NOT dedupe here: the df branch prunes `s` below
    // the exchange, so the branch subtrees differ and ReuseExchange
    // misses — the pinch would only ADD a full-span shuffle. Pinning the
    // SPAN relation is the q164 anti-pattern (13x corpus shingle
    // strings); pinning `base` above is not — the tokenized docs are
    // corpus-sized once and feed THREE branches (two explodes + the
    // final reassembly join), so the pin saves two tokenize passes
    // (measured at sf0.1: q305 ~3.2 -> ~2.5 s, control-normalized).
    // Session-lifetime + eager-construction caveats as in dedupLines:
    // corpus-sized blocks live until the plan is GC'd, and the default
    // eager mode runs the tokenize job at construction — long-lived
    // callers sweep between queries or set spark.graft.pin.mode.
    val rep = spans.select(col("shingle"), col("doc_id")).distinct()
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"), min(col("doc_id")).as("__first"))
      .where(col("__df") >= minDocs)
    val dropStarts = spans.join(rep, Seq("shingle"))
      .where(col("doc_id") =!= col("__first"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("s"))).as("__drops"))
    // gap-slice reassembly over the sorted starts (O(len + drops)): each
    // start covers [s, s+n-1], so survivors are the head gap, the
    // between-drop gaps (length clamped at 0 when spans overlap/touch),
    // and the tail gap — concat of slices, never a per-position scan
    val d = col("__drops")
    val len = size(col("__w"))
    val head = slice(col("__w"), lit(1),
      greatest(lit(0), element_at(d, 1) - 1))
    val mids = when(size(d) >= 2,
      flatten(transform(sequence(lit(2), size(d)), j =>
        slice(col("__w"), element_at(d, j - 1) + lit(n),
          greatest(lit(0), element_at(d, j) - element_at(d, j - 1) - lit(n))))))
      .otherwise(array().cast("array<string>"))
    val tail = slice(col("__w"), element_at(d, size(d)) + lit(n),
      greatest(lit(0), len - element_at(d, size(d)) - lit(n - 1)))
    base.join(dropStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), len.cast("long").as("n_tokens"),
        when(col("__drops").isNull, col("__w"))
          .otherwise(concat(head, mids, tail)).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("cleaned"))
  }

  /** Per-document n-gram novelty — the per-doc complement of
    * [[repeatedNgrams]]'s span listing: what fraction of a document's
    * distinct memorization-length shingles appear NOWHERE else in the
    * corpus. A high-novelty doc contributes new sequences; a low-novelty
    * one is assembled from spans the corpus already has — the curation
    * signal between exact dedup (identical docs) and near-dup removal
    * (mostly-identical docs). One shingle-key hash agg (document
    * frequency) + one shingle-key join back + one per-doc agg — the df
    * agg and the join co-partition on the shingle, and the novelty ratio
    * uses the integer-HALF_UP discipline (float `round(a/b, 4)` diverges
    * across engines on half-ties — the q73 lesson).
    * Docs with fewer than `n` tokens carry no shingles and are absent
    * (they have no sequence to be novel about).
    * Output: doc_id, n_shingles, n_unique, novelty.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 13): DataFrame = {
    // pinch-point exchange by the shingle: the df aggregate AND the join
    // back both need hash(shingle) distribution, so ONE repartition
    // serves both branches (explode runs once, no further exchange on
    // either side — both consumers read exactly (doc_id, shingle), so
    // column pruning cannot specialize the branches; explicit isNotNulls
    // keep the subtrees identical, see sharedShinglePairStats)
    val sh = Dedup.shingles(docs, n) // (doc_id, shingle), distinct per doc
      .where(col("shingle").isNotNull && col("doc_id").isNotNull)
      .repartition(col("shingle"))
    // count(doc_id), not count(1) — see sharedShinglePairStats
    val df = sh.groupBy(col("shingle")).agg(count(col("doc_id")).as("__df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        expr("(2 * n_unique * 10000 + n_shingles) div (2 * n_shingles)") / lit(10000.0))
  }

  /** Doc-length histogram on exact power-of-two bins — the length
    * distribution audit behind truncation/packing policy (how much token
    * mass sits in each length octave). The bin is the bit length of the
    * token count (`length(bin(n))` = floor(log2 n) + 1): pure INTEGER
    * arithmetic in every engine, unlike float `log2` whose boundary
    * values (exact powers of two) round differently across libm
    * implementations. One scan + one ≤64-row hash agg, zero joins.
    * Output: bin, lo, hi (inclusive octave bounds), n_docs, n_tokens,
    * min_tokens, max_tokens.
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(nTokensExpr(col("text")).as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("bin", length(bin(col("n_tokens"))).cast("int"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .select(col("bin"),
        expr("shiftleft(CAST(1 AS BIGINT), bin - 1)").as("lo"),
        expr("shiftleft(CAST(1 AS BIGINT), bin) - 1").as("hi"),
        col("n_docs"), col("n_tokens"), col("min_tokens"), col("max_tokens"))

  /** Per-document out-of-vocabulary rate against the corpus's own top-k
    * vocabulary — the tokenizer-coverage audit (how much of each document
    * a k-entry vocab fails to cover). The vocab side is top-k rows by
    * construction, so it broadcasts and the corpus token stream never
    * shuffles for the membership test; the per-doc aggregate is the one
    * hash agg. Output: doc_id, n_tokens, n_oov, oov_rate.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    // top-k from the raw counts, NOT from vocab(): the freq column would
    // drag in vocab's corpus-total cross-join — a third full corpus scan
    // the membership test never needs (visible in the q65 plan audit)
    val v = tokenCounts(docs)
      .orderBy(col("n").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    docs.select(col("doc_id"), explode(tokens(asciiLower(col("text")))).as("token"))
      .join(broadcast(v), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        // exact HALF_UP 6dp of the count ratio (the q31/q58 discipline):
        // a float round ties on quotients like odd/128 at the 7th decimal
        (call_function("div",
          lit(2L) * col("n_oov") * lit(1000000L) + col("n_tokens"),
          lit(2L) * col("n_tokens")).cast("double") / 1e6).as("oov_rate"))
  }

  /** Transcendental values carried as integers: ln is the one function in
    * these signals whose last ulp is NOT pinned by IEEE 754 (libm vs JVM
    * intrinsics may differ), so every ln-derived weight is rounded ONCE to
    * integer micro-nats (`round(ln(x)·10⁶)` as BIGINT) and all downstream
    * arithmetic — products, per-document sums, ratios — stays in integers,
    * where order of evaluation cannot perturb a hash. A 1-ulp ln divergence
    * only matters if the true value sits within that ulp of a half-micro
    * boundary, which a ratio of integers cannot hit exactly (ln of a
    * rational is irrational except ln(1) = 0, which both engines return
    * exactly). Float summation of per-token doubles, by contrast, WOULD
    * diverge: Spark and DuckDB add in different orders.
    */
  private def lnMicros(x: Column): Column =
    round(log(x) * 1e6).cast("long")

  /** Corpus-relative TF-IDF, top-k salient terms per document — the
    * keyword-extraction / topic-labelling signal run over training corpora
    * (and the relevance core reused by ranking). Smoothed idf
    * (`ln((N+1)/(df+1)) + 1`, sklearn's formulation) carried in integer
    * micro-nats per [[lnMicros]]; `tfidf = tf · idf` stays a BIGINT until
    * the final display division, so cross-engine hashes agree.
    *
    * Scale shape: one (doc, token) hash agg for tf, one token-key hash agg
    * for df (over the tf table — already one row per (doc, token), no
    * second corpus scan), a token-key equi-join (df is vocab-sized;
    * co-partitions with the agg before it), and a per-doc window for the
    * top-k — partition by doc_id, never a global sort. The corpus-count
    * scalar rides a broadcast of a 1-row frame like [[vocab]]'s total.
    * Output: doc_id, rank (1..k), token, tf, df, tfidf.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(asciiLower(col("text")))).as("token"))
      // no-op filter that keeps the df-aggregate and join branches'
      // subtrees identical so the tf exchange is reused (tokenize once)
      .where(col("token").isNotNull && col("doc_id").isNotNull)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // count(when(tf >= 1, ..)), not count(1): a literal count (or a
    // count of the provably-non-null tf, which Catalyst rewrites back to
    // count(1)) lets the optimizer drop the tf aggregate from this
    // branch's partial agg, specializing the subtree below the shared
    // exchange and defeating its reuse; the predicate is always true
    // (every tf group has >= 1 row) but not statically foldable
    val df = tf.groupBy(col("token"))
      .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__score").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("__score",
        col("tf") * (lnMicros((col("__n") + 1.0) / (col("df") + 1.0)) + 1000000L))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
        (col("__score") / lit(1e6)).as("tfidf"))
  }

  /** Source signature terms: per source, the k tokens most
    * over-represented relative to the whole corpus — the dataset-card
    * "what does this source talk about" table, and the drift probe run
    * per crawl snapshot. Lift = (token share in source) / (global token
    * share), computed as one exact integer micro division
    * (c·N_global·10⁶ DIV n_source·c_global) so ranking is
    * engine-portable; `minCount` gates hapax noise (a token seen twice
    * in a tiny source would otherwise top every list). All shuffles are
    * vocabulary-dim; the per-source top-k is a rank window Spark plans
    * as WindowGroupLimit (map-side heap). Ties break lexicographically.
    * Output: source, rank, token, c, lift_micro.
    */
  def sourceSignatureTerms(docs: DataFrame, k: Int = 3,
                           minCount: Long = 20L): DataFrame = {
    val tok = docs.select(col("source"),
      explode(tokens(asciiLower(col("text")))).as("token"))
      // no-op filter so the three consumers of srcTok (totals, global
      // counts, the display join) share one reused exchange
      .where(col("token").isNotNull)
    val srcTok = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val srcTot = srcTok.groupBy(col("source")).agg(sum(col("c")).as("__ns"))
    val globTok = srcTok.groupBy(col("token")).agg(sum(col("c")).as("__cg"))
    val globTot = broadcast(globTok.agg(sum(col("__cg")).as("__ng")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift_micro").desc, col("token"))
    srcTok.where(col("c") >= minCount)
      .join(globTok, Seq("token"))
      .join(srcTot, Seq("source"))
      .crossJoin(globTot)
      .withColumn("lift_micro", expr(
        "CAST((CAST(c AS DECIMAL(38,0)) * __ng * 1000000) DIV (CAST(__ns AS DECIMAL(38,0)) * __cg) AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("source"), col("rank"), col("token"), col("c"),
        col("lift_micro"))
      .orderBy(col("source"), col("rank"))
  }

  /** Mixed-language census per source: documents whose SECOND-best
    * language-marker score sits within num/den of the best are "mixed"
    * — the code-switching / concatenated-crawl detector languageId's
    * single argmax hides (a 50/50 en-de page still gets one label).
    * Exact integer comparison (s₂·den ≥ s₁·num, best > 0), one fused
    * scan, bounded source agg. Output: source, n_docs, n_mixed,
    * mixed_bp.
    */
  def mixedLanguageCensus(docs: DataFrame, num: Int = 4,
                          den: Int = 5): DataFrame = {
    val sorted = sort_array(array(langScoreCols(col("text")): _*), asc = false)
    docs
      .select(col("source"), element_at(sorted, 1).as("__b"),
        element_at(sorted, 2).as("__b2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__b") > 0 && col("__b2") * den >= col("__b") * num,
          1L).otherwise(0L)).as("n_mixed"))
      .select(col("source"), col("n_docs"), col("n_mixed"),
        floor(col("n_mixed") * 10000.0 / col("n_docs") + 0.5).cast("long")
          .as("mixed_bp"))
      .orderBy(col("source").asc_nulls_last) // null source: DuckDB NULLS LAST
  }

  /** Bigram autocomplete table: for each prefix word, the top-k next
    * words by corpus bigram count — the suggest-as-you-type /
    * next-token-frequency surface, and the serving-side artifact of the
    * bigram LM. Prefixes below `minCount` total continuations drop
    * (suggestions from two sightings are noise). One bigram hash agg
    * (vocab²-bounded in distinct terms, corpus-bounded in rows), a
    * prefix-sum agg for the gate, and a WindowGroupLimit top-k; ties
    * break lexicographically. Output: prefix, rank, next_word, n.
    */
  def bigramAutocomplete(docs: DataFrame, k: Int = 3,
                         minCount: Long = 10L): DataFrame = {
    val toks = tokens(asciiLower(col("text")))
    val bi = docs
      .select(toks.as("__w"))
      .where(size(col("__w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__w")) - 1),
        i => struct(element_at(col("__w"), i).as("prefix"),
          element_at(col("__w"), i + 1).as("next_word")))).as("__b"))
      .select(col("__b.prefix").as("prefix"), col("__b.next_word").as("next_word"))
      .groupBy(col("prefix"), col("next_word"))
      .agg(count(lit(1)).as("n"))
    val eligible = bi.groupBy(col("prefix")).agg(sum(col("n")).as("__tot"))
      .where(col("__tot") >= minCount).select("prefix")
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("n").desc, col("next_word"))
    bi.join(eligible, Seq("prefix"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("prefix"), col("rank"), col("next_word"), col("n"))
      .orderBy(col("prefix"), col("rank"))
  }

  /** Pairwise vocabulary overlap between sources: |Vₐ ∩ V_b| and the
    * overlap coefficient |Vₐ ∩ V_b| / min(|Vₐ|, |V_b|) in floor bp —
    * the "are these two crawls the same site family" signal next to
    * the near-dup source matrix (document-level) and KL divergence
    * (distributional): overlap compares the VOCABULARIES, so a small
    * source fully nested in a big one reads 10000 even when sizes
    * differ 100×. Everything runs on the (source × distinct token)
    * relation — per-token pair fan-out is bounded by sources², never
    * corpus-sized. Output: source_a < source_b, nv_a, nv_b, n_common,
    * overlap_bp.
    */
  def vocabOverlapMatrix(docs: DataFrame): DataFrame = {
    val v = docs
      .select(col("source"), explode(tokens(asciiLower(col("text")))).as("tok"))
      .distinct()
    val sz = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    v.as("a").join(v.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sz.select(col("source").as("source_a"), col("nv").as("nv_a")),
        Seq("source_a"))
      .join(sz.select(col("source").as("source_b"), col("nv").as("nv_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("nv_a"), col("nv_b"),
        col("n_common"),
        expr("(n_common * 10000) DIV least(nv_a, nv_b)").as("overlap_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Population-stability-index drift, per source: how far did the
    * quality-score distribution move between two halves of the corpus
    * (two crawls, two epochs — split by `groupExpr`)? The standard
    * ML-ops drift gate: PSI < 0.1 stable, > 0.25 action. Scores bucket
    * into the 11 fixed-width bins floor(quality·10) (quality ∈ [0,1] by
    * construction — a bounded plan-time grid, never a data-dependent
    * one), counts add-one smoothed over the FULL grid so empty bins are
    * defined, shares carried as floored micro fractions and the log
    * ratio in [[lnMicros]] micro-nats: psi term = (pa−pb)·ln(pa/pb),
    * summed in 1e-12 units then floored back to micro. Mathematically
    * non-negative; floor slack is clamped at 0 identically in both
    * engines. Bounded-dim aggregates only (sources × 11 bins × 2).
    * Output: source, n_a, n_b, psi_micro.
    */
  def psiDrift(docs: DataFrame, groupExpr: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val binned = docs.select(col("source"),
      when(groupExpr, 0L).otherwise(1L).as("__g"),
      floor(qualityExpr(col("text")) * 10).cast("long").as("__bin"))
    // pin the ≤ sources×2×11-row count grid: without it the a/b halves'
    // __g filters push below this aggregate into the quality scan, and
    // the corpus-wide qualityExpr evaluates once PER HALF (r12 plan
    // audit: 3 surviving text scans; multi-consumer + tiny = exactly
    // when Pins.pin pays)
    val counts = Pins.pin(binned
      .groupBy(col("source"), col("__g"), col("__bin"))
      .agg(count(lit(1)).as("__c")))
    val grid = binned.select(col("source")).distinct()
      .crossJoin(broadcast((0L to 10L).toDF("__bin")))
      .crossJoin(broadcast(Seq(0L, 1L).toDF("__g")))
    val full = grid.join(counts, Seq("source", "__g", "__bin"), "left")
      .select(col("source"), col("__g"), col("__bin"),
        (coalesce(col("__c"), lit(0L)) + 1L).as("__c1"))
    val tot = full.groupBy(col("source"), col("__g"))
      .agg(sum(col("__c1")).as("__n1"))
    val shares = full.join(tot, Seq("source", "__g"))
      .select(col("source"), col("__g"), col("__bin"),
        expr("(__c1 * 1000000) DIV __n1").as("__p"),
        col("__c1"), col("__n1"))
    val a = shares.where(col("__g") === 0L)
      .select(col("source"), col("__bin"), col("__p").as("__pa"),
        col("__c1").as("__ca"), col("__n1").as("__na"))
    val b = shares.where(col("__g") === 1L)
      .select(col("source"), col("__bin"), col("__p").as("__pb"),
        col("__c1").as("__cb"), col("__n1").as("__nb"))
    a.join(b, Seq("source", "__bin"))
      .select(col("source"), col("__na"), col("__nb"),
        ((col("__pa") - col("__pb")) *
          lnMicros((col("__ca") * col("__nb")).cast("double") /
            (col("__cb") * col("__na")))).as("__t"))
      .groupBy(col("source"))
      .agg(max(col("__na")).as("__na"), max(col("__nb")).as("__nb"),
        sum(col("__t")).as("__s"))
      .select(col("source"),
        (col("__na") - 11L).as("n_a"), (col("__nb") - 11L).as("n_b"),
        expr("CAST(greatest(__s, 0) DIV 1000000 AS BIGINT)").as("psi_micro"))
      .orderBy(col("source"))
  }

  /** Per-document negative log-likelihood under the corpus's own unigram
    * language model — the perplexity-proxy quality filter (the CCNet
    * recipe scores documents with an LM and drops the high-perplexity
    * tail; a unigram model over the corpus itself is the self-contained
    * form). Every token's surprisal `−ln(n_token/total)` is an integer
    * micro-nat weight per [[lnMicros]]; the per-document sum is integer
    * (order-free), and the mean uses the integer-HALF_UP ratio discipline.
    * High `avg_nll` = improbable token mix (noise, boilerplate alphabet
    * soup); low = stopword-heavy filler — both tails are curation signals.
    *
    * Scale shape: one token-key hash agg for the model, a token-key
    * equi-join of the token stream against it (vocab-sized right side —
    * the capped-vocab + OOV-floor variant for bounded memory is
    * [[oovRate]]'s broadcast pattern), one per-doc hash agg. Token-less
    * documents have no likelihood and are absent, like [[ngramNovelty]].
    * Output: doc_id, n_tokens, nll_micro (Σ surprisal, micro-nats),
    * avg_nll (mean surprisal, nats, HALF_UP at 6dp).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val counts = tokenCounts(docs)
    val total = counts.agg(sum(col("n")).as("__t"))
    val model = counts.crossJoin(broadcast(total))
      .select(col("token"),
        lnMicros(col("__t").cast("double") / col("n")).as("__nll"))
    docs.select(col("doc_id"), explode(tokens(asciiLower(col("text")))).as("token"))
      .join(model, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__nll")).as("nll_micro"))
      .withColumn("avg_nll",
        expr("(2 * nll_micro + n_tokens) div (2 * n_tokens)") / lit(1e6))
  }

  /** Length-bucket padding efficiency — the batch-scheduling report a
    * training pipeline reads before fixing its bucketing: documents
    * quantile-bucketed by token count ([[graft.operators.Stats.quantileBuckets]]
    * — counting cuts, no global sort), and per bucket the padded-batch
    * waste if every member pads to the bucket's max length, in HALF_UP
    * basis points of pure integer arithmetic. More buckets → less
    * waste → more scheduler complexity; this table is the trade curve.
    * Output: bucket, n_docs, max_len, sum_tokens, waste_bp.
    */
  def paddingEfficiency(docs: DataFrame, k: Int = 4): DataFrame = {
    val lens = docs.select(col("doc_id"),
      size(tokens(asciiLower(col("text")))).cast("long").as("__len"))
    Stats.quantileBuckets(lens, valueCol = "__len", k = k, bucketCol = "bucket",
        pinInput = true) // token counting scans every doc — once, not twice
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), max(col("__len")).as("max_len"),
        sum(col("__len")).as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("max_len"), col("sum_tokens"),
        when(col("max_len") > 0,
          expr("((n_docs * max_len - sum_tokens) * 20000 + n_docs * max_len)" +
            " div (2 * n_docs * max_len)"))
          .otherwise(0L).as("waste_bp"))
  }

  /** Ingest-continuity audit — per source, does the doc-id range hold
    * what it claims? `n_missing = max − min + 1 − n` is the count of
    * ids absent from the source's own [min, max] span: the dropped-
    * batch / partial-ingest signature caught as one aggregate instead
    * of as a training-data shortfall later. One scan, one tiny agg.
    * Output: source, n_docs, min_id, max_id, n_missing.
    */
  def idContinuity(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .select(col("source"), col("n_docs"), col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1 - col("n_docs")).as("n_missing"))

  /** Character-entropy quality signal — Shannon entropy of each doc's
    * character distribution, the gibberish detector orthogonal to the
    * word-level gates: repeated-char loops and keyboard mash sit far
    * below natural text (~4.1 bits ≈ 2.8 nats for English), encrypted
    * or base64 blobs sit above it. Two hash aggregates over exploded
    * (doc, char) pairs — linear, user-skew-free (a huge doc spreads
    * over its char keys); each entropy term is fixed to integer
    * micro-nats BEFORE the per-doc sum, exact in any fold order.
    * Output: doc_id, n_chars, entropy (nats, micro-exact; 0 for empty).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "") // Spark's -1 split limit emits a trailing ""
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("__c"))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("__n"),
        floor((col("__c").cast("double") / col("__n"))
          * log(col("__n").cast("double") / col("__c")) * 1e6 + 0.5)
          .cast("long").as("__t"))
      .groupBy(col("doc_id"))
      .agg(max(col("__n")).as("n_chars"), sum(col("__t")).as("__s"))
      .select(col("doc_id"), col("n_chars"),
        (col("__s").cast("double") / 1e6).as("entropy"))
    docs.select(col("doc_id")).join(terms, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Corpus grep — the curation-time "find every document mentioning X"
    * tool: exact-substring match count and first offset per document,
    * computed with pure string arithmetic (length-difference count,
    * 1-based instr) — no regex engine in the hot path, one scan, rows
    * only for matching docs so output is bounded by hits.
    * Output: doc_id, n_matches (≥ 1), first_pos (1-based).
    */
  def corpusGrep(docs: DataFrame, needle: String): DataFrame = {
    require(needle.nonEmpty, "empty needle matches everywhere")
    docs.select(col("doc_id"),
        ((length(col("text")) -
          length(regexp_replace(col("text"), lit(java.util.regex.Pattern.quote(needle)), lit(""))))
          / lit(needle.length)).cast("long").as("n_matches"),
        instr(col("text"), needle).cast("long").as("first_pos"))
      .where(col("n_matches") > 0)
  }

  /** Token-budget allocation across sources — integer water-filling:
    * give every source an equal share of `budget` tokens, capped at
    * what the source actually has, redistributing unused capacity
    * until the budget is exactly spent (the mixture-design step before
    * [[tokenBudgetDraw]] picks documents inside each source's
    * allocation). Closed form on the sources sorted by availability:
    * below-water sources take everything; the rest split the remainder
    * evenly with the integer remainder going to the first sources in
    * (availability, source) order — so Σ allocated = min(budget,
    * Σ available) EXACTLY, deterministically, in any engine. One
    * corpus-token aggregate; the allocation itself runs driver-side on
    * the bounded source dim (the [[Stats.quantileBuckets]] bounded-
    * collect discipline) and returns as a literal relation.
    * Output: source, available, allocated.
    */
  def budgetAllocation(docs: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val avail = docs
      .select(col("source"), size(tokens(asciiLower(col("text")))).cast("long").as("__t"))
      .groupBy(col("source")).agg(sum(col("__t")).as("__a"))
      .orderBy(col("__a"), col("source"))
      .as[(String, Long)].collect()
    val total = avail.map(_._2).sum
    val alloc: Seq[(String, Long, Long)] =
      if (total <= budget) avail.toSeq.map { case (s, a) => (s, a, a) }
      else {
        val n = avail.length
        // walk the ascending availability order: sources whose full
        // content fits under the (shrinking) equal share are below the
        // water level and take everything
        var pa = 0L
        var j = 0
        while (j < n && pa + (n - j).toLong * avail(j)._2 < budget) {
          pa += avail(j)._2
          j += 1
        }
        val r = budget - pa
        val m = n - j
        val base = if (m > 0) r / m else 0L
        val rem = if (m > 0) (r % m).toInt else 0
        avail.zipWithIndex.toSeq.map { case ((s, a), i) =>
          if (i < j) (s, a, a)
          else (s, a, base + (if (i - j < rem) 1L else 0L))
        }
      }
    alloc.toDF("source", "available", "allocated")
  }

  /** Per-source token-distribution divergence — KL(source ‖ corpus) over
    * the corpus's top-k vocabulary, the drift/composition signal a
    * dataset card reports next to [[languageComposition]]: a source
    * whose common-token distribution diverges from the corpus is dialect,
    * boilerplate, or contamination. Restricting to the top-k vocab keeps
    * the computation on a BOUNDED (sources × k) grid (k is plan-time;
    * the grid is a broadcast cross join), add-one smoothing keeps
    * zero-count cells finite, and each KL term is fixed to integer
    * micro-nats BEFORE the sum — exact in any fold order, the
    * engine-portability discipline of every ln here.
    * Output: source, n_tokens_topk (= k), kl_nats (micro-exact sum).
    */
  def sourceTokenDivergence(docs: DataFrame, k: Int = 100): DataFrame = {
    val top = tokenCounts(docs).orderBy(col("n").desc, col("token")).limit(k)
      .select(col("token"), col("n").as("__cq"))
    val nq = top.agg(sum(col("__cq")).as("__nq"))
    val srcTok = docs
      .select(col("source"), explode(tokens(asciiLower(col("text")))).as("token"))
      .join(broadcast(top.select("token")), Seq("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("__cs"))
    val grid = docs.select(col("source")).distinct()
      .crossJoin(broadcast(top))
      .join(srcTok, Seq("source", "token"), "left")
      .withColumn("__cs", coalesce(col("__cs"), lit(0L)))
    val perSrc = grid.groupBy(col("source")).agg(sum(col("__cs")).as("__ns"))
    val p = (col("__cs") + 1).cast("double") / (col("__ns") + lit(k))
    grid.join(broadcast(perSrc), Seq("source")).crossJoin(broadcast(nq))
      .select(col("source"),
        floor(p * log(p / (col("__cq").cast("double") / col("__nq")))
          * 1e6 + 0.5).cast("long").as("__t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens_topk"), sum(col("__t")).as("__s"))
      .select(col("source"), col("n_tokens_topk"),
        (col("__s").cast("double") / 1e6).as("kl_nats"))
  }

  /** Per-source length↔quality correlation — the "is the quality score
    * just measuring length?" audit every heuristic-gate deployment owes
    * itself: Pearson r between character length and the 4dp quality
    * score, computed from exact integer sums (x, y in ticks; cross and
    * square sums in DECIMAL(38,0) — any fold order, no long overflow)
    * with one fixed expression shape for the final ratio. |r| ≈ 1 says
    * the gate is a length proxy and the length term should be dropped
    * before it biases mixture sampling.
    * Output: source, n_docs, corr (4dp; 0 when either variance is 0).
    */
  def lengthQualityCorrelation(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        length(col("text")).cast("long").as("__x"),
        floor(qualityExpr(col("text")) * 10000 + 0.5).cast("long").as("__y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"),
        sum((col("__y") * col("__y")).cast("decimal(38,0)")).as("__syy"))
      .select(col("source"), col("n_docs"),
        // float round justified (the Pearson-r class, also dailyAutocorr
        // / dailyTrend / zipf slope): one fixed multi-op double shape
        // over exact integer sums with a sqrt — identical IEEE doubles
        // on both engines, no decimal half-tie density
        round(
          (col("n_docs") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            sqrt(greatest(lit(1e-12),
              (col("n_docs") * col("__sxx").cast("double") -
                col("__sx").cast("double") * col("__sx").cast("double")) *
                (col("n_docs") * col("__syy").cast("double") -
                  col("__sy").cast("double") * col("__sy").cast("double")))),
          4).as("corr"))

  /** Rank-normalized quality ensemble — the standard blend of two
    * heterogeneous quality signals on ONE percentile scale: the heuristic
    * score ([[qualityExpr]], already on its 4dp grid) and the unigram-LM
    * surprisal ([[lmScore]], discretized to milli-nat ticks — the
    * bounded-grid trick, so the value dimension is RANGE/tick at any
    * corpus size, never a cardinality hazard). Each distinct tick maps
    * to the HALF_UP bp percentile of its cumulative count (ties share a
    * percentile by construction); the blend averages the quality
    * percentile with the INVERTED surprisal percentile (low surprisal =
    * fluent, well-modeled text = better). The grids are bounded, so the
    * cumulation is a bounded driver merge (the
    * [[graft.operators.Stats.quantileBuckets]] recipe — TakeOrdered
    * heap, raise-early cap) broadcast back as a tick→percentile dim;
    * the corpus is scanned, never globally sorted.
    * Output: doc_id, q_bp, nll_bp, blend_bp — token-bearing docs.
    */
  def qualityBlend(docs: DataFrame, maxDistinct: Int = 100000): DataFrame = {
    def pctDim(df: DataFrame, tickCol: String): DataFrame = {
      // null ticks (unscoreable docs — null text) are excluded from the
      // grid and the denominator (the quantileBuckets convention); they
      // drop from the output at the equi-join, which matches the
      // token-bearing-docs contract
      val grid = df.where(col(tickCol).isNotNull)
        .groupBy(col(tickCol).as("__v")).agg(count(lit(1)).as("__c"))
        .orderBy("__v").limit(maxDistinct + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      require(grid.length <= maxDistinct,
        s"$tickCol grid exceeds $maxDistinct cells — coarsen the tick")
      val n = grid.map(_._2).sum
      var running = 0L
      val rows = grid.toSeq.map { case (v, c) =>
        running += c; (v, (running * 20000 + n) / (2 * n))
      }
      val spark = df.sparkSession
      import spark.implicits._
      broadcast(rows.toDF(tickCol, "__p"))
    }
    // each signal feeds TWO passes (its pctDim grid collect + the dim
    // join) — pin the 16-byte tick rows so the quality tokenization and
    // the LM scoring chain each run ONCE, not twice (the q125/q191
    // double-scan class)
    val q = Pins.pin(docs.select(col("doc_id"),
      floor(qualityExpr(col("text")) * 10000 + 0.5).cast("long").as("__qt")))
    val s = Pins.pin(lmScore(docs).select(col("doc_id"),
      floor(col("avg_nll") * 1000 + 0.5).cast("long").as("__st")))
    val qp = q.join(pctDim(q, "__qt"), Seq("__qt"))
      .select(col("doc_id"), col("__p").as("q_bp"))
    val sp = s.join(pctDim(s, "__st"), Seq("__st"))
      .select(col("doc_id"), col("__p").as("nll_bp"))
    qp.join(sp, Seq("doc_id"))
      .select(col("doc_id"), col("q_bp"), col("nll_bp"),
        expr("(q_bp + (10000 - nll_bp) + 1) div 2").as("blend_bp"))
  }

  /** Held-out LM surprisal — [[lmScore]]'s unigram model trained on the
    * TRAIN split only and evaluated on the VAL split, with add-one
    * smoothing so out-of-vocabulary val tokens carry the uniform-mass
    * penalty instead of being silently dropped:
    * `nll(tok) = ln((T + V) / (c_train(tok) + 1))`, V = whole-corpus
    * vocabulary size. This is the honest generalization signal the
    * in-corpus q84 score cannot give (a model scored on its own training
    * tokens under-reports every rare-token surprisal), and the OOV count
    * doubles as the split-representativeness audit.
    *
    * Same portability discipline as [[lmScore]] (ln rounded once to
    * integer micro-nats, integer sums, HALF_UP mean) and same scale
    * shape (token-key join against the train-vocab counts; split
    * membership is [[splitExpr]]'s pure column — no split join). Docs
    * with no tokens have no row.
    * Output: doc_id, n_tokens, n_oov, nll_micro, avg_nll.
    */
  def heldOutSurprisal(docs: DataFrame, trainPct: Int = 90,
                       valPct: Int = 5): DataFrame = {
    val tagged = docs.withColumn("__split", splitExpr(trainPct, valPct))
    val counts = tagged.where(col("__split") === "train")
      .select(explode(tokens(asciiLower(col("text")))).as("token"))
      // no-op filter: the scoring LEFT join pushes isnotnull(token) below
      // this aggregate on its branch only; making it explicit lets the
      // total branch reuse the same exchange (train tokenize runs once)
      .where(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__t"))
    val vocabN = docs
      .select(explode(tokens(asciiLower(col("text")))).as("token"))
      .agg(countDistinct(col("token")).as("__v"))
    tagged.where(col("__split") === "val")
      .select(col("doc_id"), explode(tokens(asciiLower(col("text")))).as("token"))
      .join(counts, Seq("token"), "left")
      .crossJoin(broadcast(total)).crossJoin(broadcast(vocabN))
      .select(col("doc_id"),
        col("__c").isNull.cast("long").as("__oov"),
        lnMicros((col("__t") + col("__v")).cast("double") /
          (coalesce(col("__c"), lit(0L)) + lit(1L))).as("__nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__oov")).as("n_oov"),
        sum(col("__nll")).as("nll_micro"))
      .withColumn("avg_nll",
        expr("(2 * nll_micro + n_tokens) div (2 * n_tokens)") / lit(1e6))
  }

  /** Stratified evaluation draw — n documents per (source, predicted
    * language) cell, picked by a salted reproducible hash (NOT an RNG:
    * the same eval set falls out of any run, partitioning, or engine —
    * the property an eval set must have to be citable). The per-cell
    * rank window is partitioned on the bounded strata dim and Spark's
    * WindowGroupLimit pushes the `rank ≤ n` cut map-side, so each
    * reducer sees at most n·partitions rows, never a stratum's full
    * population. Output: doc_id, source, predicted_lang, rk (1..n by
    * (hash, doc_id)).
    */
  def stratifiedEvalDraw(docs: DataFrame, n: Int = 5,
                         salt: String = "eval"): DataFrame = {
    val w = Window.partitionBy(col("source"), col("predicted_lang"))
      .orderBy(col("__u"), col("doc_id"))
    docs.select(col("doc_id") +: col("source") +: langScoreCols(col("text")): _*)
      .withColumn("predicted_lang", predictedFromScores)
      .withColumn("__u", pmod(
        HashBase.Md5(concat(lit(salt + ":"), col("doc_id").cast("string"))),
        lit(10000L)))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= n)
      .select("doc_id", "source", "predicted_lang", "rk")
  }

  /** Document-level corpus epoch diff — the content-hash what-changed
    * audit between two corpus versions (the doc-granular companion to
    * [[datasetManifestDiff]]'s cell-level view): full-outer join on
    * doc_id, statuses added / removed / changed / unchanged by the
    * normalized-text fingerprint ([[Dedup.exactGroups]]' identity), then
    * one ≤4-row aggregate with the id range per status. One id-key
    * shuffle join; fingerprints are computed in the scan projection, so
    * text never shuffles.
    * Output: status, n_docs, min_doc_id, max_doc_id.
    */
  def corpusEpochDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fp(d: DataFrame, c: String): DataFrame =
      d.select(col("doc_id"), md5(normalized(col("text"))).as(c))
    fp(oldDocs, "__fo").join(fp(newDocs, "__fn"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__fo").isNull, "added")
          .when(col("__fn").isNull, "removed")
          .when(col("__fo") === col("__fn"), "unchanged")
          .otherwise("changed"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
  }

  /** Bigram-LM surprisal — the step up from [[lmScore]]'s unigram
    * proxy toward the n-gram-LM perplexity filters real corpus
    * pipelines run (CCNet's KenLM stage): each document scored by its
    * mean conditional negative log-likelihood under the corpus's own
    * bigram model with add-one smoothing,
    * `p(cur | prev) = (c2(prev,cur) + 1) / (c1(prev) + V)`.
    * Repetitive/templated text has predictable transitions (low NLL);
    * token salad scores high — a genuinely different signal from
    * unigram rarity.
    *
    * Portability is the same integer discipline as [[lmScore]]: the one
    * transcendental (ln) is rounded ONCE per bigram TYPE to integer
    * micro-nats, per-doc sums and the HALF_UP mean are then exact in
    * any fold order. Scale shape: the bigram model is the corpus's
    * bigram-type dimension — unlike the unigram vocab it does NOT
    * broadcast at web scale, so the doc-stream ⋈ model join shuffles
    * co-partitioned on the (prev, cur) key the model aggregation
    * already produced; the unigram side and the vocab-size scalar do
    * broadcast. Docs with < 2 tokens have no transitions and no row —
    * the honest answer for a conditional model.
    * Output: doc_id, n_bigrams, nll_micro, avg_nll2.
    */
  /** The (doc_id, prev, cur) bigram stream with multiplicity — shared by
    * [[bigramLmScore]] and [[collocations]]. */
  private def bigramPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(asciiLower(col("text"))).as("__w"))
      .where(size(col("__w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__w")) - 1),
        i => struct(element_at(col("__w"), i).as("prev"),
          element_at(col("__w"), i + 1).as("cur")))).as("__bg"))
      .select(col("doc_id"), col("__bg.prev").as("prev"), col("__bg.cur").as("cur"))

  // NOTE (r12): a shared per-doc bigram-type aggregate (regroup by
  // (doc_id, prev, cur), derive model + scoring from it) was built and
  // REVERTED on measurement: the regroup barely compresses (most bigram
  // types occur once per doc), so it adds a near-full-stream exchange
  // while the tokenize it saves is cheaper — q101 1.56 -> 2.13 s,
  // q105 0.86 -> 1.55 s in the same-box A/B. The double derivation
  // below is the measured-faster plan (the q164 pin lesson's sibling).
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    val uni = tokenCounts(docs).withColumnRenamed("n", "c1")
    // count(when(c1 >= 1, ..)) — keeps the unigram partial agg identical
    // across the vocab-size and model-join branches (exchange reuse;
    // count(c1) alone is rewritten to count(1) and the reuse breaks)
    val vocabSize = uni.agg(count(when(col("c1") >= 1, lit(1))).as("__v"))
    val model = pairs.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c2"))
      .join(broadcast(uni.withColumnRenamed("token", "prev")), Seq("prev"))
      .crossJoin(broadcast(vocabSize))
      .select(col("prev"), col("cur"),
        lnMicros((col("c1") + col("__v")).cast("double") / (col("c2") + lit(1L)))
          .as("__nll"))
    pairs.join(model, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("nll_micro"))
      .withColumn("avg_nll2",
        expr("(2 * nll_micro + n_bigrams) div (2 * n_bigrams)") / lit(1e6))
  }

  /** Collocation mining — the corpus's top-k adjacent token pairs by
    * pointwise mutual information: the classic phrase-discovery /
    * tokenizer-merge-candidate signal ("new york" scores high because
    * its parts co-occur far beyond their independent rates).
    * `pmi = ln(N · c2 / (c1(prev) · c1(cur)))` with N the total bigram
    * positions; `minCount` guards PMI's known low-count pathology
    * (hapax pairs score arbitrarily high). The one ln lands in integer
    * micro-nats ONCE per surviving pair type, so ranking and its ties
    * (pmi desc, then prev, cur) are integer-exact across engines.
    * One bigram hash agg + two broadcast unigram joins +
    * TakeOrderedAndProject — no global sort.
    * Output: prev, cur, n_pair, pmi_micro.
    */
  def collocations(docs: DataFrame, k: Int = 20, minCount: Int = 5): DataFrame = {
    require(k >= 1 && minCount >= 1, "need positive k and minCount")
    val pairs = bigramPairs(docs)
    val uni = tokenCounts(docs).withColumnRenamed("n", "c1")
    val total = pairs.agg(count(lit(1)).as("__n"))
    pairs.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
      .join(broadcast(uni.select(col("token").as("prev"), col("c1").as("__ca"))),
        Seq("prev"))
      .join(broadcast(uni.select(col("token").as("cur"), col("c1").as("__cb"))),
        Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"), col("n_pair"),
        lnMicros((col("__n") * col("n_pair")).cast("double") /
          (col("__ca") * col("__cb")).cast("double")).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("prev"), col("cur"))
      .limit(k)
  }

  /** PII patterns — deliberately conservative and ENGINE-PORTABLE (no
    * lookarounds, no backreferences: the same pattern must mean the same
    * thing to Java's regex and to RE2-based engines, so the scan carries
    * its own DuckDB oracle). Production deployments extend this table;
    * the plumbing (count/flag/redact as pure codegen column exprs over
    * one scan) is what the 100 TB path needs.
    */
  private[operators] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+", "<EMAIL>"),
    ("phones", "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("ips", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** Per-document PII scan — the block-before-training audit every scraped
    * corpus runs: counts per pattern class plus the composite flag. One
    * scan, pure column exprs, no shuffle. Patterns match on the lowercased
    * text (emails are case-insensitive by construction; digits unaffected).
    * Output: doc_id, n_emails, n_phones, n_ips, has_pii.
    */
  /** The composite PII flag as a pure column over `text` — exposed for
    * [[CorpusPrep]] fusion (same patterns and match domain as [[piiScan]]). */
  def piiFlagExpr(text: Column): Column = {
    val low = asciiLower(text)
    piiPatterns.map { case (_, pat, _) =>
      size(regexp_extract_all(low, lit(pat), lit(0))) > 0
    }.reduce(_ || _)
  }

  def piiScan(docs: DataFrame): DataFrame = {
    val low = asciiLower(col("text"))
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(low, lit(pat), lit(0))).cast("long").as(s"n_$name")
    }
    docs.select(col("doc_id") +: counts: _*)
      .withColumn("has_pii",
        piiPatterns.map { case (name, _, _) => col(s"n_$name") > 0 }.reduce(_ || _))
  }

  /** Redacted copy of the corpus: each PII class replaced by its token.
    * Emits the lowercased text (the match domain) so redaction is
    * deterministic and engine-portable; the IP pattern runs LAST so a
    * phone-like digit run is claimed by the more specific class first.
    * Output: doc_id, redacted.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val redacted = piiPatterns.foldLeft(asciiLower(col("text"))) {
      case (acc, (_, pat, token)) => regexp_replace(acc, pat, token)
    }
    docs.select(col("doc_id"), redacted.as("redacted"))
  }

  /** Fixed-size overlapping token chunks — the sequence-packing prep step
    * of a training pipeline (long documents become training windows of
    * `chunkTokens` tokens advancing by `stride`). In-plan explode of a
    * per-document chunk range: no shuffle, output volume = tokens x
    * (chunkTokens / stride) overlap factor. The final partial chunk is
    * emitted (standard packing keeps the tail; filter on n_tokens to drop).
    * Output: doc_id, chunk_id, n_tokens, chunk_text.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens (gaps would drop tokens)")
    val words = tokens(asciiLower(col("text")))
    docs
      .select(col("doc_id"), words.as("w"))
      .where(size(col("w")) > 0)
      // chunk k covers 1-based token positions [k*stride + 1, k*stride + chunkTokens]
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), floor((size(col("w")) - 1).cast("double") / stride).cast("int")))
          .as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        slice(col("w"), col("chunk_id") * stride + 1, lit(chunkTokens)).as("c"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("c")).cast("long").as("n_tokens"),
        array_join(col("c"), " ").as("chunk_text"))
  }

  /** Deterministic hash-based train/val/test assignment — splits must be
    * stable across runs, partitionings and engines, so the bucket is an
    * md5 prefix of the doc id (no RNG, no row ordering dependence; the
    * same doc lands in the same split forever, which is what makes
    * decontamination and eval-holdout audits possible downstream).
    * Pure column exprs, no shuffle.
    * Output: doc_id, bucket (0-99), split (train|val|test).
    */
  private def splitBucket: Column = splitBucketOf(col("doc_id"))

  private def splitBucketOf(id: Column,
                            base: HashBase = HashBase.Md5): Column =
    pmod(base(id.cast("string")), lit(100L))

  private def splitLabel(bucket: Column, trainPct: Int, valPct: Int): Column =
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")

  /** The split label as a pure column over `doc_id` — exposed for
    * [[CorpusPrep]] fusion. */
  def splitExpr(trainPct: Int = 90, valPct: Int = 5,
                base: HashBase = HashBase.Md5): Column =
    splitLabel(splitBucketOf(col("doc_id"), base), trainPct, valPct)

  def hashSplit(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5,
                base: HashBase = HashBase.Md5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "train/val percentages must fit in 100")
    docs.select(col("doc_id"), splitBucketOf(col("doc_id"), base).as("bucket"))
      .withColumn("split", splitLabel(col("bucket"), trainPct, valPct))
  }

  /** Dataset publication manifest — the summary a pipeline writes when it
    * ships a training-dataset version: per (split, source) document and
    * token counts, the doc-id range, and an ORDER-FREE content checksum
    * (sum of per-doc md5-prefix integers — commutative, so any engine,
    * any partitioning, any row order reproduces it; 32-bit terms summed
    * into a 64-bit never overflow below 2^31 docs per cell). Consumers
    * re-derive the manifest over what they received and diff — the
    * cheap end-to-end integrity handshake.
    *
    * One scan, pure column exprs, one hash agg on the (split, source)
    * dim — manifest cost is corpus-linear with a bounded output.
    * Output: split, source, n_docs, n_tokens, min_doc_id, max_doc_id,
    * content_sum.
    */
  def datasetManifest(docs: DataFrame, trainPct: Int = 90,
                      valPct: Int = 5,
                      base: HashBase = HashBase.Md5): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(tokens(asciiLower(col("text")))).cast("long").as("__ntok"),
      base(col("text")).as("__h"),
      splitExpr(trainPct, valPct, base).as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(col("__h")).as("content_sum"))

  /** Manifest diff — the consumer-side change audit between two dataset
    * versions' [[datasetManifest]] outputs: per (split, source) cell,
    * old/new doc and token counts, their deltas, and a status —
    * `added` / `removed` / `changed` / `unchanged` — where `unchanged`
    * requires the ORDER-FREE content checksum to match, i.e. CONTENT
    * equality, not merely equal counts (two cells can swap documents
    * and keep every count; the commutative checksum catches it).
    * The what-changed-since-v1 question every dataset consumer asks
    * before retraining, answered from two manifest relations without
    * touching either corpus. Full-outer join on the bounded
    * (split, source) dimension — manifest-sized work, never
    * corpus-sized.
    * Output: split, source, old_docs, new_docs, delta_docs,
    * delta_tokens, status.
    */
  def datasetManifestDiff(oldManifest: DataFrame,
                          newManifest: DataFrame): DataFrame = {
    val o = oldManifest.select(col("split"), col("source"),
      col("n_docs").as("__od"), col("n_tokens").as("__ot"),
      col("content_sum").as("__os"))
    val n = newManifest.select(col("split"), col("source"),
      col("n_docs").as("__nd"), col("n_tokens").as("__nt"),
      col("content_sum").as("__ns"))
    // null-SAFE source match: a null-source bucket in both manifests is
    // the SAME bucket and must diff as one row, not split into a
    // spurious added/removed pair (whose tie order then diverges
    // between engines); the oracle uses IS NOT DISTINCT FROM
    o.as("mo").join(n.as("mn"),
        col("mo.split") === col("mn.split") &&
          col("mo.source") <=> col("mn.source"),
        "full_outer")
      .select(coalesce(col("mo.split"), col("mn.split")).as("split"),
        coalesce(col("mo.source"), col("mn.source")).as("source"),
        coalesce(col("__od"), lit(0L)).as("old_docs"),
        coalesce(col("__nd"), lit(0L)).as("new_docs"),
        (coalesce(col("__nd"), lit(0L)) - coalesce(col("__od"), lit(0L)))
          .as("delta_docs"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("__ot"), lit(0L)))
          .as("delta_tokens"),
        when(col("__od").isNull, "added")
          .when(col("__nd").isNull, "removed")
          .when(col("__od") === col("__nd") && col("__ot") === col("__nt") &&
            col("__os") === col("__ns"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-source quality cap — domain balancing: an open-web corpus is
    * dominated by a few giant sources, and training mixes cap each
    * domain's contribution, keeping its BEST documents (the
    * RefinedWeb/FineWeb-style per-domain cap). Keeps the top `n` docs
    * per `sourceCol` by [[qualityExpr]] (ties → min doc_id,
    * deterministic under any partitioning).
    *
    * One scan for the score (pure column exprs), one window partitioned
    * by source for the rank — the partition is a domain's docs, which
    * is exactly the dimension being capped, and no global sort exists
    * anywhere. Skewed mega-domains are the one case to watch; their
    * window partitions are the cost of exact per-domain ranking, and a
    * two-phase refinement (per-partition top-n, then merge) is what
    * [[Stats.quantileBuckets]]-style counting would buy if a domain
    * outgrows a partition.
    *
    * Output: doc_id, source, quality, src_rank (1..n) for kept docs
    * only.
    */
  def perSourceCap(docs: DataFrame, n: Int, sourceCol: String = "source"): DataFrame = {
    require(n >= 1, "cap must keep at least one doc per source")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col(sourceCol),
      qualityExpr(col("text")).as("quality"))
      .withColumn("src_rank", row_number().over(w))
      .where(col("src_rank") <= n)
  }

  /** Leakage-proof split assignment — [[hashSplit]] draws each DOCUMENT
    * independently, so members of one near-dup cluster can straddle
    * train/holdout: exactly the leakage [[splitContamination]] measures
    * after the fact. This assigns the split from the CLUSTER's canonical
    * id instead — every member inherits its cluster's single draw, so
    * detected near-dups can never leak across splits BY CONSTRUCTION
    * (and singletons reduce exactly to a hash draw on their own id).
    * `clusters` is any (doc_id, cluster_id) map — LSH ([[Dedup
    * .dupClusters]]), SimHash, or semantic dedup all compose; docs
    * absent from it are singletons. Same md5-bucket arithmetic as
    * [[hashSplit]], applied to the cluster id: no RNG, stable forever,
    * and the split of a cluster never changes when members are added
    * (its canonical min-id is stable under growth on the right).
    * One equi-join on doc_id + pure column exprs.
    * Output: doc_id, cluster_id, split.
    */
  def clusterAwareSplit(docs: DataFrame, clusters: DataFrame,
                        trainPct: Int = 90, valPct: Int = 5,
                        base: HashBase = HashBase.Md5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "train/val percentages must fit in 100")
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        splitLabel(splitBucketOf(col("cluster_id"), base), trainPct, valPct))
  }

  /** Train→holdout leakage audit — after splitting, which TRAINING
    * documents share a memorization-length n-gram with the held-out
    * (val/test) split? The cross-split composition of [[hashSplit]] and
    * the [[contamination]] shingle check, run before training so eval
    * numbers aren't inflated by verbatim overlap. Unlike
    * [[contamination]] (benchmark side is tiny → broadcast), the holdout
    * here is a corpus FRACTION, so both sides shuffle on the shingle —
    * the distinct and the join co-partition on the same key, and only
    * (doc_id, shingle) pairs move. The split is recomputed in-plan from
    * the doc id (pure column, no extra join against [[hashSplit]]).
    * Output: doc_id (train docs only), n_shared (its distinct shingles
    * seen anywhere in holdout).
    */
  def splitContamination(docs: DataFrame, n: Int = 13,
                         trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val tagged = docs.withColumn("split", splitLabel(splitBucket, trainPct, valPct))
    val trainSh = Dedup.shingles(tagged.where(col("split") === "train"), n)
    val holdSh = Dedup.shingles(tagged.where(col("split") =!= "train"), n)
      .select(col("shingle")).distinct()
    trainSh.join(holdSh, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Line-level boilerplate removal — the CCNet/RefinedWeb cleanup step:
    * a line appearing (near-)verbatim in many documents is template chrome
    * (nav bars, cookie banners, footers), not content, so every line whose
    * document frequency reaches `minDf` is dropped from every document and
    * the survivors are reassembled in original order.
    *
    * Shape at 100 TB: one posexplode scan, one two-stage hash aggregate
    * for the line DF table, one BROADCAST join back, one per-doc
    * aggregate. Skew is the design constraint here, because boilerplate
    * lines are BY DEFINITION the corpus's heavy keys (an empty line or a
    * cookie banner can sit in half of all documents):
    *
    *  - Document frequency is computed distinct-first: the
    *    `(line, doc_id)` distinct shuffles on BOTH columns (uniform even
    *    when one hot line covers half the corpus), and the count over
    *    the deduped pairs is map-side partial — the reducer owning the
    *    hottest line receives at most one partial row per upstream
    *    partition, never the corpus's copies. (A direct
    *    `groupBy(line).agg(countDistinct(doc_id))` leaves that expansion
    *    to the planner; writing it out pins the uniform first key.)
    *  - The join back is a broadcast of the boiler side by default —
    *    template chrome (nav bars, banners, footers) is a bounded set,
    *    orders of magnitude smaller than distinct lines — so the corpus
    *    side never shuffles on the hot line key at all. For a boiler set
    *    past broadcast limits, `broadcastBoiler = false` shuffles on an
    *    xxhash64 line key (8-byte key bytes instead of full line text)
    *    with an exact in-key string verify.
    *
    * Order restoration is the standard collect_list-of-struct +
    * array_sort — no window function, one per-doc shuffle.
    *
    * Output: doc_id, n_lines, n_kept, cleaned (kept lines joined by \n;
    * empty string when every line was boilerplate).
    */
  /** Top boilerplate lines by document frequency — the "what chrome is
    * [[dedupLines]] about to strip" audit a curation run reviews before
    * committing to a minDf. Document frequency is computed distinct-first
    * (the (line, doc) distinct shuffles on BOTH columns — uniform even
    * for a line in half the corpus, the q66 skew lesson), the top-k is a
    * TakeOrdered heap, and the rank window touches k rows only.
    * Output: rank (df desc, line asc), line, df.
    */
  def topBoilerplateLines(docs: DataFrame, k: Int = 20,
                          minDf: Int = 2): DataFrame = {
    val ord = Seq(col("df").desc, col("line").asc)
    docs.select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rank", "line", "df")
  }

  def dedupLines(docs: DataFrame, minDf: Int = 2,
                 broadcastBoiler: Boolean = true): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every line")
    // pinned: the exploded line stream feeds BOTH the boilerplate-df
    // derivation and the join's left side — unpinned, the full-text
    // split/explode runs once per consumer (the quantileBuckets
    // double-scan class; r12 A/B at sf0.1: q66 2.80 -> 1.75 s median).
    // SESSION-LIFETIME NOTE (r13, from the r12 advisor): the pinned
    // relation here is corpus-sized (full line text) and, under the
    // default eager mode, materializes a Spark job at operator
    // CONSTRUCTION; blocks then live until the ContextCleaner GCs the
    // dead plan. A long-lived session running many independent queries
    // should sweep between them (Pins.sweepAll — what Bench/Verify do)
    // or set spark.graft.pin.mode=none (see Pins scaladoc).
    val lines = Pins.pin(docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line"))))
    val boiler = lines.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("line"), lit(true).as("boiler"))
    val joined =
      if (broadcastBoiler) lines.join(broadcast(boiler), Seq("line"), "left")
      else {
        val bh = boiler.select(xxhash64(col("line")).as("__bh"),
          col("line").as("__bline"), col("boiler"))
        lines.withColumn("__lh", xxhash64(col("line")))
          .join(bh, col("__lh") === col("__bh") && col("line") === col("__bline"),
            "left")
          .select(col("doc_id"), col("pos"), col("line"), col("boiler"))
      }
    joined
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops nulls, so boilerplate lines vanish before the sort
        array_join(
          transform(
            array_sort(collect_list(
              when(col("boiler").isNull, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("cleaned"))
  }

  /** Hashed-feature linear quality classifier — the fastText-style scorer
    * every scraped-corpus pipeline runs (a linear model over hashed token
    * features; here the weight table is derived from md5 so the SAME model
    * is recomputable in any engine and the plumbing carries its own
    * oracle — production swaps in trained weights via the same bucket
    * arithmetic). Token t hashes to bucket md5(t)[0,8) mod `numBuckets`;
    * bucket j carries weight md5("w:"+j)[0,8) / 2^31 - 1 ∈ [-1, 1). The
    * document score is the mean token weight — every weight is an exact
    * multiple of 2^-31 and partial sums stay far below 2^53, so the sum is
    * EXACT in any summation order and the score is engine-portable without
    * depending on float fold order. One scan, pure column exprs, no
    * shuffle. Output: doc_id, n_tokens, score (rounded 6dp), keep.
    */
  /** The classifier's score as a pure column over `text` — exposed (like
    * [[qualityExpr]]) so composed pipelines ([[CorpusPrep]]) can fuse the
    * gate into the one corpus scan. */
  def classifierScoreExpr(text: Column, numBuckets: Int = 1024,
                          base: HashBase = HashBase.Md5): Column = {
    require(numBuckets > 0, "need at least one feature bucket")
    def bucket(t: Column): Column = pmod(base(t), lit(numBuckets.toLong))
    def weight(b: Column): Column =
      base(concat(lit("w:"), b.cast("string")))
        .cast("double") / lit(2147483648.0) - lit(1.0)
    val toks = tokens(asciiLower(text))
    round(
      when(size(toks) > 0,
        aggregate(transform(toks, tk => weight(bucket(tk))), lit(0.0), _ + _) /
          size(toks).cast("double"))
        .otherwise(lit(0.0)), 6)
  }

  def hashedClassifierScore(docs: DataFrame, numBuckets: Int = 1024,
                            threshold: Double = 0.0,
                            base: HashBase = HashBase.Md5): DataFrame =
    docs.select(col("doc_id"),
      // null text has zero tokens, not a null count (the oracle's
      // LEFT JOIN + coalesce(n_tokens, 0) convention)
      coalesce(nTokensExpr(col("text")), lit(0L)).as("n_tokens"),
      classifierScoreExpr(col("text"), numBuckets, base).as("score"))
      .withColumn("keep", col("score") > threshold)

  /** Deterministic domain-mixture sampling — training corpora are blended
    * from sources at configured rates (web 10%, code 50%, books 100%, ...).
    * The keep decision is a hash threshold on the doc id (salted so it is
    * independent of [[hashSplit]]'s bucket), NOT an RNG: the same doc is
    * kept or dropped forever, across runs, partitionings and engines —
    * which is what makes a mixture reproducible and auditable. Rates are
    * resolved to integer cuts in [0, 10000] at plan time, so the whole
    * operator is one scan of pure column exprs, no shuffle.
    * Output: doc_id, source, u (0-9999), kept.
    */
  /** The mixture hash draw in [0, 10000) as a pure column over the doc id. */
  def mixtureUExpr(docId: Column,
                   base: HashBase = HashBase.Md5): Column =
    pmod(base(concat(lit("mix:"), docId.cast("string"))), lit(10000L))

  /** The mixture keep verdict as a pure column — exposed for [[CorpusPrep]]
    * fusion. Rates resolve to integer cuts at plan time (a literal
    * when-chain over the small config map). */
  def mixtureKeptExpr(source: Column, docId: Column, rates: Map[String, Double],
                      defaultRate: Double,
                      base: HashBase = HashBase.Md5): Column = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    def cut(r: Double): Long = math.round(r * 10000)
    val cutCol = rates.toSeq.sortBy(_._1).foldLeft(lit(cut(defaultRate))) {
      case (acc, (src, r)) => when(source === src, lit(cut(r))).otherwise(acc)
    }
    mixtureUExpr(docId, base) < cutCol
  }

  def mixtureSample(docs: DataFrame, rates: Map[String, Double],
                    defaultRate: Double = 1.0,
                    base: HashBase = HashBase.Md5): DataFrame =
    docs.select(col("doc_id"), col("source"),
      mixtureUExpr(col("doc_id"), base).as("u"),
      mixtureKeptExpr(col("source"), col("doc_id"), rates, defaultRate,
        base).as("kept"))

  /** Weight-proportional reproducible sampling WITHOUT replacement — the
    * Efraimidis–Spirakis exponential-key draw (A-ES), derandomized: each
    * doc's uniform u ∈ (0,1] is a salted md5 prefix of its id (the
    * [[HashBase.Md5]] discipline — same doc, same key, any engine, any
    * partitioning, no RNG), its priority key is −ln(u)/w, and the sample
    * is the n SMALLEST keys — inclusion probability proportional to the
    * weight w, exactly the draw a mixture pipeline needs when "sample
    * favoring length/quality" must also be citable and replayable
    * ([[mixtureSample]] is the per-source RATE gate; this is the
    * per-document WEIGHT gate). −ln(u) is fixed to integer micro-nats
    * and the key to integer micro-ticks of the exact lnMicro/w ratio, so
    * the ordering is engine-portable; non-positive weights are excluded
    * (zero inclusion mass). The top-n plans as TakeOrderedAndProject —
    * per-partition heaps + one bounded driver merge, never a global
    * sort, at any corpus size.
    *
    * Output: doc_id, source, weight, key_micro (= floor(lnMicro/w + ½)).
    */
  def weightedSample(docs: DataFrame, n: Int = 200,
                     weightCol: Column = col("n_chars"),
                     salt: String = "ws",
                     base: HashBase = HashBase.Md5): DataFrame = {
    val h = base(concat(lit(salt + ":"), col("doc_id").cast("string")))
    val lnMicro = floor(
      -log((h + lit(1L)).cast("double") / lit(4294967296.0)) * 1e6 + 0.5)
      .cast("long")
    docs.where(weightCol > 0)
      .select(col("doc_id"), col("source"), weightCol.cast("long").as("weight"))
      .withColumn("key_micro",
        floor(lnMicro.cast("double") / col("weight") + 0.5).cast("long"))
      .orderBy(col("key_micro"), col("doc_id"))
      .limit(n)
  }

  /** The per-document gate stack as ONE added projection — the ingest-time
    * form of [[CorpusPrep.prepareFull]]'s row-local gates (PII → quality →
    * language → classifier → mixture; dedup is inherently cross-document
    * and stays with the index). Returns `docs` plus a nullable
    * `reject_reason` naming the FIRST failing gate (null = admitted), so
    * a streaming caller can quarantine with an audit trail. The mixture
    * gate participates only when `rates` is non-empty (a `source` column
    * is required then); the classifier default (−1.0) admits everything —
    * scores are means of weights in (−1, 1). Pure column exprs: zero
    * shuffles, zero extra scans.
    */
  def gateVerdict(docs: DataFrame, minQuality: Double = 0.4,
                  lang: String = "en",
                  classifierThreshold: Double = -1.0,
                  rates: Map[String, Double] = Map.empty,
                  defaultRate: Double = 1.0): DataFrame = {
    val base = docs.columns.map(col).toIndexedSeq
    val kept =
      if (rates.nonEmpty)
        mixtureKeptExpr(col("source"), col("doc_id"), rates, defaultRate)
      else lit(true)
    val scored = docs.select(base ++ Seq(
      piiFlagExpr(col("text")).as("__pii"),
      qualityExpr(col("text")).as("__q"),
      classifierScoreExpr(col("text")).as("__score"),
      kept.as("__kept")) ++ langScoreCols(col("text")): _*)
    scored
      .withColumn("reject_reason",
        when(col("__pii"), "pii")
          .when(col("__q") < minQuality, "quality")
          .when(predictedFromScores =!= lang, "language")
          .when(col("__score") <= classifierThreshold, "classifier")
          .when(!col("__kept"), "mixture")
          .otherwise(lit(null).cast("string")))
      .select(base :+ col("reject_reason"): _*)
  }

  /** Gate-funnel report over [[gateVerdict]] — the curation dashboard's
    * first table: per gate (in chain order), how many documents the stack
    * rejects there and the corpus share in integer HALF_UP basis points.
    * Because [[gateVerdict]] records the FIRST failing gate, the rows
    * partition the corpus exactly (shares sum to ~10000 bp) and read as a
    * funnel: a document counted at `quality` already survived `pii`.
    * One scan (the fused verdict projection) + one ≤6-row aggregate.
    * Output: stage (1=pii … 5=mixture, 6=admitted), gate, n_docs,
    * share_bp; only non-empty stages appear.
    */
  def gateFunnel(docs: DataFrame, minQuality: Double = 0.4,
                 lang: String = "en",
                 classifierThreshold: Double = -1.0,
                 rates: Map[String, Double] = Map.empty,
                 defaultRate: Double = 1.0): DataFrame = {
    val v = gateVerdict(docs, minQuality, lang, classifierThreshold, rates,
        defaultRate)
      .withColumn("gate", coalesce(col("reject_reason"), lit("admitted")))
    val stage = when(col("gate") === "pii", 1L)
      .when(col("gate") === "quality", 2L)
      .when(col("gate") === "language", 3L)
      .when(col("gate") === "classifier", 4L)
      .when(col("gate") === "mixture", 5L)
      .otherwise(6L)
    val counts = v.groupBy(col("gate")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("__t"))
    counts.crossJoin(broadcast(tot))
      .select(stage.as("stage"), col("gate"), col("n_docs"),
        expr("(20000 * n_docs + __t) div (2 * __t)").as("share_bp"))
  }

  /** Sequence-packing plan (GPT-style concat-and-split): documents are
    * concatenated in doc_id order and the resulting token stream is cut
    * into fixed `contextLen` windows; each document's global token offset
    * decides which pack(s) it lands in. Emits the ASSIGNMENT (offsets and
    * pack ids), not the packed text — the plan is what a distributed
    * writer shards on, and it is what makes packing reproducible: the
    * layout is a pure function of (corpus, contextLen), independent of
    * partitioning.
    *
    * The global running offset is the scale trap: the direct
    * `sum().over(Window.orderBy("doc_id"))` collapses the whole corpus
    * into ONE partition — the classic prefix-sum killer. This runs it
    * two-phase instead: (1) per-bucket token subtotals (bucket = doc_id
    * range of `bucketSize` ids) whose running offsets are computed on the
    * SMALL bucket dimension (corpus/bucketSize rows — the only
    * single-partition window, bounded by construction and broadcast
    * back), then (2) each doc adds its within-bucket running sum through
    * a window PARTITIONED by bucket — fully parallel, at most
    * `bucketSize` rows per partition. Size `bucketSize` so the bucket dim
    * stays broadcastable (1e6 ids/bucket → 100k rows at 1e11 docs).
    *
    * Empty docs carry no tokens and are excluded (they cannot own an
    * offset). Output: doc_id, n_tokens, start_offset, pack_id,
    * end_pack_id, straddles (doc crosses a pack boundary — the fraction
    * of straddlers is the attention-fragmentation metric packing reports).
    */
  def packDocs(docs: DataFrame, contextLen: Int = 512,
               bucketSize: Long = 4096): DataFrame = {
    require(contextLen > 0, "context length must be positive")
    require(bucketSize > 0, "bucket size must be positive")
    val counted = docs
      .select(col("doc_id"), nTokensExpr(col("text")).as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("bucket", expr(s"doc_id div ${bucketSize}L"))
    val bucketTotals = counted.groupBy("bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
    val bw = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketTotals.select(col("bucket"),
      coalesce(sum(col("bucket_tokens")).over(bw), lit(0L)).as("bucket_offset"))
    val dw = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("start_offset",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(dw), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div ${contextLen}L").as("pack_id"),
        expr(s"(start_offset + n_tokens - 1) div ${contextLen}L").as("end_pack_id"))
      .withColumn("straddles", col("pack_id") =!= col("end_pack_id"))
  }

  /** Deterministic token-budget draw — real corpora are drawn to a TOKEN
    * budget ("train on 300B tokens"), not a document rate
    * ([[mixtureSample]]'s knob): documents are taken in the order of a
    * salted md5 of their id (a reproducible shuffle — independent of the
    * mixture and split salts, so budget draws compose with both) until
    * the running token total crosses `budgetTokens`. The doc that
    * STRADDLES the budget is included (greedy take-until semantics:
    * every selected doc has start_offset < budget), so the draw
    * overshoots by at most one document — the convention that keeps
    * membership a pure per-doc predicate.
    *
    * Same two-phase prefix sum as [[packDocs]], with a twist that removes
    * the bucket-size knob entirely: the bucket is the first byte of the
    * ORDERING hash, so (bucket asc, h asc) IS the global hash order and
    * the 256 buckets are uniform by construction — no skew, no tuning.
    * The single-partition window touches exactly 256 rows at any corpus
    * size; the corpus-side window is partitioned by bucket.
    * Output: doc_id, n_tokens, start_offset (position of the doc's first
    * token in the drawn stream).
    */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long,
                        base: HashBase = HashBase.Md5): DataFrame = {
    require(budgetTokens >= 0, "token budget cannot be negative")
    // ordering hash: the md5 path orders by the full hex digest (what
    // every engine replays); the production path orders by the 32-bit
    // xxhash64 fold with doc_id breaking truncation ties — a different
    // (equally uniform) draw order, an order of magnitude cheaper. Both
    // take their bucket from the hash's top byte, so (bucket, h) is the
    // global hash order and the 256 buckets stay uniform by construction.
    val draw = concat(lit("draw:"), col("doc_id").cast("string"))
    val (h, bucket) = base match {
      case HashBase.Md5 => (md5(draw), conv(substring(col("h"), 1, 2), 16, 10).cast("long"))
      case HashBase.Xx => (HashBase.Xx(draw), expr("h div 16777216"))
    }
    val counted = docs
      .select(col("doc_id"), nTokensExpr(col("text")).as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("h", h)
      .withColumn("bucket", bucket)
    val bucketTotals = counted.groupBy("bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
    val bw = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketTotals.select(col("bucket"),
      coalesce(sum(col("bucket_tokens")).over(bw), lit(0L)).as("bucket_offset"))
    val dw = Window.partitionBy("bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("start_offset",
        col("bucket_offset") + coalesce(sum(col("n_tokens")).over(dw), lit(0L)))
      .where(col("start_offset") < budgetTokens)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"))
  }

  /** Materialize [[packDocs]]'s plan into the actual training sequences:
    * each document's token stream is split EXACTLY at pack boundaries
    * (GPT-style packing breaks documents mid-stream), so every pack
    * except the final one holds precisely `contextLen` tokens. Each doc
    * explodes to only the packs it covers (fan-out = straddle count + 1,
    * not packs × docs), pieces are sliced per pack with pure array
    * exprs, and packs assemble with one groupBy — order inside a pack
    * recovered by sorting the collected (start_offset, piece) structs,
    * so assembly is partition-order-independent.
    * Output: pack_id, n_tokens, n_docs, text.
    */
  def packSequences(docs: DataFrame, contextLen: Int = 512,
                    bucketSize: Long = 4096): DataFrame = {
    val plan = packDocs(docs, contextLen, bucketSize)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("__w"))
    plan.join(toks, Seq("doc_id"))
      .withColumn("p", explode(sequence(col("pack_id"), col("end_pack_id"))))
      .select(col("p").as("pack_id"), col("start_offset"),
        // 0-based token span of this doc that lands in pack p
        greatest(col("p") * contextLen - col("start_offset"), lit(0L)).as("__f"),
        least(col("n_tokens"),
          (col("p") + 1) * contextLen - col("start_offset")).as("__u"),
        col("__w"))
      .select(col("pack_id"), col("start_offset"),
        (col("__u") - col("__f")).as("__len"),
        array_join(slice(col("__w"), (col("__f") + 1).cast("int"),
          (col("__u") - col("__f")).cast("int")), " ").as("__piece"))
      .groupBy("pack_id")
      .agg(
        sum(col("__len")).as("n_tokens"),
        count(lit(1)).as("n_docs"),
        array_join(
          transform(array_sort(collect_list(struct(col("start_offset"), col("__piece")))),
            s => s.getField("__piece")),
          " ").as("text"))
  }

  /** Dataset-card composition report — the per-(source, split) summary a
    * training run publishes: document/token counts, each cell's share of
    * corpus tokens, mean quality, and PII incidence. All arithmetic that
    * feeds a rounded ratio stays in INTEGERS until one final
    * exact-int-by-power-of-10 division: quality is aggregated in 1e-4
    * ticks (quality is 4dp-rounded, so ticks are exact longs and the sum
    * is fold-order-independent — the Atr discipline), and each ratio is
    * rounded HALF-UP in integer space, `(2a + b) div (2b)`, instead of
    * `round(a / b, k)` — a float ratio landing near a decimal half-tie
    * rounds differently under decimal-string rounding (Spark) vs
    * multiply-then-round (other engines), and a mean of 4dp ticks lands
    * on such ties routinely (found by the q73 oracle the first time: one
    * cell's mean differed by exactly one tick). token_share multiplies
    * through DECIMAL(38,0) so 2·tokens·10⁶ cannot overflow at real corpus
    * scale (>4.6e12 total tokens overflows BIGINT). The only
    * full-relation window (token_share's total) runs over the
    * ALREADY-AGGREGATED sources×splits dimension — bounded by the config,
    * not the corpus.
    * Output: source, split, n_docs, n_tokens, token_share, mean_quality,
    * pii_docs, pii_rate.
    */
  def compositionReport(docs: DataFrame, trainPct: Int = 90,
                        valPct: Int = 5): DataFrame = {
    val perDoc = docs.select(
      col("source"),
      splitExpr(trainPct, valPct).as("split"),
      nTokensExpr(col("text")).as("n_tokens"),
      round(qualityExpr(col("text")) * 10000, 0).cast("long").as("q_ticks"),
      piiFlagExpr(col("text")).cast("long").as("pii"))
    val grouped = perDoc.groupBy("source", "split").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("q_ticks").as("q_ticks"),
      sum("pii").as("pii_docs"))
    val total = Window.partitionBy()
    grouped
      .withColumn("total_tokens", sum(col("n_tokens")).over(total))
      .select(
        col("source"), col("split"), col("n_docs"), col("n_tokens"),
        (expr("CAST((2 * CAST(n_tokens AS DECIMAL(38,0)) * 1000000 + total_tokens) div (2 * total_tokens) AS BIGINT)")
          / lit(1000000.0)).as("token_share"),
        (expr("(2 * q_ticks + n_docs) div (2 * n_docs)") / lit(10000.0))
          .as("mean_quality"),
        col("pii_docs"),
        (expr("(2 * pii_docs * 10000 + n_docs) div (2 * n_docs)") / lit(10000.0))
          .as("pii_rate"))
  }

  /** CCNet-style text normalization for near-exact dedup: lowercase,
    * map every non-alphanumeric character to a space (so punctuation and
    * line structure never glue words together), collapse space runs,
    * trim. Pure codegen'd regexp chain — one scan, no shuffle. The
    * corpus contract is ASCII text (verified for the driver tables);
    * locale-sensitive case folding is out of scope by design.
    */
  def normalizedTextExpr(text: Column): Column =
    trim(regexp_replace(regexp_replace(asciiLower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Normalized exact-dedup groups: documents that collide after
    * [[normalizedTextExpr]] — the cheap recall layer between exact-hash
    * dedup (misses a reformatted recrawl entirely) and MinHash (pays a
    * shingle pass to find it). Grouping is on the 128-bit md5 of the
    * normalized text, so the shuffle key is uniform regardless of text
    * skew, and count/min/max all combine map-side — a hot normalized
    * key (e.g. the empty document) still does its heavy lifting in the
    * partial aggregate.
    * Output (groups with >1 member only): norm_key, n_docs, min_doc_id,
    * max_doc_id.
    */
  def normalizedDedupGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(normalizedTextExpr(col("text"))).as("norm_key"))
      .groupBy(col("norm_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .where(col("n_docs") > 1)

  /** Truncation-dup families: documents sharing their first
    * `prefixChars` NORMALIZED characters while differing somewhere after
    * — the recrawl-cut-off-mid-page / snippet-vs-full-article shape that
    * exact dedup misses entirely and shingle dedup only catches when the
    * shared prefix dominates the longer doc. Grouping is on the md5 of
    * the normalized prefix (uniform shuffle key); `n_variants` counts
    * distinct FULL normalized hashes inside the family, and pure
    * exact-dup groups (n_variants = 1) are excluded — those are
    * [[normalizedDedupGroups]]'s job. One scan, two hash-combinable
    * aggregates, no pair materialization.
    * Output: prefix_key, n_docs, n_variants, min_doc_id, max_doc_id.
    */
  def prefixDupGroups(docs: DataFrame, prefixChars: Int = 120): DataFrame = {
    require(prefixChars > 0, "prefixChars must be positive")
    val norm = normalizedTextExpr(col("text"))
    docs
      .select(col("doc_id"),
        md5(substring(norm, 1, prefixChars)).as("prefix_key"),
        md5(norm).as("full_key"))
      .groupBy(col("prefix_key"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("full_key")).as("n_variants"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
      .where(col("n_docs") > 1 && col("n_variants") > 1)
  }

  /** Cross-epoch incremental dedup audit: which NEW-epoch documents are
    * already represented in the accepted OLD epoch, by the
    * [[prefixDupGroups]] identity (md5 of the first `prefixChars` of the
    * normalized text — catches retrieval truncations and re-crawled
    * heads that full-hash dedup misses). This is the batch acceptance
    * gate an append-only corpus runs per ingest epoch: only the NEW
    * slice pays the scan, the old side collapses to its DISTINCT
    * fingerprint set first (map-side combine on a uniform 128-bit key),
    * and the join shuffles fingerprints, never text. At 100 TB the old
    * fingerprint set exceeds broadcast, so the equi-join hashes on the
    * md5 key — uniform by construction regardless of text skew.
    * Output per source: n_new, n_dup, dup_bp (floor).
    */
  def crossEpochPrefixDedup(oldDocs: DataFrame, newDocs: DataFrame,
                            prefixChars: Int = 120): DataFrame = {
    def fp: Column =
      md5(substring(normalizedTextExpr(col("text")), 1, prefixChars))
    val oldFp = oldDocs.select(fp.as("__fp")).distinct()
    newDocs.select(col("source"), fp.as("__fp"))
      .join(oldFp.withColumn("__hit", lit(1L)), Seq("__fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_dup"))
      .withColumn("dup_bp", expr("CAST((n_dup * 10000) DIV n_new AS BIGINT)"))
  }

  /** Deterministic global training order: every doc's 1-based rank in
    * the total order (salted md5 key, doc_id tiebreak) — the "epoch
    * shuffle" manifest a reproducible training run cites instead of an
    * RNG permutation. An order manifest IS a global sort, so the plan
    * makes the sort distributed instead of pretending to avoid it: the
    * 2-hex-char key prefix buckets rows into 256 ranges that partition
    * the key space IN ORDER (a bucket is a prefix, so bucket-major ∘
    * within-bucket order ≡ key order), within-bucket ranks come from a
    * per-bucket window (each partition sorts ~n/256 rows), and bucket
    * offsets are a 256-row single-partition cumsum — bounded by
    * construction, the [[packDocs]] two-phase prefix-sum shape. No
    * partition ever holds the corpus.
    * Output: doc_id, sort_key, global_rank.
    */
  def orderManifest(docs: DataFrame, salt: String = "epoch0"): DataFrame = {
    val key = md5(concat(lit(salt), lit(":"), col("doc_id").cast("string")))
    val keyed = docs.select(col("doc_id"), key.as("sort_key"),
      substring(key, 1, 2).as("__b"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("sort_key"), col("doc_id"))
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    keyed
      .withColumn("__r", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq("__b"))
      .select(col("doc_id"), col("sort_key"),
        (col("__off") + col("__r")).as("global_rank"))
  }

  /** BM25 top-k retrieval for a literal query — the scoring primitive
    * under every lexical search/retrieval-augmentation stage (TF-IDF
    * ranks corpora; BM25 ranks DOCUMENTS for a query, with saturation
    * k1 and length normalization b). Per-(doc, term) scores are fixed
    * to integer MICRO-TICKS before summing — floor(term·10⁶ + 0.5) —
    * so the per-doc total is exact in any fold order (a raw double sum
    * of term scores is partial-aggregation-order dependent); ranking is
    * (score desc, doc_id asc), total. One token scan; df and the
    * corpus stats are one-row/`|Q|`-row broadcasts; only docs matching
    * ≥ 1 query term ever shuffle.
    * Output: rank, doc_id, score (micro-tick exact, 6dp).
    */
  def bm25TopK(docs: DataFrame, query: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    val toks = docs.select(col("doc_id"),
      explode(tokens(asciiLower(col("text")))).as("tok"))
      // no-op filter so the corpus-stats and tf branches' shared
      // aggregates reuse their exchanges (tokenize once per projection)
      .where(col("tok").isNotNull && col("doc_id").isNotNull)
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("__len"))
    val stats = lens.agg(count(lit(1)).as("__N"), sum(col("__len")).as("__L"))
    val tf = toks.where(col("tok").isin(query: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("__tf"))
    // count(when(__tf >= 1, ..)) — keeps the tf partial agg identical
    // across branches so its exchange is reused (see tfidfTopK)
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(when(col("__tf") >= 1, lit(1))).as("__df"))
    val avg = col("__L").cast("double") / col("__N")
    val idf = log((col("__N").cast("double") - col("__df") + 0.5) /
      (col("__df") + 0.5) + 1.0)
    val term = idf * (col("__tf") * (k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len") / avg))
    val ord = Seq(col("__s").desc, col("doc_id").asc)
    tf.join(broadcast(dfreq), Seq("tok"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(term * 1000000 + 0.5).cast("long").as("__t"))
      .groupBy(col("doc_id")).agg(sum(col("__t")).as("__s"))
      .orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(col("rank"), col("doc_id"), (col("__s") / 1000000.0).as("score"))
  }

  /** Reciprocal-rank fusion of two retrieval lists — the standard hybrid-
    * search combiner (lexical BM25 × a second signal; here the corpus
    * quality prior, the "boost good documents" reranker every RAG
    * pipeline bolts on). RRF needs only RANKS, so the two lists' scores
    * never have to be calibrated against each other; each list
    * contributes floor(10⁹ / (rrfK + rank)) — integral division, so the
    * fused score is exact integer arithmetic and engine-portable (the
    * textbook 1/(60+r) sum is float-fold-order noise).
    *
    * Both input lists are TakeOrdered top-`kPerList` heaps (the BM25
    * chain from [[bm25TopK]]; quality ticks over one corpus scan), the
    * fusion is a full-outer join of two k-row relations, and absent-in-
    * list ranks contribute 0 and surface as rank 0 in the output — so
    * every stage after the scans is k-bounded regardless of corpus size.
    * Output: rank, doc_id, rrf_ticks, lex_rank, quality_rank (0 = not
    * in that list's top-k).
    */
  def rrfRetrieval(docs: DataFrame, query: Seq[String], kPerList: Int = 50,
                   k: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = bm25TopK(docs, query, kPerList)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val qord = Seq(col("__q").desc, col("doc_id").asc)
    val qual = docs.select(col("doc_id"),
        floor(qualityExpr(col("text")) * 10000 + 0.5).cast("long").as("__q"))
      .orderBy(qord: _*).limit(kPerList)
      .withColumn("quality_rank",
        row_number().over(Window.orderBy(qord: _*)).cast("long"))
      .select(col("doc_id"), col("quality_rank"))
    val ord = Seq(col("rrf_ticks").desc, col("doc_id").asc)
    lex.join(qual, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr(s"1000000000 DIV (${rrfK}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000 DIV (${rrfK}L + quality_rank)"), lit(0L)))
          .as("rrf_ticks"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("quality_rank"), lit(0L)).as("quality_rank"))
      .orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(col("rank"), col("doc_id"), col("rrf_ticks"),
        col("lex_rank"), col("quality_rank"))
  }

  /** First BPE merge iteration over the corpus: adjacent character-pair
    * counts weighted by word frequency, top-k merge candidates — the
    * tokenizer-training primitive (each BPE round picks the argmax of
    * exactly this table). The corpus collapses to its VOCABULARY first
    * (one hash agg — pair explosion then runs over distinct words, not
    * tokens, the classic fastBPE trick), pairs per word are bounded by
    * word length, the top-k is a TakeOrdered heap, and the rank window
    * touches k rows only. Ties order (count desc, pair asc) — total and
    * engine-portable.
    * Output: rank, pair (2 chars), n.
    */
  def bpePairCounts(docs: DataFrame, k: Int = 20): DataFrame = {
    val ord = Seq(col("n").desc, col("pair").asc)
    docs
      .select(explode(tokens(asciiLower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .where(length(col("word")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(col("rank"), col("pair"), col("n"))
  }

  /** Classifier reliability diagram: hashed-classifier score centibins
    * vs the empirical quality-gate pass rate per bin — the table that
    * says whether the cheap scorer's confidence tracks the expensive
    * gate before a pipeline swaps one for the other. A well-calibrated
    * scorer shows pass_bp rising monotonically with the bin.
    *
    * One corpus scan, two fused column expressions (score + gate),
    * one hash aggregate on the bounded centibin grid — no shuffle
    * beyond the final ≤ ~200-key agg at any corpus size. The mean
    * score per bin is exact integer arithmetic: the 6dp-rounded score
    * becomes HALF_UP micro-ticks, summed with a +10⁶ offset so the
    * integral division never sees a negative operand (Spark DIV
    * truncates toward zero where DuckDB // floors — identical only on
    * non-negatives).
    * Output: bin (floor(score·100)), n_docs, mean_uticks, pass_bp.
    */
  def scoreCalibration(docs: DataFrame,
                       passThreshold: Double = 0.5): DataFrame = {
    val score = classifierScoreExpr(col("text"))
    docs
      .select(floor(score * 100).cast("long").as("bin"),
        floor(score * lit(1000000.0) + 0.5).cast("long").as("__t"),
        when(qualityExpr(col("text")) >= passThreshold, 1L).otherwise(0L)
          .as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(__t + 1000000) DIV count(1) - 1000000 AS BIGINT)")
          .as("mean_uticks"),
        expr("CAST((sum(__p) * 10000) DIV count(1) AS BIGINT)").as("pass_bp"))
  }

  /** Classifier AUC — the single ranking-power number next to
    * [[scoreCalibration]]'s reliability table: does the hashed
    * classifier's score ORDER pass/fail docs correctly? Computed as the
    * exact Mann–Whitney rank-sum over score MILLI-BINS (floor(score·1e3)
    * — scores live in [−1, 1], so the grid is ≤ 2001 cells at ANY corpus
    * size, the counting-dim discipline; binned-AUC is the declared
    * semantic, not an approximation of something else). Ties take the
    * standard midrank credit, kept in integer HALVES so the whole
    * numerator is exact: num2 = Σ_bins pos·(2·cumneg_below + neg), AUC =
    * num2 / (2·P·N), reported as floor micro-units. decimal(38,0)
    * products (HUGEINT oracle-side) so P·N can't overflow at corpus
    * scale. One corpus scan + one bounded-grid window.
    * Output: n_pos, n_neg, auc_micro.
    */
  def classifierAuc(docs: DataFrame,
                    passThreshold: Double = 0.5): DataFrame =
    binnedAuc(docs.select(
      classifierScoreExpr(col("text")).as("score"),
      when(qualityExpr(col("text")) >= passThreshold, 1L).otherwise(0L)
        .as("label")), "score", "label")

  /** The rank-sum core of [[classifierAuc]], reusable for any
    * (score, 0/1 label) relation. See the AUC scaladoc above for the
    * milli-bin + midrank semantics. */
  def binnedAuc(df: DataFrame, scoreCol: String,
                labelCol: String): DataFrame = {
    val grid = df
      .select(floor(col(scoreCol) * 1000).cast("long").as("__bin"),
        col(labelCol).cast("long").as("__p"))
      .groupBy(col("__bin"))
      .agg(sum(col("__p")).as("__pos"),
        sum(lit(1L) - col("__p")).as("__neg"))
    // bounded by the milli-bin grid (≤ 2001 rows) — the single-partition
    // window is a declared constant-size simulation, like the quantile
    // counting grids
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    grid
      .withColumn("__cumneg", coalesce(sum(col("__neg")).over(w), lit(0L)))
      .agg(sum(col("__pos")).as("n_pos"), sum(col("__neg")).as("n_neg"),
        sum(col("__pos").cast("decimal(38,0)") *
          (col("__cumneg") * 2 + col("__neg"))).as("__num2"))
      .select(col("n_pos"), col("n_neg"),
        expr("""CAST((__num2 * 1000000)
                DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)""")
          .as("auc_micro"))
  }

  /** Positional phrase match, self-calibrated: find the corpus's most
    * frequent word trigram (ties broken lexicographically) and return
    * every document containing it with its occurrence count — the
    * retrieval primitive behind exact-phrase search over an inverted
    * index with positions.
    *
    * Adjacency never joins: each document's trigram stream is a pure
    * column expression (one `transform` over the token array — the
    * explode-free equivalent of joining positional postings on
    * pos+1/pos+2), computed ONCE and feeding both the global top-1
    * (a TakeOrdered heap) and the per-doc match counts (one broadcast
    * semi-join on the winning phrase). One corpus scan, one small
    * shuffle on trigram keys, no position table materialized.
    * Output: doc_id, w1, w2, w3, n_occ.
    */
  def phraseMatchTopTrigram(docs: DataFrame): DataFrame = {
    val toks = tokens(asciiLower(col("text")))
    // NOT pinned (r12 counter-result): the trigram stream feeds two
    // consumers, but pinning the tokenized base measured FLAT at sf0.1
    // (two control-normalized pairs: 1.91/2.23 -> 1.93/1.83 s) — unlike
    // dedupSpans (three consumers) the saved second tokenize here just
    // covers the pin's own write+read; pinning the 3x trigram explode
    // itself would be the q164 anti-pattern outright.
    val tri = docs
      .select(col("doc_id"), toks.as("__w"))
      .where(size(col("__w")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__w")) - 2),
          i => struct(
            element_at(col("__w"), i).as("w1"),
            element_at(col("__w"), i + 1).as("w2"),
            element_at(col("__w"), i + 2).as("w3")))).as("__t"))
      .select(col("doc_id"), col("__t.w1").as("w1"),
        col("__t.w2").as("w2"), col("__t.w3").as("w3"))
    val top = tri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("w1").asc, col("w2").asc, col("w3").asc)
      .limit(1)
      .select(col("w1"), col("w2"), col("w3"))
    tri.join(broadcast(top), Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("doc_id"), col("w1"), col("w2"), col("w3"), col("n_occ"))
      .orderBy(col("doc_id"))
  }

  /** Hapax-legomena census per source — the vocabulary-health number
    * reviewers read first: a healthy natural corpus runs ~40-60% hapax
    * (Zipf), synthetic/templated text collapses toward 0, OCR junk
    * explodes toward 1. A corpus-global df per token (one hash agg),
    * a distinct (source, token) presence relation, one bounded
    * per-source rollup — a df=1 token belongs to exactly one source,
    * so the census partitions the global hapax set. HALF_UP bp share.
    * Output: source, vocab_size, n_hapax, hapax_bp.
    */
  def hapaxCensus(docs: DataFrame): DataFrame = {
    val tok = docs.select(
      coalesce(col("source").cast("string"), lit("<none>")).as("source"),
      col("doc_id"), explode(tokens(asciiLower(col("text")))).as("token"))
    val df_ = tok.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    tok.select(col("source"), col("token")).distinct()
      .join(df_, Seq("token"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("vocab_size"), col("n_hapax"),
        expr("(20000 * n_hapax + vocab_size) div (2 * vocab_size)").as("hapax_bp"))
      .orderBy(col("source"))
  }

  /** Arrival-order novelty decay: docs banded into `bands` ingest
    * epochs by doc_id ((bands·id) div (max_id+1) — integer cuts, no
    * rank window), each doc's distinct word n-gram shingles split into
    * first-appearances vs already-seen via the min-first-doc trick
    * (per-shingle min(doc_id), one hash agg — no running state, no
    * ordered scan), then one bounded per-band rollup. The curve is the
    * "diminishing returns of more data from this source" read a
    * curation review does before extending a crawl: a healthy corpus
    * decays slowly; a templated one collapses after the first band.
    * Docs with < n tokens carry no shingles and drop from both the
    * numerator and denominator. HALF_UP bp.
    *
    * doc_id-as-arrival-order is this variant's CONTRACT, not an
    * assumption: with sparse or non-chronological ids the "epochs" are
    * id-range bands. When ingest order lives in a timestamp or batch
    * column, use [[noveltyDecayByEpoch]], which takes the epoch
    * expression explicitly (this default stays for the q300 oracle).
    * Output: band, n_shingles, n_novel, novelty_bp.
    */
  def arrivalNoveltyDecay(docs: DataFrame, n: Int = 3,
                          bands: Int = 10): DataFrame = {
    require(n >= 1 && bands >= 1, "need positive shingle size and bands")
    // pinch-point exchange by the shingle — same shape as [[ngramNovelty]]:
    // the first-seen aggregate and the join back share one shuffle
    val sh = Dedup.shingles(docs, n)
      .where(col("shingle").isNotNull && col("doc_id").isNotNull)
      .repartition(col("shingle"))
    val firstSeen = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("__first"))
    val perDoc = sh.join(firstSeen, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_sh"),
        sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
          .as("__n_new"))
    val mx = docs.agg(max(col("doc_id")).as("__mx"))
    perDoc.crossJoin(broadcast(mx))
      .select(expr(s"CAST(($bands * doc_id) div (__mx + 1) AS BIGINT)").as("band"),
        col("__n_sh"), col("__n_new"))
      .groupBy(col("band"))
      .agg(sum(col("__n_sh")).as("n_shingles"),
        sum(col("__n_new")).as("n_novel"))
      .select(col("band"), col("n_shingles"), col("n_novel"),
        expr("(20000 * n_novel + n_shingles) div (2 * n_shingles)")
          .as("novelty_bp"))
      .orderBy(col("band"))
  }

  /** [[arrivalNoveltyDecay]] with an EXPLICIT ingest-epoch expression —
    * the variant for corpora whose arrival order lives in a timestamp,
    * crawl-batch, or snapshot column rather than the doc_id (sparse or
    * non-chronological ids make id-range bands meaningless). A shingle
    * is novel in exactly one (epoch, doc) — the lexicographic minimum,
    * via the same per-shingle min agg (one hash agg, no running state);
    * the rollup groups by the caller's epoch values directly, so the
    * caller picks the granularity (`date_trunc`, batch id, ...).
    * Documents whose epoch expression is NULL (missing timestamps) are
    * EXCLUDED: a null epoch has no place on an arrival axis, and
    * silently banding it (nulls group together and sort into the
    * output) would skew the curve — callers that want them must
    * coalesce to a sentinel epoch explicitly.
    * Output: band (the epoch value), n_shingles, n_novel, novelty_bp.
    */
  def noveltyDecayByEpoch(docs: DataFrame, epochCol: Column,
                          n: Int = 3): DataFrame = {
    val ep = docs.select(col("doc_id"), epochCol.cast("long").as("__epoch"))
      .where(col("__epoch").isNotNull)
    val sh = Dedup.shingles(docs, n).join(ep, Seq("doc_id"))
    val firstSeen = sh.groupBy(col("shingle"))
      .agg(min(struct(col("__epoch"), col("doc_id"))).as("__first"))
    sh.join(firstSeen, Seq("shingle"))
      .groupBy(col("__epoch"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first.__epoch") === col("__epoch") &&
          col("__first.doc_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("__epoch").as("band"), col("n_shingles"), col("n_novel"),
        expr("(20000 * n_novel + n_shingles) div (2 * n_shingles)")
          .as("novelty_bp"))
      .orderBy(col("band"))
  }

  /** Token dispersion for the corpus head: of a token's total
    * occurrences, how many land in DISTINCT documents — df·10⁴ div tf
    * in floor bp. 10000 means every use is a new document (a function
    * word), a low score means the token is bursty/templated (the
    * within-doc repetition that inflates naive tf weighting). Top-k by
    * tf with (tf desc, token) rank — the [[tokenCounts]] top-k shape,
    * TakeOrdered, no full sort.
    * Output: rank, token, tf, df, dispersion_bp.
    */
  def tokenDispersion(docs: DataFrame, k: Int = 20): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(asciiLower(col("text")))).as("token"))
    val stats = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val ord = Seq(col("tf").desc, col("token").asc)
    stats.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select(col("rank"), col("token"), col("tf"), col("df"),
        expr("(df * 10000) DIV tf").as("dispersion_bp"))
  }

  /** Heaps'-law checkpoints: vocabulary size after the first n documents
    * (doc_id order) at power-of-two prefixes — the sublinear vocab-growth
    * curve whose log-log slope β (healthy natural text: ~0.4-0.6) is the
    * standard "is the corpus still giving new words" saturation monitor
    * for tokenizer sizing. NO running distinct anywhere: a token is new
    * at its MIN doc rank, so one agg per token + a broadcast checkpoint
    * grid gives every prefix count exactly; the OLS slope folds on the
    * bounded checkpoint dim in integer micro log-ticks.
    * Output: checkpoint (docs), vocab, plus the corpus-level slope
    * replicated per row (beta_milli) for one-table reading.
    */
  def heapsLawCurve(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = docs.select(col("doc_id"))
      .withColumn("__rk", row_number().over(Window.orderBy(col("doc_id"))).cast("long"))
    val firstSeen = docs.select(col("doc_id"),
        explode(tokens(asciiLower(col("text")))).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("doc_id"))
      .join(ranked, Seq("doc_id"))
      .groupBy(col("__rk")).agg(count(lit(1)).as("__new"))
    // empty corpus: max(__rk) is a single NULL row — return the empty
    // curve instead of NPE-ing on head(), like the sibling operators
    val n = ranked.agg(max(col("__rk"))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_ => r.getLong(0)))
      .getOrElse(0L)
    if (n == 0L)
      return spark.emptyDataFrame
        .select(lit(0L).as("checkpoint"), lit(0L).as("vocab"),
          lit(0L).as("beta_milli"))
    val cps = Iterator.iterate(1L)(_ * 2).takeWhile(_ < n).toSeq :+ n
    val grid = broadcast(cps.toDF("checkpoint"))
    val curve = firstSeen.join(grid, col("__rk") <= col("checkpoint"))
      .groupBy(col("checkpoint")).agg(sum(col("__new")).as("vocab"))
    // log-log OLS over the ≤ log₂(n)+1 checkpoints: integer micro
    // log-ticks (round-half-away, the lnMicros discipline), exact sums
    val pts = curve.select(col("checkpoint"), col("vocab"),
      round(log(col("checkpoint").cast("double")) * 1e6).cast("long").as("__x"),
      round(log(col("vocab").cast("double")) * 1e6).cast("long").as("__y"))
    val beta = pts.agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("__sxy"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"))
      .select(expr("""CAST(CASE WHEN __n * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx = 0
                       THEN 0 ELSE ((__n * __sxy - CAST(__sx AS DECIMAL(38,0)) * __sy) * 1000)
                            DIV (__n * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx)
                       END AS BIGINT)""").as("beta_milli"))
    pts.select(col("checkpoint"), col("vocab")).crossJoin(broadcast(beta))
      .orderBy(col("checkpoint"))
  }
}
