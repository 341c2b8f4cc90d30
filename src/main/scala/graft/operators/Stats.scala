package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution statistics over bounded-cardinality measures.
  *
  * The scale story: a global `ntile(k)` needs one total order over the
  * corpus — a single-partition sort of every row, the same trap
  * [[TextAnalysis.packDocs]] documents. But calibration measures
  * (quality scores rounded to 4dp, integer token counts, deciles of any
  * discretized signal) have BOUNDED value cardinality, so exact order
  * statistics reduce to counting: aggregate per distinct value (one
  * hash agg), cumulate over the value dimension (a window bounded by
  * the cardinality, not the corpus), pick cuts, and assign buckets with
  * a plan-time literal array — the assignment pass is a pure column
  * expression with ZERO shuffles.
  *
  * Bucket semantics are value-deterministic: cut_j = smallest v whose
  * cumulative count reaches ceil(j·n/k) (integer ceil — no float
  * targets), bucket(v) = 1 + #{cuts < v}. Equal values ALWAYS share a
  * bucket (unlike ntile, which splits ties by row order — not
  * reproducible across partitionings); heavy ties may leave buckets
  * empty, which is the honest answer for a discrete distribution.
  */
object Stats {

  /** Adds `bucketCol` (1..k) to `df` by exact k-quantile cuts of
    * `valueCol`. Fully IN-PLAN — no driver collect, ONE action:
    *
    *   counts grid (one hash agg, bounded by the measure's cardinality)
    *   → `orderBy().limit(cap+1)` (TakeOrderedAndProject: a per-partition
    *     top-(cap+1) heap, so an UNBOUNDED measure still reaches the
    *     cardinality gate in O(n log cap) without a corpus-wide sort)
    *   → cumulative + total sums over the ≤ cap+1 grid CELLS (a
    *     single-partition window, bounded by `maxDistinct`, never by the
    *     corpus — the counting-dim discipline)
    *   → one global agg row carrying the (k−1)-element cut array
    *     (cut_j = smallest v with k·cum ≥ j·n, the integer-ceil target)
    *   → broadcast cross join + pure column assignment
    *     (bucket = 1 + #{cuts < v}; heavy ties can duplicate a cut value
    *     across j's, which skips a bucket — value-identical to the
    *     former driver-side arithmetic).
    *
    * The `maxDistinct` gate raises IN-PLAN (`raise_error` when the capped
    * grid exceeds the bound) at the first ACTION rather than at operator
    * construction — same failure, action-time surfacing.
    *
    * `df` still feeds two subtrees (the grid and the assignment pass) —
    * within one action now, but scans are not reused across subtrees, so
    * for an expensive input projection (a quality score tokenizing every
    * document) set `pinInput = true` to materialize it once via
    * [[Pins.pin]] and serve both subtrees from the pinned blocks (the
    * measured fix for the double quality scan in q191/q77; the in-plan
    * cuts additionally removed those entries' separate grid-collect job).
    */
  def quantileBuckets(df0: DataFrame, valueCol: String, k: Int,
                      bucketCol: String = "bucket",
                      maxDistinct: Int = 100000,
                      pinInput: Boolean = false): DataFrame = {
    require(k >= 2, "need at least two buckets")
    val df = if (pinInput) Pins.pin(df0) else df0
    // a NULL measure has no place on a quantile axis: excluded from the
    // grid AND the n denominator (the tickQuantiles/winsorizedMeans
    // convention — and the engine-portability fix: Spark cumulates an
    // included null group FIRST while DuckDB windows order it LAST, so
    // one null row used to shift every cut target by one). Null rows
    // still get `bucketCol` = 1 below: cuts < NULL is null, the filter
    // drops every cut, size() = 0.
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val grid = counts.orderBy("__v").limit(maxDistinct + 1)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cum = grid.select(col("__v"),
      sum(col("__c")).over(wCum).as("__cum"),
      sum(col("__c")).over(wAll).as("__n"))
    // cut_j = min v with cum ≥ ceil(j·n/k) ⟺ k·cum ≥ j·n (integer cum);
    // cum is nondecreasing in v so min() picks the first qualifying cell
    val cutsRow = cum.groupBy().agg(
      count(lit(1)).as("__g"),
      array((1 until k).map(j =>
        min(when(col("__cum") * k >= col("__n") * j, col("__v")))): _*)
        .as("__cuts"))
    val gateMsg = s"$valueCol has more than $maxDistinct distinct values: " +
      "quantile bucketing by counting needs a bounded measure — " +
      "round/discretize the column first (see quantileBucketsTicked)"
    // the cut array rides on the caller's rows, so its name must not
    // collide (case-insensitively, as Spark resolves) with any of theirs
    val cutsCol = Iterator.iterate("__cuts")(_ + "_")
      .find(n => !df.columns.exists(_.equalsIgnoreCase(n))).get
    val gated = cutsRow.select(
      when(col("__g") <= maxDistinct, col("__cuts"))
        .otherwise(raise_error(lit(gateMsg))).as(cutsCol))
    df.crossJoin(broadcast(gated))
      .withColumn(bucketCol,
        (lit(1) + size(filter(col(cutsCol), c => c < col(valueCol)))).cast("int"))
      .drop(cutsCol)
  }

  /** The unbounded-measure path: discretize `valueCol` onto a fixed
    * `tick` grid first (grid index = floor(v / tick), a long), then
    * bucket the grid index with [[quantileBuckets]]. Values within one
    * tick share a bucket BY CONSTRUCTION — the declared resolution trade
    * that makes quantile calibration well-defined at any corpus size:
    * the value dimension is bounded by range/tick, not by the corpus, so
    * a per-doc mean like LM surprisal (whose distinct count grows with
    * the corpus) stops being a cardinality-gate hazard. Cut positions
    * move by at most one tick relative to the exact path; pick `tick`
    * at the measure's decision resolution (e.g. 1e-3 nats for
    * curriculum pacing) and the buckets are exact for every value pair
    * further than one tick apart.
    */
  def quantileBucketsTicked(df: DataFrame, valueCol: String, k: Int,
                            tick: Double,
                            bucketCol: String = "bucket",
                            maxDistinct: Int = 100000,
                            pinInput: Boolean = false): DataFrame = {
    require(tick > 0, "tick must be positive")
    val g = s"__grid_$valueCol"
    quantileBuckets(df.withColumn(g, floor(col(valueCol) / tick)),
      g, k, bucketCol, maxDistinct, pinInput).drop(g)
  }

  /** Trailing-`windowDays`-day distinct-id count per active day — the
    * "rolling 7-day active users" engagement measure.
    *
    * `count(distinct)` over a sliding RANGE window is the trap here:
    * Spark (correctly) refuses it, and the workarounds — a
    * `collect_set` window or a self-join on `BETWEEN` — materialize
    * per-day id sets or plan a per-key range filter, both of which die
    * when days hold millions of ids. This stays linear instead: dedupe
    * to (day, id) once, replicate each pair to the `windowDays` window
    * ends it contributes to (a bounded plan-time constant ×W map-side
    * expansion, no join), and count distinct ids per window end — two
    * hash aggregates, no window function, no range join, no per-day set
    * in memory. 100 TB posture: shuffles carry (day, id) pairs only,
    * and W is a literal, so cost is W × |distinct (day,id)| regardless
    * of row count or skew in events-per-user.
    *
    * Emits one row per day PRESENT in `df` (`day` date, `outCol`
    * long) — a day with no activity has no trailing-window row, which
    * is the honest answer for an activity measure; densify against a
    * calendar dimension downstream if gap rows are wanted.
    */
  def rollingDistinctCount(df: DataFrame, tsCol: String, idCol: String,
                           windowDays: Int = 7,
                           outCol: String = "active_ids"): DataFrame = {
    require(windowDays >= 1, "window must span at least one day")
    val active = df.select(to_date(col(tsCol)).as("__day"), col(idCol).as("__id"))
      .where(col("__day").isNotNull && col("__id").isNotNull)
      .distinct()
    val counts = active
      .withColumn("__i", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(date_add(col("__day"), col("__i")).as("__wend"), col("__id"))
      .groupBy("__wend")
      .agg(countDistinct(col("__id")).as(outCol))
    // restrict to observed days: the day dim is bounded by the calendar,
    // so the join broadcasts
    active.select(col("__day")).distinct()
      .join(counts, col("__day") === col("__wend"))
      .select(col("__day").as("day"), col(outCol))
  }

  /** Per-key value percentiles on a counting grid — the ops-report
    * quantiles (p50/p90/p99 of latency, order value, payload size…)
    * without a per-key sort: values floor onto a fixed `tick` grid, the
    * quantile window runs over the (key × grid) CELLS — bounded by
    * range/tick per key at any row count — and the picks are exact
    * type-1 (lower) quantiles of the ticked values, integer comparisons
    * throughout (the [[TextAnalysis.sourceQualityQuantiles]] recipe on
    * an unbounded measure).
    * Output: key (named after `keyCol`), n_rows, p50, p90, p99 (tick
    * grid values).
    */
  def tickQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                    tick: Double = 0.01): DataFrame = {
    require(tick > 0, "tick must be positive")
    val cells = df
      // NaN is junk, not a quantile observation — excluded on both
      // sides (the oracle filters NOT isnan(value))
      .where(!isnan(col(valueCol).cast("double")))
      .select(col(keyCol), floor(col(valueCol) / tick).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col(keyCol), col("__v")).agg(count(lit(1)).as("__c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    def pick(p: Int): Column =
      (min(when(col("__cum") * 100 >= col("__n") * p, col("__v")))
        .cast("double") * tick).as(s"p$p")
    cells.withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wKey))
      .groupBy(col(keyCol))
      .agg(max(col("__n")).as("n_rows"), pick(50), pick(90), pick(99))
  }

  /** Daily-volume anomaly flags per key — the 3σ monitoring rule over
    * the (key × day) count grid: a day is anomalous when its count
    * exceeds the key's mean daily count by `sigmas` standard
    * deviations. Count sums are exact integers (square sums in
    * DECIMAL(38,0) — no overflow at any volume, the
    * [[graft.operators.Similarity.embeddingMoments]] discipline), the
    * mean/σ relation is evaluated with one fixed expression shape so
    * the flag is engine-portable, and the stats dim (keys) broadcasts
    * back onto the bounded (key × day) grid.
    * Output: key, day, n_events, mean_daily (4dp), anomaly.
    */
  def dailyAnomalies(df: DataFrame, keyCol: String, tsCol: String,
                     sigmas: Double = 3.0): DataFrame = {
    val daily = df
      .select(col(keyCol), to_date(col(tsCol).cast("timestamp")).as("day"))
      // the explicit key null-filter mirrors what the former inner
      // equi-join on keyCol did silently (null keys never matched) — the
      // window rewrite below would otherwise KEEP the null-key partition
      // (caught by the adversarial-layout sweep: +19 rows)
      .where(col("day").isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol), col("day")).agg(count(lit(1)).as("n_events"))
    // per-key stats as whole-partition window sums over the grid (see
    // rollingDailyMean): the groupBy(key) + broadcast rejoin re-derived
    // the daily subtree — here a union + burst explode — from a second
    // full scan; the window costs one bounded-grid exchange instead
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val stats = daily
      .withColumn("__d", count(lit(1)).over(wKey))
      .withColumn("__s", sum(col("n_events")).over(wKey))
      .withColumn("__q",
        sum((col("n_events") * col("n_events")).cast("decimal(38,0)")).over(wKey))
      .withColumn("__mean", col("__s").cast("double") / col("__d"))
      .withColumn("__sd", sqrt(greatest(lit(0.0),
        col("__q").cast("double") / col("__d") -
          (col("__s").cast("double") / col("__d")) *
            (col("__s").cast("double") / col("__d")))))
    stats
      .select(col(keyCol), col("day"), col("n_events"),
        // __mean is a COUNT ratio (Σ events / days): displayed tick-exact
        // (the q31 discipline) while the anomaly band keeps the full-
        // precision mean
        (call_function("div",
          lit(2L) * col("__s") * lit(10000L) + col("__d"),
          lit(2L) * col("__d")).cast("double") / 1e4).as("mean_daily"),
        (col("n_events").cast("double") >
          col("__mean") + lit(sigmas) * col("__sd")).as("anomaly"))
  }

  /** Per-key winsorized means: values clamped at the GLOBAL
    * [loPct, hiPct] type-1 quantile cuts before averaging — the robust
    * mean that tells a curation run whether a source's length average
    * is outlier-driven. Cut extraction follows the [[quantileBuckets]]
    * scale discipline exactly: per-distinct-value counting agg, a
    * TakeOrdered cap (per-partition heap + bounded driver merge — no
    * corpus-wide sort, loud raise on an unbounded measure), driver
    * cumsum over ≤ `maxDistinct` rows, cuts re-enter the plan as
    * literals. The clamp + per-key re-aggregate is then ONE hash agg
    * with exact integer sums — identical in any fold order. Means are
    * 4dp HALF_UP ticks (floor(x·10⁴ + 0.5)/10⁴), engine-portable.
    * Output: key (named `keyCol`), n_rows, cut_lo, cut_hi, mean_raw,
    * mean_winsor.
    */
  def winsorizedMeans(df: DataFrame, keyCol: String, valueCol: String,
                      loPct: Int = 5, hiPct: Int = 95,
                      maxDistinct: Int = 100000): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      "need 0 <= loPct < hiPct <= 100")
    val rows = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
    val capped = rows.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .orderBy("__v").limit(maxDistinct + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(capped.length <= maxDistinct,
      s"$valueCol has more than $maxDistinct distinct values: " +
        "winsorizing by counting needs a bounded measure — " +
        "round/discretize the column first (see quantileBucketsTicked)")
    var running = 0L
    val cum = capped.map { case (v, c) => running += c; (v, running) }
    val n = running
    def cut(p: Int): Long = {
      val target = (p * n + 99) / 100 // integer ceil(p*n/100)
      cum.find(_._2 >= target).map(_._1).getOrElse(
        if (cum.isEmpty) 0L else cum.last._1)
    }
    val (lo, hi) = (cut(loPct), cut(hiPct))
    def mean4dp(sumCol: Column, nCol: Column): Column =
      floor(sumCol.cast("double") * 10000.0 / nCol + 0.5).cast("long") / 10000.0
    rows
      .select(col("__k"), col("__v"),
        greatest(lit(lo), least(lit(hi), col("__v"))).as("__w"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("__sv"),
        sum(col("__w")).as("__sw"))
      .select(col("__k").as(keyCol), col("n_rows"),
        lit(lo).as("cut_lo"), lit(hi).as("cut_hi"),
        mean4dp(col("__sv"), col("n_rows")).as("mean_raw"),
        mean4dp(col("__sw"), col("n_rows")).as("mean_winsor"))
  }

  /** Per-key MAD outlier audit: median, median-absolute-deviation, and
    * the count of values beyond `k`·MAD of the median — the robust
    * outlier rule that a 3σ gate gets wrong the moment the tail itself
    * inflates σ (one 100× doc widens stddev enough to hide its own
    * siblings; the median and MAD don't move). Entirely on the
    * [[tickQuantiles]] counting-grid shape: two per-key (key × value)
    * grids (values, then absolute deviations — each window runs over
    * CELLS, bounded by value cardinality per key, never rows), the
    * per-key medians broadcast back (keys are a dim), and the flag pass
    * is one more hash agg with integer comparisons throughout. Type-1
    * lower medians — engine-portable, no float interpolation.
    * Output: key (named `keyCol`), n_rows, median, mad, n_outliers.
    */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
                  k: Int = 3): DataFrame = {
    require(k >= 1, "k must be positive")
    val rows = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
    def grid(values: DataFrame, vCol: String): DataFrame = {
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__k")).orderBy(col(vCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      values.groupBy(col("__k"), col(vCol)).agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(wCum))
        .withColumn("__n", sum(col("__c")).over(wKey))
        .groupBy(col("__k"))
        .agg(max(col("__n")).as("n_rows"),
          min(when(col("__cum") * 100 >= col("__n") * 50, col(vCol)))
            .as(s"med_$vCol"))
    }
    val meds = grid(rows, "__v")
      .select(col("__k"), col("n_rows"), col("med___v").as("median"))
    val devs = rows.join(broadcast(meds), Seq("__k"))
      .select(col("__k"), abs(col("__v") - col("median")).as("__d"))
    val mads = grid(devs, "__d")
      .select(col("__k"), col("med___d").as("mad"))
    rows.join(broadcast(meds), Seq("__k")).join(broadcast(mads), Seq("__k"))
      .groupBy(col("__k"))
      .agg(max(col("n_rows")).as("n_rows"), max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        sum((abs(col("__v") - col("median")) > col("mad") * k).cast("long"))
          .as("n_outliers"))
      .select(col("__k").as(keyCol), col("n_rows"), col("median"), col("mad"),
        col("n_outliers"))
  }

  /** Per-key relative rank: each row's strictly-below share (bp, floor)
    * of `valueCol` WITHIN its key — the domain-fair normalization that
    * lets one threshold gate every source at the same percentile instead
    * of letting a verbose source dominate an absolute cut. One (key ×
    * value) counting grid (cumulations over cells), joined back to the
    * rows on the composite (key, value) — a uniform shuffle key; ties
    * share a rank by construction (cum-below excludes the tie group).
    * Adds `rankCol` (0..9999) to `df`.
    */
  def relativeRank(df: DataFrame, keyCol: String, valueCol: String,
                   rankCol: String = "pct_bp"): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    val grid = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__k"), col("__v")).agg(count(lit(1)).as("__c"))
      .withColumn("__cle", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wKey))
      .select(col("__k"), col("__v"),
        expr("((__cle - __c) * 10000) DIV __n").as(rankCol))
    df.join(grid,
      col(keyCol) === col("__k") && col(valueCol).cast("long") === col("__v"))
      .drop("__k", "__v")
  }

  /** Per-key daily-volume OLS trend: the slope of daily counts over the
    * key's own day index (day 0 = the key's first active day) — the
    * "is this source growing or decaying" monitor next to
    * [[dailyAnomalies]]' spike flags. Integer-exact sums (decimal(38,0)
    * cross/square sums — the [[TextAnalysis.lengthQualityCorrelation]]
    * discipline), one (key × day) grid, the per-key day origin
    * broadcast back; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) rounded 4dp,
    * 0.0 for a single-day key (zero denominator, guarded).
    * Output: key (named `keyCol`), n_days, n_events, slope.
    */
  def dailyTrend(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("__k"),
        to_date(col(tsCol).cast("timestamp")).as("__d"))
      // key null-filter mirrors the former inner-join-on-key semantics
      // (see dailyAnomalies)
      .where(col("__d").isNotNull && col("__k").isNotNull)
      .groupBy(col("__k"), col("__d")).agg(count(lit(1)).as("__y"))
    // origin as a whole-partition window min over the grid (see
    // rollingDailyMean): the groupBy(k).agg(min) + broadcast rejoin
    // re-derived the daily subtree from a second full scan, and the
    // window's key partitioning is the final aggregate's anyway
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    val pts = daily
      .withColumn("__d0", min(col("__d")).over(wKey))
      .select(col("__k"), datediff(col("__d"), col("__d0")).cast("long").as("__x"),
        col("__y"))
    val denom = col("n_days") * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    pts.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_days"), sum(col("__y")).as("n_events"),
        sum(col("__x")).as("__sx"),
        sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"))
      .select(col("__k").as(keyCol), col("n_days"), col("n_events"),
        when(denom <= 0, lit(0.0)).otherwise(round(
          (col("n_days") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("n_events").cast("double")) / denom,
          4)).as("slope"))
  }

  /** Per-key skewness and excess kurtosis — the shape moments a
    * distribution-drift monitor reads beyond mean/σ (a new crawl source
    * whose length mean matches but whose tail flipped shows up here
    * first). Exact integer power sums (v⁴ still fits a long for any
    * realistic bounded measure; the sums fold in decimal(38,0) — the
    * [[dailyAnomalies]] overflow discipline), one hash agg; the
    * standardized moments evaluate in one fixed double expression shape
    * per output so any engine replays the same float ops. σ²
    * floor-guarded at 1e-12; 4dp.
    * Output: key (named `keyCol`), n_rows, mean, skewness, kurtosis
    * (excess).
    */
  def higherMoments(df: DataFrame, keyCol: String,
                    valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val sums = df
      .select(col(keyCol).as("__k"), v.as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("__s1"),
        sum((col("__v") * col("__v")).cast("decimal(38,0)")).as("__s2"),
        sum((col("__v") * col("__v") * col("__v")).cast("decimal(38,0)"))
          .as("__s3"),
        sum((col("__v") * col("__v") * col("__v") * col("__v"))
          .cast("decimal(38,0)")).as("__s4"))
    val m = col("__s1").cast("double") / col("n_rows")
    val m2 = col("__s2").cast("double") / col("n_rows")
    val m3 = col("__s3").cast("double") / col("n_rows")
    val m4 = col("__s4").cast("double") / col("n_rows")
    val varP = greatest(lit(1e-12), m2 - m * m)
    // float round(·, 4) justified: multi-op double expressions (powers,
    // products, a pow 1.5) evaluated in ONE fixed shape from exact
    // integer sums — both engines derive the identical IEEE double, and
    // unlike a bare count ratio the composed value has no decimal
    // half-tie density (the tick discipline is for single n/d rationals)
    sums.select(col("__k").as(keyCol), col("n_rows"),
      round(m, 4).as("mean"),
      round((m3 - lit(3.0) * m * m2 + lit(2.0) * m * m * m) /
        pow(varP, 1.5), 4).as("skewness"),
      round((m4 - lit(4.0) * m * m3 + lit(6.0) * m * m * m2 -
        lit(3.0) * m * m * m * m) / (varP * varP) - lit(3.0), 4)
        .as("kurtosis"))
  }

  /** Per-key WEIGHTED type-1 quantiles: the value at which each `p`% of
    * the total WEIGHT mass is reached — "half your tokens live in docs
    * shorter than p50", the curation metric a truncation or packing
    * policy actually needs (unweighted length percentiles over-count
    * short docs). Same counting-grid discipline as [[tickQuantiles]]
    * with weight sums in place of row counts; windows run over cells.
    * Output: key (named `keyCol`), total_weight, p50, p90, p99 (value
    * grid points).
    */
  def weightedQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                        weightCol: String): DataFrame = {
    val cells = df
      .select(col(keyCol).as("__k"), col(valueCol).cast("long").as("__v"),
        col(weightCol).cast("long").as("__w"))
      .where(col("__v").isNotNull && col("__w").isNotNull)
      .groupBy(col("__k"), col("__v")).agg(sum(col("__w")).as("__c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    def pick(p: Int): Column =
      min(when(col("__cum") * 100 >= col("__n") * p, col("__v")))
        .cast("double").as(s"p$p")
    cells.withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wKey))
      .groupBy(col("__k"))
      .agg(max(col("__n")).as("total_weight"), pick(50), pick(90), pick(99))
      .select(col("__k").as(keyCol), col("total_weight"),
        col("p50"), col("p90"), col("p99"))
  }

  /** χ² independence statistic for two categorical columns — "is lang
    * independent of source" as one number, the drift detector behind a
    * composition dashboard. Observed cells come from one hash agg; the
    * full (rows × cols) expected grid is rebuilt from the BOUNDED
    * marginal dims (cross join of two broadcast dims — zero cells
    * included, which a naive obs-only Σ silently skips); the statistic
    * evaluates in one fixed double expression shape, 4dp.
    * Output (one row): chi2, n_cells, dof.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__n"))
    val rows = obs.groupBy(col("__a")).agg(sum(col("__n")).as("__rt"))
    val cols = obs.groupBy(col("__b")).agg(sum(col("__n")).as("__ct"))
    val tot = obs.agg(sum(col("__n")).as("__tot"))
    val cells = broadcast(rows).crossJoin(broadcast(cols))
      .crossJoin(broadcast(tot))
      .join(obs, Seq("__a", "__b"), "left")
      .select(col("__a"), col("__b"), col("__rt"), col("__ct"), col("__tot"),
        coalesce(col("__n"), lit(0L)).as("__n"))
    val dev = col("__n").cast("double") * col("__tot") -
      col("__rt").cast("double") * col("__ct")
    cells
      .select(col("__a"), col("__b"),
        (dev * dev /
          (col("__tot").cast("double") * col("__rt") * col("__ct")))
          .as("__term"))
      // float round justified: a Σ of continuous double terms has no
      // decimal half-tie density (the tick discipline is for single
      // count rationals), and the 4dp round absorbs fold-order ulps of
      // the bounded-grid sum
      .agg(round(sum(col("__term")), 4).as("chi2"),
        count(lit(1)).as("n_cells"),
        ((countDistinct(col("__a")) - 1) * (countDistinct(col("__b")) - 1))
          .as("dof"))
  }

  /** Lag-1 autocorrelation of daily counts per key — the "is yesterday
    * predictive of today" seasonality/momentum signal next to
    * [[dailyTrend]]'s slope. One (key × day) grid, one keyed lag, exact
    * integer cross-sums (the [[dailyTrend]] discipline), Pearson r on
    * the (today, yesterday) pairs in one fixed double shape, 4dp; keys
    * with < 2 days emit no row (no pair to correlate — honest).
    * Output: key (named `keyCol`), n_pairs, r1.
    */
  def dailyAutocorr(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("__k"),
        to_date(col(tsCol).cast("timestamp")).as("__d"))
      .where(col("__d").isNotNull)
      .groupBy(col("__k"), col("__d")).agg(count(lit(1)).as("__y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__d"))
    val pairs = daily.withColumn("__p", lag(col("__y"), 1).over(w))
      .where(col("__p").isNotNull)
    val denom = sqrt(greatest(lit(1e-12),
      (col("n_pairs") * col("__syy").cast("double") -
        col("__sy").cast("double") * col("__sy").cast("double")) *
        (col("n_pairs") * col("__spp").cast("double") -
          col("__sp").cast("double") * col("__sp").cast("double"))))
    pairs.groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__y")).as("__sy"), sum(col("__p")).as("__sp"),
        sum((col("__y") * col("__p")).cast("decimal(38,0)")).as("__syp"),
        sum((col("__y") * col("__y")).cast("decimal(38,0)")).as("__syy"),
        sum((col("__p") * col("__p")).cast("decimal(38,0)")).as("__spp"))
      .select(col("__k").as(keyCol), col("n_pairs"),
        round((col("n_pairs") * col("__syp").cast("double") -
          col("__sy").cast("double") * col("__sp").cast("double")) / denom, 4)
          .as("r1"))
  }

  /** Trailing `windowDays`-day mean of daily counts per key — the
    * smoothing layer under [[dailyAnomalies]]' spike flags and
    * [[dailyTrend]]'s slope. The (key × day) grid carries a per-key day
    * index, the trailing sum is a RANGE window over that index (missing
    * days weigh zero by construction — range, not rows), and the mean
    * divides by the CALENDAR window width min(idx+1, windowDays), 4dp
    * HALF_UP ticks. Windows run over grid cells, never events.
    * Output: key (named `keyCol`), day, n_events, trail_sum, trail_mean.
    */
  def rollingDailyMean(df: DataFrame, keyCol: String, tsCol: String,
                       windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val daily = df
      .select(col(keyCol).as("__k"),
        to_date(col(tsCol).cast("timestamp")).as("__d"))
      // key null-filter mirrors the former inner-join-on-key semantics
      // (see dailyAnomalies)
      .where(col("__d").isNotNull && col("__k").isNotNull)
      .groupBy(col("__k"), col("__d")).agg(count(lit(1)).as("n_events"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__idx"))
      .rangeBetween(-(windowDays - 1), 0)
    // per-key origin as a whole-partition window min over the (key × day)
    // GRID — a separate groupBy(key).agg(min) aggregates (k,d)→k, whose
    // exchange cannot reuse the grid's (k,d) exchange, so Spark re-derived
    // the daily subtree from a SECOND full scan and broadcast it back
    // (r13 plan audit: 2 scans → 1; the min window shares the trailing-sum
    // window's key partitioning, so it adds no exchange)
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    daily
      .withColumn("__d0", min(col("__d")).over(wKey))
      .withColumn("__idx", datediff(col("__d"), col("__d0")).cast("long"))
      .withColumn("trail_sum", sum(col("n_events")).over(wR))
      .withColumn("__den", least(col("__idx") + 1, lit(windowDays.toLong)))
      .select(col("__k").as(keyCol), col("__d").as("day"), col("n_events"),
        col("trail_sum"),
        (floor(col("trail_sum") * 10000.0 / col("__den") + 0.5).cast("long")
          / 10000.0).as("trail_mean"))
  }

  /** Per-key Gini coefficient of the per-unit activity distribution —
    * the one-number inequality summary next to
    * [[graft.operators.Engagement.topDecileConcentration]] ("do 1% of
    * users generate 99% of `purchase` events?").
    *
    * Exactly integral, never a per-unit sort: units collapse to their
    * activity count (one hash agg), counts collapse to a (key ×
    * count) GRID with multiplicities (a second, far smaller agg), and
    * the rank-weighted sum the Gini needs — Σ i·x(i) over the
    * ascending sort — comes from the grid identity Σ ranks of a cell
    * = m·(2·cum0 + m + 1)/2, cumulated with a window over grid CELLS
    * (bounded by distinct activity values, not units). The final
    * quotient runs in decimal(38,0) so n·T cannot overflow int64 at
    * corpus scale; the numerator 2S − (n+1)T is ≥ 0 by construction
    * (ascending ranks), so integral division is floor on both engines.
    * Output: key, n_units, n_events, gini_bp ∈ [0, 10000).
    */
  def giniByKey(df: DataFrame, keyCol: String, unitCol: String): DataFrame = {
    val counts = df.select(col(keyCol).as("__k"), col(unitCol).as("__u"))
      .where(col("__k").isNotNull && col("__u").isNotNull)
      .groupBy(col("__k"), col("__u")).agg(count(lit(1)).as("__c"))
    val grid = counts.groupBy(col("__k"), col("__c"))
      .agg(count(lit(1)).as("__m"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    grid
      .withColumn("__cum0", coalesce(sum(col("__m")).over(wCum), lit(0L)))
      .withColumn("__s2", expr("__c * __m * (2 * __cum0 + __m + 1)"))
      .groupBy(col("__k"))
      .agg(sum(col("__m")).as("n_units"),
        sum(expr("__c * __m")).as("n_events"),
        sum(col("__s2")).as("__twoS"))
      .select(col("__k").as(keyCol), col("n_units"), col("n_events"),
        expr("""CAST(((CAST(__twoS AS DECIMAL(38,0))
                 - CAST(n_units + 1 AS DECIMAL(38,0)) * n_events) * 10000)
                DIV (CAST(n_units AS DECIMAL(38,0)) * n_events) AS BIGINT)""")
          .as("gini_bp"))
  }

  /** 2-D Pareto frontier (skyline): the rows no other row beats on BOTH
    * axes — maximize `maxCol`, minimize `minCol`, a row is dominated iff
    * some other row is ≥ on the max axis and ≤ on the min axis with at
    * least one strict. The curation use: "best quality achievable at
    * every length budget" over (quality ↑, n_tokens ↓).
    *
    * Never the O(n²) dominance join: rows collapse to the distinct
    * (max, min) CELL grid first (one hash agg — for 4dp-rounded scores
    * the max axis has ≤ 10⁴+1 values at ANY corpus size, the counting-dim
    * discipline), each max-value keeps only its min-axis minimum, and
    * dominance reduces to one running min over the max axis DESCENDING:
    * a surviving cell is on the frontier iff its min-axis value is
    * strictly below every strictly-better max-value's minimum. The
    * window runs over ≤ |distinct max values| rows, never the corpus.
    * Exact-tie cells (identical on both axes) are mutually undominated
    * and stay, reported with their multiplicity.
    * Output: maxCol, minCol, n_rows — frontier cells, best-first.
    */
  def paretoFrontier(df: DataFrame, maxCol: String, minCol: String,
                     nCol: String = "n_rows"): DataFrame = {
    val cells = df.select(col(maxCol).as("__q"), col(minCol).as("__t"))
      .where(col("__q").isNotNull && col("__t").isNotNull)
      .groupBy(col("__q"), col("__t")).agg(count(lit(1)).as("__n"))
    val wQ = org.apache.spark.sql.expressions.Window.partitionBy(col("__q"))
    val wRun = org.apache.spark.sql.expressions.Window
      .orderBy(col("__q").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    cells
      .withColumn("__mt", min(col("__t")).over(wQ))
      .where(col("__t") === col("__mt"))
      .withColumn("__rm", min(col("__t")).over(wRun))
      .where(col("__rm").isNull || col("__t") < col("__rm"))
      .select(col("__q").as(maxCol), col("__t").as(minCol),
        col("__n").as(nCol))
  }

  /** Daily trending items: each day's top-`k` items by count next to
    * their FULL rank the previous day — the "movers" table behind every
    * trending feed (new entries, climbers, fallers). prev_rank joins
    * against the previous day's COMPLETE ranking, not its top-k, so an
    * item storming in from rank 40 reads 40, and a genuinely absent
    * item reads 0 with delta 0 (the sentinel is part of the contract —
    * NULL would be lost in the parquet/oracle compare).
    *
    * Ranking windows partition BY DAY (each day's item grid is bounded
    * by the item domain), the day-over-day lookup is one equi-join on
    * (item, day−1) — no global order anywhere.
    * Output: d, item, n, rank, prev_rank, delta (prev − rank).
    */
  def trendingDaily(df: DataFrame, tsCol: String, itemCol: String,
                    k: Int = 8): DataFrame = {
    val daily = df
      .where(col(tsCol).isNotNull && col(itemCol).isNotNull)
      .select(to_date(col(tsCol).cast("timestamp")).as("d"),
        col(itemCol).as("item"))
      .groupBy(col("d"), col("item")).agg(count(lit(1)).as("n"))
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d")).orderBy(col("n").desc, col("item").asc)
    val ranked = daily.withColumn("rank", row_number().over(wDay).cast("long"))
    val prev = ranked.select(date_add(col("d"), 1).as("d"), col("item"),
      col("rank").as("prev_rank"))
    ranked.where(col("rank") <= k)
      .join(prev, Seq("d", "item"), "left")
      .withColumn("prev_rank", coalesce(col("prev_rank"), lit(0L)))
      .withColumn("delta",
        when(col("prev_rank") === 0L, lit(0L))
          .otherwise(col("prev_rank") - col("rank")))
      .select(col("d"), col("item"), col("n"), col("rank"),
        col("prev_rank"), col("delta"))
      .orderBy(col("d"), col("rank"))
  }

  /** Day-of-week seasonality index per key: how much busier each
    * weekday is than the key's uniform expectation, normalized for
    * uneven weekday coverage in the corpus span (a corpus spanning
    * Mon–Wed has more Mondays than Sundays — raw shares would read
    * that as seasonality). index_bp = (n·days_total·10⁴) DIV
    * (total·days_dow), where days_dow counts the DISTINCT active days
    * of that weekday; 10000 = exactly at expectation. Products fold in
    * decimal(38,0) so n·days·10⁴ cannot overflow at corpus scale; the
    * per-key totals come from a window over the ≤ 7-row dow grid.
    * Weekday numbering pinned Monday=0 (Spark `weekday`, DuckDB
    * `isodow − 1` — the only convention both engines express exactly).
    * Output: key, dow, n, n_days, share_bp, index_bp.
    */
  def dowSeasonality(df: DataFrame, tsCol: String = "ts",
                     keyCol: String = "event_type"): DataFrame = {
    val grid = df
      .where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).as("key"),
        to_date(col(tsCol).cast("timestamp")).as("__d"),
        weekday(col(tsCol).cast("timestamp")).cast("long").as("dow"))
      .groupBy(col("key"), col("dow"))
      .agg(count(lit(1)).as("n"), countDistinct(col("__d")).as("n_days"))
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    grid
      .withColumn("__total", sum(col("n")).over(wKey))
      .withColumn("__days_total", sum(col("n_days")).over(wKey))
      .select(col("key"), col("dow"), col("n"), col("n_days"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * 10000 DIV __total AS BIGINT)")
          .as("share_bp"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * __days_total * 10000" +
          " DIV (CAST(__total AS DECIMAL(38,0)) * n_days) AS BIGINT)")
          .as("index_bp"))
      .orderBy(col("key"), col("dow"))
  }

  /** CUSUM changepoint on the daily volume series per key: the day
    * where the cumulative deviation from the key's mean daily count
    * peaks — the standard level-shift locator (a ramp reads near the
    * middle, a step reads at the step). Kept integer-exact by scaling:
    * cusum_d = Σ_{k≤d}(c_k·n_days − total) (each term is the deviation
    * ×n_days, so no fractional mean ever exists). The series is the
    * key's OBSERVED days (zero-event days contribute nothing to either
    * side of the deviation — declared; densify upstream for gap-aware
    * monitoring). The cumsum window runs per key over the bounded
    * day dimension (corpus span), the [[trendingDaily]] posture.
    * Ties break to the EARLIEST day. Output: key, n_days, total,
    * cp_day, cp_cusum (signed, ×n_days scale).
    */
  def cusumChangepoint(df: DataFrame, tsCol: String = "ts",
                       keyCol: String = "event_type"): DataFrame = {
    val daily = df
      .where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(col(keyCol).as("key"),
        to_date(col(tsCol).cast("timestamp")).as("d"))
      .groupBy(col("key"), col("d")).agg(count(lit(1)).as("__c"))
    val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(abs(col("__cusum")).desc, col("d").asc)
    daily
      .withColumn("n_days", count(lit(1)).over(wKey))
      .withColumn("total", sum(col("__c")).over(wKey))
      .withColumn("__cusum",
        sum(col("__c") * col("n_days") - col("total")).over(wCum))
      .withColumn("__rn", row_number().over(wPick))
      .where(col("__rn") === 1)
      .select(col("key"), col("n_days"), col("total"),
        col("d").as("cp_day"), col("__cusum").as("cp_cusum"))
      .orderBy(col("key"))
  }

  /** Fano factor (burstiness index) of daily volume per key: population
    * variance over mean of the daily counts across the key's OWN active
    * span — silent days inside the span count as zeros (a key that fires
    * 7000 events one day and sleeps a month must read bursty, which
    * active-days-only variance would hide). Zeros need no grid join:
    * they contribute nothing to Σc or Σc², so only the span length
    * enters the identity — Fano = (n·Σc² − S²)/(n·S), all integer until
    * one final floored micro division (Cauchy–Schwarz keeps the
    * numerator non-negative; decimal(38,0)/HUGEINT guards n·Σc² at
    * corpus scale). Poisson arrivals read ≈ 1e6; >1e6 is burstier.
    * Two hash aggs, day-grid sized after the first.
    * Output: key, n_days, total, fano_micro.
    */
  def fanoDaily(df: DataFrame, keyCol: String = "event_type",
                tsCol: String = "ts"): DataFrame = {
    df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("key"))
      .agg((datediff(max(col("__d")), min(col("__d"))) + 1).cast("long")
          .as("n_days"),
        sum(col("__c")).as("total"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__sq"))
      .select(col("key"), col("n_days"), col("total"),
        expr("""CAST(((CAST(n_days AS DECIMAL(38,0)) * __sq
                 - CAST(total AS DECIMAL(38,0)) * total) * 1000000)
                DIV (CAST(n_days AS DECIMAL(38,0)) * total) AS BIGINT)""")
          .as("fano_micro"))
      .orderBy(col("key"))
  }

  /** Functional-dependency audit: does column `det` determine column
    * `dep`? The schema-inference / data-quality primitive behind "can I
    * key my dimension on this column" — per candidate, how many
    * determinant keys exist, how many map to MORE than one dependent
    * value (violations), the worst fan-out, and the violation share in
    * HALF_UP bp. Null determinants are excluded (a null key determines
    * nothing); `countDistinct` ignores null dependents, so an
    * all-null-dependent key reads 0 distinct — never a violation.
    * One hash agg per candidate (candidate list is a plan-time
    * constant), each output one row.
    * Output: dependency, n_keys, n_violating, max_distinct, viol_bp.
    */
  def fdAudit(df: DataFrame,
              candidates: Seq[(String, String, String)]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate dependency")
    candidates.map { case (name, det, dep) =>
      df.where(col(det).isNotNull)
        .groupBy(col(det))
        .agg(countDistinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("__nd")).as("max_distinct"))
        .select(lit(name).as("dependency"), col("n_keys"),
          col("n_violating"), col("max_distinct"),
          floor(col("n_violating") * 10000.0 / col("n_keys") + 0.5)
            .cast("long").as("viol_bp"))
    }.reduce(_.unionByName(_)).orderBy(col("dependency"))
  }

  /** Statistical mode per key with a deterministic tie-break (highest
    * count, then SMALLEST value) — the missing argmax primitive next to
    * plain counts: one (key, value) hash agg, then a struct extreme —
    * no window, no per-key sort. Value must be numeric (the negation
    * tie-break); null keys/values are excluded.
    * Output: key, modal_value, n.
    */
  def modalByKey(df: DataFrame, keyCol: String,
                 valueCol: String): DataFrame = {
    df.where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("key"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("key"))
      .agg(max(struct(col("__n"), (-col("__v")).as("__nv"))).as("__m"))
      .select(col("key"), (-col("__m.__nv")).as("modal_value"),
        col("__m.__n").as("n"))
      .orderBy(col("key"))
  }

  /** Wald–Wolfowitz runs test on daily volume direction, per key: are
    * up-days and down-days randomly interleaved, or does volume trend /
    * mean-revert? Day-over-day deltas on the key's active-day series,
    * zero deltas dropped (the classic dichotomization), runs counted at
    * sign changes, and the null-hypothesis expectation E[R] = 1 +
    * 2·n₊·n₋/(n₊+n₋) reported in exact floored micro-units — fewer runs
    * than expected reads "trending", more reads "oscillating". Both
    * windows run over the key's bounded day grid (one hash agg
    * collapses the corpus first).
    * Output: key, n_plus, n_minus, n_runs, expected_runs_micro.
    */
  def runsTestDaily(df: DataFrame, keyCol: String = "event_type",
                    tsCol: String = "ts"): DataFrame = {
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("__d"))
    val daily = df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__delta", col("__c") - lag(col("__c"), 1).over(wDay))
      .where(col("__delta").isNotNull && col("__delta") =!= 0)
      .withColumn("__sign", when(col("__delta") > 0, 1L).otherwise(-1L))
      .withColumn("__run",
        when(lag(col("__sign"), 1).over(wDay).isNull ||
          lag(col("__sign"), 1).over(wDay) =!= col("__sign"), 1L)
          .otherwise(0L))
    daily.groupBy(col("key"))
      .agg(sum(when(col("__sign") === 1L, 1L).otherwise(0L)).as("n_plus"),
        sum(when(col("__sign") === -1L, 1L).otherwise(0L)).as("n_minus"),
        sum(col("__run")).as("n_runs"))
      .select(col("key"), col("n_plus"), col("n_minus"), col("n_runs"),
        (lit(1000000L) +
          expr("(2000000 * n_plus * n_minus) DIV (n_plus + n_minus)"))
          .as("expected_runs_micro"))
      .orderBy(col("key"))
  }

  /** Day-of-week variance explained, per key: how much of the daily-
    * volume variance is weekly seasonality? The one-number complement
    * of [[dowSeasonality]]'s per-dow index table — R² of the dow-means
    * model over the key's ACTIVE days (declared; silent days belong to
    * the trend question, [[fanoDaily]]). Between/total sums of squares
    * in per-group floored micro-units — floor(S_g²·1e6/n_g) is applied
    * identically in both engines, so the statistic is deterministic
    * without ever forming a float mean; the ≤|groups| floor slack is
    * clamped at 0. r2_bp = 10⁴·SSB DIV SST (0 when SST = 0 — constant
    * volume has no variance to explain). Day-grid aggregates only.
    * Output: key, n_days, r2_bp.
    */
  def dowVarianceExplained(df: DataFrame, keyCol: String = "event_type",
                           tsCol: String = "ts"): DataFrame = {
    val daily = df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__g", dayofweek(col("__d")).cast("long"))
    val byDow = daily.groupBy(col("key"), col("__g"))
      .agg(sum(col("__c")).as("__sg"), count(lit(1)).as("__ng"))
      .groupBy(col("key"))
      .agg(sum(expr("""CAST((CAST(__sg AS DECIMAL(38,0)) * __sg * 1000000)
                      DIV __ng AS DECIMAL(38,0))""")).as("__ssbRaw"))
    val byKey = daily.groupBy(col("key"))
      .agg(count(lit(1)).as("n_days"), sum(col("__c")).as("__s"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__sq"))
    byKey.join(byDow, Seq("key"))
      .withColumn("__corr", expr(
        "CAST((CAST(__s AS DECIMAL(38,0)) * __s * 1000000) DIV n_days AS DECIMAL(38,0))"))
      .withColumn("__sst", expr(
        "CAST(__sq AS DECIMAL(38,0)) * 1000000 - __corr"))
      .withColumn("__ssb",
        greatest(expr("__ssbRaw - __corr"), expr("CAST(0 AS DECIMAL(38,0))")))
      .select(col("key"), col("n_days"),
        when(col("__sst") <= 0, 0L)
          .otherwise(expr("CAST((__ssb * 10000) DIV __sst AS BIGINT)"))
          .as("r2_bp"))
      .orderBy(col("key"))
  }

  /** Herfindahl–Hirschman concentration index per key: Σ share² over
    * units (users) in floor micro — the antitrust-style "is this
    * activity a monopoly of a few users" number, sharper than gini in
    * the heavy-head regime and O(1) per key: HHI = Σc²/S² computed as
    * one exact decimal(38,0) ratio, no shares ever materialized.
    * 1e6 = one unit owns everything; 1e6/n = perfectly even.
    * Output: key, n_units, total, hhi_micro.
    */
  def hhiByKey(df: DataFrame, keyCol: String, unitCol: String): DataFrame = {
    df.where(col(keyCol).isNotNull && col(unitCol).isNotNull)
      .groupBy(col(keyCol).as("key"), col(unitCol).as("__u"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_units"), sum(col("__c")).as("total"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__sq"))
      .select(col("key"), col("n_units"), col("total"),
        expr("""CAST((__sq * 1000000)
                DIV (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)""")
          .as("hhi_micro"))
      .orderBy(col("key"))
  }

  /** Lorenz-curve points for per-unit activity concentration — the
    * table behind [[giniByKey]]'s single number: units (users) sorted
    * by their activity count ascending, each DISTINCT count value one
    * point with cumulative units and cumulative activity share in floor
    * bp. Exact on the (count-value × multiplicity) grid — ≤ |distinct
    * counts| rows, one corpus hash agg then grid windows, never a
    * per-unit sort. Output: c, n_units, cum_units, cum_share_bp.
    */
  def lorenzPoints(df: DataFrame, unitCol: String): DataFrame = {
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    df.where(col(unitCol).isNotNull)
      .groupBy(col(unitCol)).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n_units"))
      .withColumn("cum_units", sum(col("n_units")).over(wCum))
      .withColumn("__cumAct", sum(col("c") * col("n_units")).over(wCum))
      .withColumn("__tot", sum(col("c") * col("n_units")).over(wAll))
      .select(col("c"), col("n_units"), col("cum_units"),
        expr("(__cumAct * 10000) DIV __tot").as("cum_share_bp"))
      .orderBy(col("c"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the `groupExpr`
    * split of a bounded-grid value column (4dp-rounded scores, counts,
    * ticks): D = max over the merged value grid of |F_a − F_b|,
    * computed EXACTLY as cross-multiplied cumulative counts
    * (|cumA·n_b − cumB·n_a|, decimal(38,0)) so no float CDF ever forms;
    * reported as floor micro. The distribution-shift tester next to
    * [[chiSquare]] (categorical) and PSI (binned shares) — KS reads the
    * worst single point of divergence, unbinned. The cumulative window
    * runs over the DISTINCT value grid (bounded for 4dp measures by
    * construction — the counting-dim discipline).
    * Output: n_a, n_b, d_micro.
    */
  def ksTest(df: DataFrame, valueCol: String, groupExpr: Column): DataFrame = {
    val grid = df
      // the CDF is over observed values only: a NULL value is not an
      // observation, and as a grid cell it would sort NULLS FIRST in
      // Spark / NULLS LAST in DuckDB inside the cumulative window
      .where(col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"),
        when(groupExpr, 0L).otherwise(1L).as("__g"))
      .groupBy(col("__v"))
      .agg(sum(when(col("__g") === 0L, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === 1L, 1L).otherwise(0L)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    grid
      .withColumn("__cumA", sum(col("__ca")).over(w))
      .withColumn("__cumB", sum(col("__cb")).over(w))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cumA").cast("decimal(38,0)") * col("__nb") -
          col("__cumB").cast("decimal(38,0)") * col("__na"))).as("__d"))
      .select(col("n_a"), col("n_b"),
        expr("CAST((__d * 1000000) DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("d_micro"))
  }

  /** Seasonal-naive backtest per key: how well do "same day last week"
    * (lag-7) and "yesterday" (lag-1) predict today's daily volume — the
    * two baselines every forecast must beat, and the measured answer to
    * "is this series weekly-seasonal or momentum-driven". Calendar
    * self-joins on the bounded (key × day) grid (a missing day simply
    * contributes no pair — declared); MAE in floor micro.
    * Output: key, n7, mae7_micro, n1, mae1_micro.
    */
  def seasonalNaiveBacktest(df: DataFrame, keyCol: String = "event_type",
                            tsCol: String = "ts"): DataFrame = {
    val daily = df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__c"))
    def mae(lagDays: Int, n: String, m: String): DataFrame =
      daily.as("t").join(daily.as("p"),
          col("t.key") === col("p.key") &&
            col("t.__d") === date_add(col("p.__d"), lagDays))
        .groupBy(col("t.key").as("key"))
        .agg(count(lit(1)).as(n),
          expr(s"CAST(sum(abs(t.__c - p.__c)) * 1000000 DIV count(1) AS BIGINT)")
            .as(m))
    mae(7, "n7", "mae7_micro").join(mae(1, "n1", "mae1_micro"), Seq("key"))
      .orderBy(col("key"))
  }

  /** Wilson-score lower bound per key for P(success): the
    * small-sample-honest rate ranking (a 1/1 key must NOT outrank a
    * 95/100 key — raw rates do exactly that). z is pinned at 1.96 and
    * z² spelled `1.96*1.96` so both engines constant-fold the same IEEE
    * double; the formula is one left-associative double expression
    * rounded to 6dp (the cosine discipline — a display value, not a
    * join key). Output: key (as `keyCol`), n, x, wilson_lb.
    */
  def wilsonLowerBound(df: DataFrame, successExpr: Column,
                       keyCol: String = "event_type"): DataFrame = {
    df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(when(successExpr, 1L).otherwise(0L)).as("x"))
      .select(col(keyCol), col("n"), col("x"),
        round(
          (col("x") / col("n") + lit(1.96 * 1.96) / (lit(2.0) * col("n")) -
            lit(1.96) * sqrt(col("x") / col("n") *
              (lit(1.0) - col("x") / col("n")) / col("n") +
              lit(1.96 * 1.96) / (lit(4.0) * col("n") * col("n")))) /
            (lit(1.0) + lit(1.96 * 1.96) / col("n")), 6).as("wilson_lb"))
      .orderBy(col(keyCol))
  }

  /** Column null-rate profile: one row per column with total, null
    * count, and null share in HALF_UP bp — the first table of any
    * data-quality report and the generic side of the declarative
    * expectations audit. One scan: every column collapses to one
    * conditional sum (no per-column jobs); column list is plan-time.
    * Output: column, n, n_null, null_bp — ordered by column name.
    */
  def nullProfile(df: DataFrame): DataFrame = {
    // one aggregate row, then an explode over the plan-time column dim —
    // a per-column union would re-run the scan once per column
    val agg = df.agg(count(lit(1)).as("__n"),
      df.columns.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c")).toIndexedSeq: _*)
    agg.select(col("__n").as("n"),
        explode(array(df.columns.sorted.map(c =>
          struct(lit(c).as("column"), col(s"__null_$c").as("n_null"))).toIndexedSeq: _*))
          .as("__s"))
      .select(col("__s.column").as("column"), col("n"),
        col("__s.n_null").as("n_null"),
        floor(col("__s.n_null") * 10000.0 / col("n") + 0.5).cast("long")
          .as("null_bp"))
      .orderBy(col("column"))
  }

  /** Week-over-week volume change per key: weekly event counts on the
    * Monday-anchored week grid, previous week via one lag over the
    * bounded (key × week) dim, change in HALF_UP bp of the PREVIOUS
    * week (the dashboard convention; first week reads null-free by
    * dropping — no baseline, no number). Adjacent calendar weeks only:
    * a gap week makes `prev` the last ACTIVE week (declared — the
    * alternative zero-fill belongs to [[fanoDaily]]'s span identity).
    * Output: key, week, n, prev_n, wow_bp.
    */
  def weekOverWeek(df: DataFrame, keyCol: String = "event_type",
                   tsCol: String = "ts"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("week"))
    df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol).as("key"),
        date_trunc("week", col(tsCol)).as("week"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .where(col("prev_n").isNotNull)
      .select(col("key"), col("week"), col("n"), col("prev_n"),
        floor((col("n") - col("prev_n")) * 10000.0 / col("prev_n") + 0.5)
          .cast("long").as("wow_bp"))
      .orderBy(col("key"), col("week"))
  }

  /** Time-decayed volume per key: each event contributes a credit that
    * halves every `halfLifeDays` relative to the corpus's last day —
    * the freshness-weighted activity score behind trending/ranking
    * surfaces. The decay is an EXACT integer: credit = 10⁶ >>
    * min(age_days DIV halfLife, 30) (power-of-2 halving, bit-shift —
    * no float exp whose last ulp is engine-specific; 30 caps the shift
    * at zero-credit). One broadcast max-day scalar + one hash agg.
    * Output: key, n, decayed_micro.
    */
  def timeDecayedVolume(df: DataFrame, keyCol: String = "event_type",
                        tsCol: String = "ts",
                        halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays >= 1, "half life must be positive")
    val mx = df.where(col(tsCol).isNotNull)
      .agg(max(to_date(col(tsCol))).as("__mx"))
    df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .crossJoin(broadcast(mx))
      .select(col(keyCol).as("key"),
        datediff(col("__mx"), to_date(col(tsCol))).cast("long").as("__age"))
      .select(col("key"), expr(
        s"shiftright(CAST(1000000 AS BIGINT), CAST(least(__age DIV $halfLifeDays, 30) AS INT))")
        .as("__credit"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("__credit")).as("decayed_micro"))
      .orderBy(col("key"))
  }

  /** k-anonymity audit over a quasi-identifier cell grid: for each
    * candidate re-identification threshold k, how many occupied cells
    * sit below k occupants and how many rows they carry — the table a
    * release review reads before publishing "anonymized" event data
    * (a cell of size 1 IS an individual). One hash agg to the cell
    * grid, then a broadcast threshold dim × conditional sums.
    * Output: k, n_cells, n_cells_below, n_rows_below, rows_below_bp.
    */
  def kAnonymity(df: DataFrame, quasiIdCols: Seq[String],
                 ks: Seq[Long] = Seq(2L, 5L, 10L)): DataFrame = {
    require(quasiIdCols.nonEmpty && ks.nonEmpty, "need columns and thresholds")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.groupBy(quasiIdCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
    cells.crossJoin(broadcast(ks.toDF("k")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("__c") < col("k"), 1L).otherwise(0L))
          .as("n_cells_below"),
        sum(when(col("__c") < col("k"), col("__c")).otherwise(0L))
          .as("n_rows_below"),
        sum(col("__c")).as("__n"))
      .select(col("k"), col("n_cells"), col("n_cells_below"),
        col("n_rows_below"),
        floor(col("n_rows_below") * 10000.0 / col("__n") + 0.5).cast("long")
          .as("rows_below_bp"))
      .orderBy(col("k"))
  }

  /** Neyman-optimal stratified sample allocation: split a labeling /
    * eval budget across strata proportionally to N_h·σ_h — the
    * variance-minimizing allocation for a stratified mean, and the
    * standard answer to "how many docs per source do we send to
    * annotators". The spread weight is EXACT: N·Σt² − (Σt)² over
    * integer value ticks equals N²σ², so its HALF_UP square root is
    * the integer N_h·σ_h·tick. Integer largest-remainder rounding
    * makes the allocations sum to exactly `budget` (floor quotas, the
    * +1 remainders to the largest B·w mod W with key-ascending ties) —
    * engine-portable, no float shares anywhere. One bounded per-key
    * agg; the remainder window runs on the strata dim.
    * Degenerate case: when EVERY stratum has zero spread (all-constant
    * ticks) the total weight coalesces to 1, all base quotas are 0,
    * and only min(#strata, budget) units are handed out via the
    * remainder pass (one each, key-ascending) — there is no variance
    * signal to allocate against, so the sum-to-budget invariant is
    * intentionally relaxed rather than inventing a proportional
    * fallback the oracle contract doesn't state.
    * Output: key, n_rows, spread_w, alloc.
    */
  def neymanAllocation(df: DataFrame, keyCol: String, tickCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    val st = df
      .where(col(keyCol).isNotNull && col(tickCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"), sum(col(tickCol)).as("__s"),
        sum(col(tickCol).cast("decimal(38,0)") * col(tickCol)).as("__s2"))
      .select(col("key"), col("n_rows"),
        floor(sqrt(expr(
          "CAST(greatest(n_rows * __s2 - CAST(__s AS DECIMAL(38,0)) * __s, " +
            "CAST(0 AS DECIMAL(38,0))) AS DOUBLE)")) + 0.5).cast("long")
          .as("spread_w"))
    val tot = st.agg(sum(col("spread_w")).as("__w")).select(
      when(col("__w") > 0, col("__w")).otherwise(lit(1L)).as("__w"))
    val based = st.crossJoin(broadcast(tot))
      .withColumn("__base", expr(s"(${budget}L * spread_w) DIV __w"))
      .withColumn("__rem", expr(s"(${budget}L * spread_w) % __w"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("key").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    based
      .withColumn("__left", lit(budget) - sum(col("__base")).over(wAll))
      .withColumn("__rk", row_number().over(wRem))
      .select(col("key"), col("n_rows"), col("spread_w"),
        (col("__base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("key"))
  }

  /** Log-normal fit per key over a POSITIVE measure (doc lengths are
    * the canonical case — natural text lengths are approximately
    * log-normal, and the (μ, σ) pair is the two-number shape card a
    * source review reads): per-row log micro-ticks (round-half-away,
    * the lnMicros discipline), then exact integer moment sums — μ as
    * one floor division, σ from the exact variance numerator
    * n·Σx²−(Σx)² (decimal(38,0)) with one HALF_UP square root.
    * Non-positive and null values are excluded on both sides (no log).
    * μ's division FLOORS (Spark's DIV truncates toward zero, DuckDB's
    * `//` floors — they disagree exactly when Σx < 0, i.e. a measure
    * in (0,1); `(Σx − pmod(Σx, n)) DIV n` is exact long arithmetic
    * with a non-negative remainder, so both engines agree for any
    * positive measure, not just ≥ 1).
    * Output: key, n_rows, mu_micro, sigma_micro.
    */
  def lognormalFit(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.where(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) > 0)
      .select(col(keyCol).as("key"),
        round(log(col(valueCol).cast("double")) * 1e6).cast("long").as("__x"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__x")).as("__sx"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"))
      .select(col("key"), col("n_rows"),
        expr("(__sx - pmod(__sx, n_rows)) DIV n_rows").as("mu_micro"),
        floor(sqrt(expr(
          """CAST(greatest(n_rows * __sxx - CAST(__sx AS DECIMAL(38,0)) * __sx,
            |CAST(0 AS DECIMAL(38,0))) AS DOUBLE)""".stripMargin)) /
          col("n_rows") + 0.5).cast("long").as("sigma_micro"))
      .orderBy(col("key"))
}
