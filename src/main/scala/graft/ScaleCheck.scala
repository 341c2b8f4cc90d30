package graft

import graft.operators.{Atr, ChunkedJoin, Dedup, GapFill, HashBase, Ohlc, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: in-plan scale expansion (no files written) — replicate inputs
  * ×FACTOR with per-replica salting, then drive the core pipeline
  * (candles → gap-fill → ATR) plus the dedup/similarity scale paths and
  * report marginal per-stage seconds. Surfaces shuffle/skew/spill
  * pathologies the tiny SFs hide.
  * Usage: runMain graft.ScaleCheck [sfDir] [factor] [docFactor]
  * (docFactor defaults to max(4, factor/5); pass it explicitly to probe
  * the dedup/CC section at a different corpus scale than the tick paths —
  * e.g. a large docFactor pushes the dup-pair graph past the hybrid CC's
  * 1M-edge driver threshold so the DEFAULT path crosses into the
  * distributed loop organically.)
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(50)
    val docFactorArg = args.lift(2).map(_.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = Tables.events(spark, sfDir)
    val expanded = ev
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        (col("event_id") * factor + col("rep")).as("event_id"),
        col("ts"),
        concat(col("event_type"), lit("_"), col("rep")).as("event_type"),
        col("value"))
      .repartition(cpus.toInt)
    val nTicks = expanded.count()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // cache stage inputs so each timing is the stage's marginal cost, not a
    // recompute of the whole upstream chain
    val candles = Ohlc.candles(expanded).cache()
    val nCandles = time(s"OHLC over $nTicks ticks")(candles.count())
    val filled = GapFill.fill(candles).cache()
    val nFilled = time("gap-fill (dense grid)")(filled.count())
    val nEnriched = time("Wilder ATR over gap-filled")(Atr.enrich(filled).toDF().count())
    // asof: BOTH sides large (every tick against every candle stream) —
    // must stay a single key shuffle + window, no broadcast, no range blowup
    time(s"asof join ticks->candles over $nTicks ticks")(
      graft.operators.AsOf.asofJoin(
        expanded.select(col("event_id"), col("ts"),
          col("event_type").as("symbol"), col("value")),
        candles, key = "symbol", leftTs = "ts", rightTs = "window_start",
        valueCols = Seq("close")).count())
    // q232/q233: rolling windows over CANDLES — cost tracks the candle
    // grid (symbols × buckets), not tick volume
    time(s"bollinger over $nCandles candles")(
      graft.operators.Returns.bollinger(candles).count())
    time(s"cutler rsi over $nCandles candles")(
      graft.operators.Returns.rsiCutler(candles).count())
    // q234: the pair join moves the candle-sized return series; output
    // is dimension-bounded (symbols² pairs)
    time(s"return correlation over $nCandles candles")(
      graft.operators.Returns.returnCorrelationMatrix(candles).count())
    // q235: one lag + conditional sums — candle-grid-sized
    time(s"candle patterns over $nCandles candles")(
      Ohlc.candlePatterns(candles).count())
    // q245: one hash agg over the candle grid — never re-scans ticks
    time(s"ohlc resample 5m->30m over $nCandles candles")(
      Ohlc.resample(candles).count())
    // q250: the Atr fold shape — one symbol shuffle + streaming
    // per-partition EMA recursion, candle-grid sized
    time(s"macd over $nCandles candles")(
      graft.operators.Returns.macd(candles).count())
    println(s"[scale] ticks=$nTicks candles=$nCandles filled=$nFilled enriched=$nEnriched " +
      f"symbols=${factor * 5} tickRate=${nTicks / 1e6}%.1fM")
    // q85/q86 at xfactor USERS: replicate the user dimension so the
    // session (right) and purchase (left) sides of the interval join scale
    // together, and the rolling-distinct id space scales with them
    val uev = ev.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("event_id") * factor + col("rep")).as("event_id"),
        (col("user_id") * factor + col("rep")).as("user_id"),
        col("ts"), col("event_type"), col("value"))
      .repartition(cpus.toInt).cache()
    val nUev = uev.count()
    // must stay ONE union + keyed window — no range join, no per-bucket
    // duplication, however many sessions a user accumulates
    time(s"interval join purchase->session over $nUev events")(
      graft.operators.AsOf.intervalJoin(
        uev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        uev.where(col("event_type") === "signup")
          .select(col("user_id"), col("ts").as("start_ts"),
            (col("ts") + expr("INTERVAL 4 HOURS")).as("end_ts"),
            col("event_id").as("session_id")),
        key = "user_id", leftTs = "ts", start = "start_ts", end = "end_ts",
        valueCols = Seq("session_id")).count())
    // bounded x7 expansion + two hash aggs — no collect_set window, no
    // BETWEEN self-join, cost linear in distinct (day, user)
    time(s"rolling 7d distinct users over $nUev events")(
      graft.operators.Stats.rollingDistinctCount(uev, "ts", "user_id").count())
    // q87/q88: per-step agg+join fold and the cohort join — all user-key
    // exchanges, never a per-user history array
    time(s"3-step funnel over $nUev events")(
      graft.operators.Engagement.funnel(uev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")).count())
    time(s"weekly retention over $nUev events")(
      graft.operators.Engagement.retention(uev, "user_id", "ts").count())
    time(s"conversion-lag histogram over $nUev events")(
      graft.operators.Engagement.conversionLag(uev, "user_id", "ts",
        "event_type", "view", "purchase").count())
    time(s"transition matrix over $nUev events")(
      graft.operators.Engagement.transitions(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q129: three user-keyed windows + a conditional-max pivot — no
    // per-session collect, one exchange serves the whole chain
    time(s"session paths (top-20) over $nUev events")(
      graft.operators.Engagement.sessionPaths(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q130: quantiles on the (type × tick) counting grid — the window
    // runs over cells (bounded by range/tick), never rows
    time(s"value quantiles over $nUev events")(
      graft.operators.Stats.tickQuantiles(uev, "event_type", "value").count())
    // q131: adoption distinct FIRST, so the user self-join fan-out is
    // the (small) per-user type count squared, not event volume
    time(s"event affinity over $nUev events")(
      graft.operators.Engagement.eventAffinity(uev, "user_id", "event_type").count())
    // q132: (type × day) grid + broadcast stats — scan-bound
    time(s"daily anomaly flags over $nUev events")(
      graft.operators.Stats.dailyAnomalies(uev, "event_type", "ts").count())
    // q139: per-user counts collapse onto the (type × count) grid; the
    // descending cumsum windows run over cells, never users
    time(s"top-decile concentration over $nUev events")(
      graft.operators.Engagement.topDecileConcentration(uev, "user_id",
        "event_type").count())
    // q140: one (user, type)-keyed lag + grid quantiles — no per-type sort
    time(s"inter-event gap quantiles over $nUev events")(
      graft.operators.Engagement.interEventGapQuantiles(uev, "user_id",
        "ts", "event_type", "event_id").count())
    // q142: the q87 fold + the integer-micros window gate — same
    // user-key exchanges, no new shuffle
    time(s"windowed funnel over $nUev events")(
      graft.operators.Engagement.funnel(uev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxLagSeconds = Some(86400L)).count())
    // q148: ONE user-keyed window carries both attribution columns — cost
    // must track the transition-matrix probe (same exchange), never a join
    time(s"last-touch attribution over $nUev events")(
      graft.operators.Engagement.lastTouchAttribution(uev, "user_id", "ts",
        "event_type", "event_id", target = "purchase").count())
    // q147: per-row JSON path extraction + one hash agg — scan-bound
    time(s"json props extraction over $nUev events")(
      uev.withColumn("props",
          concat(lit("{\"k\": "), pmod(col("event_id"), lit(100)), lit("}")))
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)), sum("k"), countDistinct(col("k"))).count())
    // q151: the q140 exchange with a threshold flag instead of grid
    // quantiles — cost must track the gap-quantile probe
    time(s"double-fire audit over $nUev events")(
      graft.operators.Engagement.doubleFire(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q181: two leads on the same exchange as transitions
    time(s"flow trigrams over $nUev events")(
      graft.operators.Engagement.flowTrigrams(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q154: the GLOBAL prefix max runs two-phase (256 id-range buckets +
    // a 256-row offset cumsum) — no single-partition corpus window
    time(s"watermark lateness over $nUev events")(
      graft.operators.Engagement.watermarkLateness(uev, "ts", "event_id",
        "event_type").count())
    // q159: (type × day) grid + broadcast day origins + exact OLS sums
    time(s"daily volume trend over $nUev events")(
      graft.operators.Stats.dailyTrend(uev, "event_type", "ts").count())
    // q158: counting grid joined back on the composite (type, value)
    // key — uniform shuffle, grid windows over cells only
    time(s"relative rank over $nUev events")(
      graft.operators.Stats.relativeRank(
        uev.withColumn("v", (col("value") * 100).cast("long")),
        "event_type", "v").count())
    // q162/q163: one user-keyed exchange each (rank pick / lag+cumsum
    // sessionization) — the q129 shape
    time(s"first-touch census over $nUev events")(
      graft.operators.Engagement.firstTouchCensus(uev, "user_id", "ts",
        "event_type", "event_id").count())
    time(s"session stats over $nUev events")(
      graft.operators.Engagement.sessionStats(uev, "user_id", "ts",
        "event_id").count())
    // q166: presence collapses to distinct (user, week) FIRST — the
    // ledger joins run on that bounded relation, never raw events
    time(s"growth accounting over $nUev events")(
      graft.operators.Engagement.growthAccounting(uev, "user_id", "ts")
        .count())
    // q168/q169: one hash agg of power sums / one grid RANGE window
    time(s"higher moments over $nUev events")(
      graft.operators.Stats.higherMoments(
        uev.withColumn("v", (col("value") * 100).cast("long")),
        "event_type", "v").count())
    time(s"rolling 7d daily mean over $nUev events")(
      graft.operators.Stats.rollingDailyMean(uev, "event_type", "ts").count())
    // q177: every key hot by construction — the salted exchange must
    // beat one-reducer-per-type straggling, result = plain join
    time(s"salted join (5 hot keys) over $nUev events")(
      graft.operators.Skew.saltedJoin(
        uev.select("event_id", "event_type"),
        uev.groupBy("event_type").agg(count(lit(1)).as("type_total")),
        key = "event_type", salts = 8).count())
    // q176: weight-mass grid — same cells as tickQuantiles
    time(s"weighted quantiles over $nUev events")(
      graft.operators.Stats.weightedQuantiles(
        uev.withColumn("v", (col("value") * 100).cast("long"))
          .withColumn("w", lit(1L) + pmod(col("event_id"), lit(7))),
        "event_type", "v", "w").count())
    // q189/q190: one hash agg + broadcast marginals / one grid lag
    time(s"chi-square (type x value-decile) over $nUev events")(
      graft.operators.Stats.chiSquare(
        uev.withColumn("d", floor(col("value") / 10).cast("long")),
        "event_type", "d").count())
    time(s"daily autocorrelation over $nUev events")(
      graft.operators.Stats.dailyAutocorr(uev, "event_type", "ts").count())
    // q202: two exchanges end-to-end (activity distinct + user-keyed
    // join); the triangle output is (weeks × offsets)-bounded
    time(s"cohort triangle over $nUev events")(
      graft.operators.Engagement.cohortTriangle(uev, "user_id", "ts").count())
    // q208: windows run over (type × activity-count) grid CELLS — cost
    // must track the per-user hash agg, never a per-user sort
    time(s"activity gini over $nUev events")(
      graft.operators.Stats.giniByKey(uev, "event_type", "user_id").count())
    // q209: the q20 session window + ONE struct-extreme agg — must stay
    // in sessionStats' cost class (identical prologue)
    time(s"session entry/exit over $nUev events")(
      graft.operators.Engagement.sessionEntryExit(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q211: three metric grids stack into one bounded window; monetary
    // discretized to whole units keeps the grid bounded at any corpus
    time(s"rfm segmentation over $nUev events")(
      graft.operators.Engagement.rfmSegments(uev, "user_id", "ts", "value")
        .count())
    // q203: build side collapses to ≤ m slot ids (broadcast); the probe
    // explode is |distinct keys|·k — here every event id probes
    time(s"bloom prefilter audit over $nUev probe keys")(
      graft.operators.Bloom.prefilterAudit(
        uev.where(pmod(col("event_id"), lit(100)) === 0), "event_id",
        uev, "event_id", m = 1 << 20, k = 3).count())
    // q218: registers are a 64-row state per key — cost must track the
    // (key, register) hash agg, never the raw row count
    time(s"hll distinct audit over $nUev events")(
      graft.operators.Sketch.hllDistinctAudit(uev, "event_type", "user_id")
        .count())
    // q222: users collapse to the (span, window) grid before the
    // offset explode — fan-out is grid×15, independent of user count
    time(s"survival curve over $nUev events")(
      graft.operators.Engagement.survivalCurve(uev).count())
    // q223: one lead window per symbol, decimal products — ATR-class cost
    time(s"twap over $nUev events")(
      graft.operators.Ohlc.twap(uev).count())
    // q224: per-key count aggs + a TakeOrdered head; actual from the
    // same relation — NEVER a physical join
    time(s"join cardinality audit (self) over $nUev events")(
      graft.operators.Sketch.joinCardinalityAudit(
        Seq(("self", uev, "user_id", uev, "user_id"))).count())
    // q226: change-point lag + versions over SURVIVORS — second window
    // cost tracks changes, not log volume
    time(s"scd2 build over $nUev events")(
      graft.operators.AsOf.scd2FromChangeLog(
        uev.withColumn("band", floor(col("value") / 100).cast("long")),
        "user_id", "ts", "event_id", "band").count())
    // q227: windows partition BY DAY over the bounded item grid
    time(s"trending daily over $nUev events")(
      graft.operators.Stats.trendingDaily(
        uev.withColumn("item", pmod(col("event_id"), lit(100L))),
        "ts", "item").count())
    // q228: q20 session prologue + per-day sweep window (declared
    // simulation boundary; two-phase prefix sum is the 100× path)
    time(s"peak concurrency over $nUev events")(
      graft.operators.Engagement.peakConcurrency(uev).count())
    // q236/q237: both run on the bounded (key × day/dow) grid after one
    // corpus hash agg — day-dimension windows, never per-event sorts
    time(s"dow seasonality over $nUev events")(
      graft.operators.Stats.dowSeasonality(uev).count())
    time(s"cusum changepoint over $nUev events")(
      graft.operators.Stats.cusumChangepoint(uev).count())
    // q229/q231: one lag / cumulative-max window per symbol — ATR-class
    // cost, partition count = symbol cardinality
    time(s"realized vol over $nUev events")(
      graft.operators.Returns.realizedVolDaily(uev).count())
    time(s"max drawdown over $nUev events")(
      graft.operators.Returns.maxDrawdown(uev).count())
    // q230: comparison runs on the (symbol × tick) counting grid, the
    // latest sample is a struct extreme — no window anywhere
    time(s"last value rank over $nUev events")(
      graft.operators.Returns.lastValueRank(uev).count())
    // q241: one keyed window + (user, conv-idx) hash aggs — the
    // last-touch exchange shape; trailing touches drop in the equi-join
    time(s"linear attribution over $nUev events")(
      graft.operators.Engagement.linearAttribution(
        uev, "user_id", "ts", "event_type", "event_id",
        target = "purchase").count())
    // q242: corpus collapses to distinct (day, user) once; month rollup
    // is a bounded-dim agg over that grid
    time(s"stickiness over $nUev events")(
      graft.operators.Engagement.stickiness(uev).count())
    // q248: two hash aggs, (key × day)-grid sized after the first
    time(s"fano factor over $nUev events")(
      graft.operators.Stats.fanoDaily(uev).count())
    // q253: one (key, value) hash agg + struct extreme — no window
    time(s"modal hour over $nUev events")(
      graft.operators.Stats.modalByKey(
        uev.select(col("event_type"), hour(col("ts")).as("hr")),
        "event_type", "hr").count())
    // q254: day-grid windows after one corpus hash agg
    time(s"runs test over $nUev events")(
      graft.operators.Stats.runsTestDaily(uev).count())
    // q256: one key-dim agg + broadcast total; output ≤ parts rows
    time(s"salt advisor over $nUev events")(
      graft.operators.Skew.saltAdvisor(uev, "event_type").count())
    // q257: dow/day-grid aggregates only
    time(s"dow variance explained over $nUev events")(
      graft.operators.Stats.dowVarianceExplained(uev).count())
    // q258: one hash agg to the quasi-id grid × 3 thresholds
    time(s"k-anonymity over $nUev events")(
      graft.operators.Stats.kAnonymity(
        uev.where(col("ts").isNotNull)
          .select(col("event_type"), dayofweek(col("ts")).as("dow"),
            hour(col("ts")).as("hr")),
        Seq("event_type", "dow", "hr")).count())
    // q260: change log collapses to one struct-extreme row per key
    // BEFORE the single full-outer join
    time(s"cdc apply over $nUev events")(
      graft.operators.AsOf.cdcApply(
        uev.where(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(max(col("value")).as("value")),
        uev.where(col("event_type").isin("purchase", "error"))
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "error", "delete").otherwise("upsert")
              .as("op"), col("value")),
        "user_id", "ts", "event_id", "op", "value").count())
    // q261: distinct (entity, block) + [2, 50]-sized blocks bound the
    // pair volume at maxBlockSize² per block
    time(s"blocked entity pairs over $nUev events")(
      graft.operators.Dedup.blockedEntityPairs(
        uev.where(col("ts").isNotNull && col("value").isNotNull),
        "user_id",
        Seq(to_date(col("ts")), col("event_type"),
          floor(col("value") / 100).cast("long"))).count())
    // q265: eps-bucket band join — ×3 left replication, exact residual;
    // pair volume tracks true matches, never per-key Cartesian
    time(s"band join purchases~clicks over $nUev events")(
      graft.operators.AsOf.bandJoin(
        uev.where(col("event_type") === "purchase" && col("value").isNotNull)
          .select(col("event_id").as("pid"), col("user_id"),
            col("value").as("pv")),
        uev.where(col("event_type") === "click" && col("value").isNotNull)
          .select(col("user_id"), col("value").as("cv"),
            col("event_id").as("cid")),
        "user_id", "pv", "cv", eps = 5.0, Seq("cid")).count())
    // q266: one broadcast scalar + one hash agg
    time(s"time-decayed volume over $nUev events")(
      graft.operators.Stats.timeDecayedVolume(uev).count())
    // q269: lag over the bounded (key × week) grid
    time(s"week-over-week over $nUev events")(
      graft.operators.Stats.weekOverWeek(uev).count())
    // q271: ONE scan — per-column sums + a plan-time explode
    time(s"null profile over $nUev events")(
      graft.operators.Stats.nullProfile(uev).count())
    // q278: two calendar self-joins over the bounded day grid
    time(s"seasonal backtest over $nUev events")(
      graft.operators.Stats.seasonalNaiveBacktest(uev).count())
    // q280: grid windows after one corpus hash agg
    time(s"lorenz points over $nUev events")(
      graft.operators.Stats.lorenzPoints(uev, "user_id").count())
    // q283: two hash aggs, one exact decimal ratio per key
    time(s"hhi over $nUev events")(
      graft.operators.Stats.hhiByKey(uev, "event_type", "user_id").count())
    // q281: distinct (type, user) relation, pair join keyed on the user
    time(s"audience overlap over $nUev events")(
      graft.operators.Engagement.audienceOverlap(uev).count())
    // q282: two keyed windows + grid aggs
    time(s"run length census over $nUev events")(
      graft.operators.Engagement.runLengthCensus(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q277: ≤2-hop closure over the capped entity-pair graph —
    // maxBlockSize bounds degree, so the 2-hop join is cap²-bounded
    time(s"two-hop reach over $nUev events")({
      val edges = graft.operators.Dedup.blockedEntityPairs(
        uev.where(col("ts").isNotNull && col("value").isNotNull),
        "user_id",
        Seq(to_date(col("ts")), col("event_type"),
          floor(col("value") / 100).cast("long")))
        .select(col("entity_a").as("a"), col("entity_b").as("b"))
      val und = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b"))).distinct()
      val two = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .where(col("a") =!= col("b"))
      und.unionByName(two).distinct().groupBy(col("a")).count().count()
    })
    // q273: the transitions window + type-grid entropy terms
    time(s"transition entropy over $nUev events")(
      graft.operators.Engagement.transitionEntropy(uev, "user_id", "ts",
        "event_type", "event_id").count())
    // q262: the asof shape + a row-local staleness residual — must
    // track the plain asof probe above
    time(s"asof tolerance join over $nTicks ticks")(
      graft.operators.AsOf.asofJoinTolerance(
        expanded.select(col("event_id"), col("ts"),
          col("event_type").as("symbol"), col("value")),
        candles, key = "symbol", leftTs = "ts", rightTs = "window_start",
        valueCols = Seq("close"), toleranceSeconds = 120L).count())
    // q243: one scan, explode ×|candidates|, ≤ cand×64 rows per
    // upstream partition after map-side partials — event_type is the
    // deliberately-skewed candidate (5·factor values over 64 buckets)
    time(s"partition skew advisor over $nUev events")(
      graft.operators.Layout.partitionSkew(uev, Seq(
        "event_id" -> Seq("event_id"),
        "event_type" -> Seq("event_type"),
        "user_type" -> Seq("user_id", "event_type"))).count())
    // q244: the asof merge-interleave with both frames — one key
    // shuffle, no join node, both sides at event scale
    time(s"nearest join purchases->clicks over $nUev events")(
      graft.operators.AsOf.nearestJoin(
        uev.where(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"), col("ts")),
        uev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("cts")),
        "user_id", "ts", "cts", Seq("click_id")).count())
    uev.unpersist()
    // release the core-pipeline caches before the dedup/similarity section —
    // lingering multi-GB cached stages turn the later timings into GC noise
    filled.unpersist()
    candles.unpersist()

    // ── dedup / similarity scale paths ──
    // documents ×docFactor with per-replica token salting (so replicas are
    // near-dups of each other only within a replica family, keeping pair
    // counts sane while scaling the corpus)
    val docFactor = docFactorArg.getOrElse(math.max(4, factor / 5))
    val docs = Tables.documents(spark, sfDir)
      .withColumn("rep", explode(sequence(lit(0), lit(docFactor - 1))))
      .select((col("doc_id") * docFactor + col("rep")).as("doc_id"),
        concat(col("text"), lit(" rep"), col("rep")).as("text"))
      .repartition(cpus.toInt).cache()
    val nDocs = docs.count()
    time(s"linear-perm MinHash-LSH pairs over $nDocs docs")(
      Dedup.minhashLshPairs(docs, numPerms = 64, bands = 16, threshold = 0.5).count())
    time(s"SimHash banded Hamming pairs over $nDocs docs")(
      Dedup.simhashPairsPortable(docs).count())
    time(s"winnowing fingerprints over $nDocs docs")(
      graft.operators.TextAnalysis.winnowingFingerprints(docs)
        .select(explode(col("fingerprints"))).count())
    // the base-hash lever in isolation: identical signature pipeline, only
    // the per-shingle hash differs (noop write so the min-aggs aren't pruned)
    time(s"minhash signatures 64p (xxhash base) over $nDocs docs")(
      Dedup.minhashSignatures(docs, 5, 64, HashBase.Xx)
        .write.format("noop").mode("overwrite").save())
    time(s"minhash signatures 64p (md5-portable base) over $nDocs docs")(
      Dedup.minhashSignatures(docs, 5, 64, HashBase.Md5)
        .write.format("noop").mode("overwrite").save())
    // q53 scale path, BOTH execution strategies. The pair graph is cached
    // and counted first so (a) the timings are pure-CC marginal cost and
    // (b) the hybrid's path choice is visible — past ~1M edges the DEFAULT
    // crosses into the distributed label-prop loop organically
    val ccPairs = Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
      threshold = 0.2).cache()
    val nPairs = ccPairs.count()
    println(s"[scale] cc pair graph: $nPairs edges -> default path = " +
      (if (nPairs <= 1000000L) "driver union-find" else "distributed label-prop"))
    time(s"dup clusters (default hybrid, $nPairs edges) over $nDocs docs")(
      Dedup.dupClusters(ccPairs).count())
    time(s"dup clusters (distributed label-prop, $nPairs edges) over $nDocs docs")(
      Dedup.dupClusters(ccPairs, driverThreshold = 0L).count())
    ccPairs.unpersist()
    // q52 scale path + the base-hash lever: same params, only the per-
    // shingle hash differs — the md5 digest is the dominant corpus-prep
    // cost, which is why production defaults to the xxhash base
    time(s"corpus prep (xxhash base, 16x8) over $nDocs docs")(
      graft.operators.CorpusPrep.prepare(docs, numPerms = 16, bands = 8).count())
    time(s"corpus prep (md5-portable base, 16x8) over $nDocs docs")(
      graft.operators.CorpusPrep.prepare(docs, numPerms = 16, bands = 8,
        base = HashBase.Md5).count())
    time(s"corpus prep (production 64x16 xxhash) over $nDocs docs")(
      graft.operators.CorpusPrep.prepare(docs).count())
    // the q71 capstone: 4 extra gates (PII/classifier/mixture/split) fused
    // into the same scan — must cost ~the same as the 4-gate core above
    time(s"corpus prep FULL stack (16x8 md5) over $nDocs docs")(
      graft.operators.CorpusPrep.prepareFull(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
        numPerms = 16, bands = 8, base = HashBase.Md5,
        classifierThreshold = -0.2,
        rates = Map("src0" -> 1.0, "src1" -> 0.75), defaultRate = 0.75).count())
    // ── the r5 additions (q55-q58), probed at the same docFactor ──
    // repetition signals: one scan, no shuffle — must stay linear in docs
    time(s"repetition signals over $nDocs docs")(
      graft.operators.TextAnalysis.repetitionStats(docs).count())
    // decontamination: the benchmark side (every 7th base doc, unscaled)
    // broadcasts; the corpus side must stay exchange-free however large
    val bench = Tables.documents(spark, sfDir)
      .where(pmod(col("doc_id"), lit(7)) === 0)
    val contaminationPlan = graft.operators.TextAnalysis.contamination(docs, bench)
    val contaminationExplained = contaminationPlan.queryExecution.executedPlan.toString
    val hashExchanges =
      contaminationExplained.linesIterator.count(_.contains("Exchange hashpartitioning"))
    time(s"decontamination over $nDocs docs (bench=unscaled/7)")(
      contaminationPlan.count())
    println(s"[scale] decontamination plan: $hashExchanges hash exchanges " +
      "(expect 2: the bench-side distinct under the broadcast build — benchmark-sized — " +
      "and the per-doc count agg of JOIN HITS; the corpus scan reaches the " +
      "BroadcastHashJoin with zero exchanges, so the corpus side never shuffles)")
    // vocab top-k: explode + hash agg + TakeOrderedAndProject — the top-k
    // must never become a full sort at scale
    val vocabPlan = graft.operators.TextAnalysis.vocab(docs)
    val hasTakeOrdered = vocabPlan.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject")
    time(s"vocab top-100 over $nDocs docs")(vocabPlan.count())
    println(s"[scale] vocab plan: TakeOrderedAndProject=$hasTakeOrdered (full Sort would be a regression)")
    // the r6 additions (q60-q63): all single-scan column ops — must stay
    // linear with zero shuffles
    time(s"PII scan over $nDocs docs")(
      graft.operators.TextAnalysis.piiScan(docs).count())
    time(s"PII redaction over $nDocs docs")(
      graft.operators.TextAnalysis.redactPii(docs)
        .write.format("noop").mode("overwrite").save())
    time(s"chunking 64/48 over $nDocs docs")(
      graft.operators.TextAnalysis.chunkDocs(docs).count())
    time(s"hash split over $nDocs docs")(
      graft.operators.TextAnalysis.hashSplit(docs).count())
    // the r6 widening (q64-q68, q70): shingle-agg, membership-broadcast,
    // line-DF-join, and pure-scan ops — none may grow super-linearly
    time(s"repeated 13-grams over $nDocs docs")(
      graft.operators.TextAnalysis.repeatedNgrams(docs).count())
    // q305: the q64 shingle agg + one shingle-key join; the cut and
    // reassembly are doc-local column exprs — must track repeatedNgrams.
    // Summed (not counted): under count() Catalyst ELIMINATES the
    // unique-key left join and the probe times an empty plan
    time(s"span-level dedup over $nDocs docs")(
      graft.operators.TextAnalysis.dedupSpans(docs)
        .agg(sum(col("n_kept"))).collect())
    // r11 hot-doc gate: a 100k-token doc whose EVERY 13-gram repeats (an
    // identical twin) — ~100k drop starts on one doc. The gap-slice cut
    // is O(len + drops); the r10 per-position coverage scan was
    // O(len · drops) ≈ 10^10 comparisons here and would hang this probe
    locally {
      val w = (1 to 100000).map(i => s"t${i % 50}").mkString(" ")
      val hot = spark.createDataFrame(
        Seq((1L, w), (2L, w), (3L, "completely different short text here")))
        .toDF("doc_id", "text")
      val r = time(s"span-level dedup, 100k-token identical twins (hot doc)")(
        graft.operators.TextAnalysis.dedupSpans(hot)
          .select(col("doc_id"), col("n_kept")).collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap)
      // doc 1 (first container) keeps everything; the twin is fully cut
      assert(r(1L) == 100000L && r(2L) == 0L,
        s"hot-doc span dedup wrong: $r")
    }
    // q306: 17 probe keys per (doc, band) — the multi-probe join's cost
    // must stay a small constant over the 4-band q48 path
    time(s"multi-probe simhash pairs (H<=6) over $nDocs docs")(
      Dedup.simhashPairsMultiProbe(docs, maxHamming = 6).count())
    time(s"OOV rate (top-1k vocab) over $nDocs docs")(
      graft.operators.TextAnalysis.oovRate(docs).count())
    val lw = graft.operators.TextAnalysis.tokens(lower(col("text")))
    val lined = docs.where(size(lw) > 0).select(col("doc_id"),
      array_join(
        transform(sequence(lit(0), floor((size(lw) - 1).cast("double") / 8).cast("int")),
          i => array_join(slice(lw, i * 8 + 1, lit(8)), " ")),
        "\n").as("text"))
    time(s"line dedup (8-token lines) over $nDocs docs")(
      graft.operators.TextAnalysis.dedupLines(lined).count())
    // the r6 scale hole reproduced on purpose: ONE boilerplate line in
    // 50% of docs. The broadcast path never shuffles the corpus on the
    // hot key; the hashed-key fallback still routes every copy of the
    // hot line to one reducer — the marginal gap between these two rows
    // is exactly what the broadcast default buys under maximal skew.
    val skewed = lined.withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("hot boiler line every other doc\n"), col("text")))
        .otherwise(col("text")))
    val skewBc = graft.operators.TextAnalysis.dedupLines(skewed)
    assert(skewBc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "skewed line dedup must broadcast the boiler side")
    time(s"line dedup SKEWED (hot line in 50% of $nDocs docs, broadcast)")(
      skewBc.count())
    time(s"line dedup SKEWED (hot line in 50% of $nDocs docs, hashed-key shuffle)")(
      graft.operators.TextAnalysis.dedupLines(skewed, broadcastBoiler = false).count())
    time(s"hashed classifier over $nDocs docs")(
      graft.operators.TextAnalysis.hashedClassifierScore(docs).count())
    time(s"mixture sample over $nDocs docs")(
      graft.operators.TextAnalysis.mixtureSample(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
        Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
        defaultRate = 0.1).count())
    time(s"split contamination over $nDocs docs")(
      graft.operators.TextAnalysis.splitContamination(docs).count())
    // q72/q73: the two-phase prefix sum's single-partition window must
    // stay on the bucket dim (nDocs/4096 rows), and the report's windows
    // on the sources x splits dim — both scan-bound, no corpus-wide sort
    time(s"pack plan over $nDocs docs")(
      graft.operators.TextAnalysis.packDocs(docs).count())
    time(s"composition report over $nDocs docs")(
      graft.operators.TextAnalysis.compositionReport(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))).count())
    time(s"token-budget draw over $nDocs docs")(
      graft.operators.TextAnalysis.tokenBudgetSample(docs, budgetTokens = 500000L).count())
    time(s"quality deciles over $nDocs docs")(
      graft.operators.Stats.quantileBuckets(
        docs.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityExpr(col("text")).as("quality")),
        valueCol = "quality", k = 10, bucketCol = "decile").count())
    time(s"pack sequences (512-token) over $nDocs docs")(
      graft.operators.TextAnalysis.packSequences(docs).count())
    time(s"ngram novelty over $nDocs docs")(
      graft.operators.TextAnalysis.ngramNovelty(docs).count())
    // q83/q84: both are explode + hash-agg + broadcast-model joins — the
    // token model (distinct vocab) is corpus-bounded, never row-bounded
    time(s"tf-idf top-5 over $nDocs docs")(
      graft.operators.TextAnalysis.tfidfTopK(docs, k = 5).count())
    time(s"unigram-LM surprisal over $nDocs docs")(
      graft.operators.TextAnalysis.lmScore(docs).count())
    // bigram LM (q101): the model is the bigram-TYPE dim (grows with the
    // corpus — deliberately NOT broadcast); the doc-stream join
    // co-partitions on the (prev, cur) key the model agg produced
    time(s"bigram-LM surprisal over $nDocs docs")(
      graft.operators.TextAnalysis.bigramLmScore(docs).count())
    time(s"PMI collocations (top-20, min 5) over $nDocs docs")(
      graft.operators.TextAnalysis.collocations(docs).count())
    time(s"language composition over $nDocs docs")(
      graft.operators.TextAnalysis.langComposition(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))).count())
    // q92/q93/q94: the curation compositions — cluster-argmax rides the
    // LSH pair cost, curriculum rides lmScore + counting cuts, and the
    // source cap is one scan + a per-source window (no global sort)
    // plan audit (the r6 driver bench showed q92 paying the q53 LSH
    // chain repeatedly): dupClusters must hand back a LINEAGE-CUT
    // relation — a LocalTableScan (driver union-find path) or a
    // checkpointed RDD scan (distributed path) — so the consumer join
    // can never re-execute the pair-generation subtree
    val pairs92 = graft.operators.Dedup.minhashLshPairs(docs, numPerms = 16,
      bands = 8, threshold = 0.2)
    val clusters92 = graft.operators.Dedup.dupClusters(pairs92)
    val cPlan = clusters92.queryExecution.executedPlan.toString
    assert(cPlan.contains("LocalTableScan") || cPlan.contains("ExistingRDD"),
      s"dupClusters output must be lineage-cut, got:\n$cPlan")
    time(s"best-of-cluster canonicalization over $nDocs docs")(
      graft.operators.Dedup.bestOfCluster(
        docs.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityExpr(col("text")).as("quality")),
        clusters92,
        scoreCol = "quality").count())
    time(s"curriculum phases over $nDocs docs")(
      graft.operators.Stats.quantileBuckets(
        graft.operators.TextAnalysis.lmScore(docs)
          .select(col("doc_id"), col("avg_nll")),
        valueCol = "avg_nll", k = 4, bucketCol = "phase").count())
    // the unbounded-measure curriculum path: avg_nll's distinct count
    // grows with the corpus, so at real scale the exact path would hit
    // the cardinality gate — the 1e-3-nat tick bounds the value dim at
    // range/tick (~10^4 cells) REGARDLESS of corpus size, and the gate
    // itself is now TakeOrdered-shaped (no single-partition window to
    // pay before a raise). Forced low cap proves the ticked path clears
    // a ceiling the exact path could not.
    time(s"curriculum phases (1e-3-nat tick, cap 5000) over $nDocs docs")(
      graft.operators.Stats.quantileBucketsTicked(
        graft.operators.TextAnalysis.lmScore(docs)
          .select(col("doc_id"), col("avg_nll")),
        valueCol = "avg_nll", k = 4, tick = 0.001, bucketCol = "phase",
        maxDistinct = 5000).count())
    time(s"per-source quality cap over $nDocs docs")(
      graft.operators.TextAnalysis.perSourceCap(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
        n = 20).count())
    time(s"dataset manifest over $nDocs docs")(
      graft.operators.TextAnalysis.datasetManifest(
        docs.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))))
        .count())
    // q111/q112/q110: one-scan report family — fused gate verdict,
    // per-class counters, langid argmax; aggregates land on bounded dims
    // (gates, sources, languages), so cost is scan-bound at any corpus
    val sourced = docs.withColumn("source",
      concat(lit("src"), pmod(col("doc_id"), lit(20))))
    time(s"gate funnel over $nDocs docs")(
      graft.operators.TextAnalysis.gateFunnel(sourced,
        classifierThreshold = 0.0,
        rates = Map("src0" -> 1.0, "src1" -> 0.75), defaultRate = 0.1).count())
    time(s"char-class profile over $nDocs docs")(
      graft.operators.TextAnalysis.charClassProfile(sourced).count())
    time(s"tokenizer fertility over $nDocs docs")(
      graft.operators.TextAnalysis.tokenizerFertility(docs).count())
    // q107/q114: corpus hash agg → TakeOrdered top-k heap → k-row window;
    // the only window in either plan touches ≤ k rows by construction
    time(s"vocab coverage (top-100) over $nDocs docs")(
      graft.operators.TextAnalysis.vocabCoverage(docs).count())
    time(s"zipf slope (top-100) over $nDocs docs")(
      graft.operators.TextAnalysis.zipfSlope(docs).count())
    // q115: the quantile window runs on the (source x 4dp-quality) grid,
    // <= 10001 cells/source regardless of corpus size
    time(s"source quality quantiles over $nDocs docs")(
      graft.operators.TextAnalysis.sourceQualityQuantiles(sourced).count())
    // q113 on the 50%-hot-line corpus: df is distinct-first (the (line,
    // doc) distinct shuffles on both columns), so the hot key never
    // routes whole to one reducer; top-k is a TakeOrdered heap
    time(s"boilerplate top-k SKEWED (hot line in 50% of $nDocs docs)")(
      graft.operators.TextAnalysis.topBoilerplateLines(skewed).count())
    // q106: the containment join inherits jaccard's inverted-index df cap
    // (pair blowup bounded by df^2 per shingle), only the scoring differs
    time(s"containment pairs over $nDocs docs")(
      graft.operators.Dedup.containmentPairs(docs).count())
    // q108: matrix joins move the PAIR set (<< corpus), never documents
    time(s"source overlap matrix over $nDocs docs")(
      graft.operators.Dedup.sourceOverlapMatrix(sourced, pairs92).count())
    // q116: train-vocab model join + OOV coalesce — same token-key join
    // shape as the unigram LM, plus the split predicate as a pure column
    time(s"held-out surprisal over $nDocs docs")(
      graft.operators.TextAnalysis.heldOutSurprisal(docs).count())
    // q119: per-cell rank must be pushed map-side (WindowGroupLimit) —
    // each reducer sees <= n·maps rows, never a stratum's population
    val draw = graft.operators.TextAnalysis.stratifiedEvalDraw(sourced, n = 5)
    assert(draw.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "stratified draw must push the per-cell rank limit map-side")
    time(s"stratified eval draw over $nDocs docs")(draw.count())
    // q118: one id-key full-outer join; fingerprints in the scan
    // projection so text never shuffles
    time(s"corpus epoch diff over $nDocs docs")(
      graft.operators.TextAnalysis.corpusEpochDiff(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0), docs).count())
    // q120: combination arithmetic on (fingerprint, source) cells — a
    // fingerprint in half the corpus costs one multiply, not n² pairs
    time(s"exact overlap matrix over $nDocs docs (50% one fingerprint)")(
      graft.operators.Dedup.exactOverlapMatrix(
        sourced.withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0, lit("hot dup text"))
            .otherwise(col("text")))).count())
    // q123: the A-ES draw must plan as TakeOrderedAndProject — per-
    // partition heaps + one bounded driver merge, never a global sort
    val draw123 = graft.operators.TextAnalysis.weightedSample(
      sourced.withColumn("n_chars", length(col("text")).cast("long")), n = 200)
    assert(draw123.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "weighted sample must plan a TakeOrdered heap, not a global sort")
    time(s"weighted sample (top-200) over $nDocs docs")(draw123.count())
    // q125: two corpus scans + two BOUNDED tick grids (quality ≤ 10001
    // cells, surprisal range/1e-3 cells at any corpus size) cumulated
    // driver-side and broadcast back — no Window node anywhere
    val blend125 = graft.operators.TextAnalysis.qualityBlend(docs)
    assert(!blend125.queryExecution.executedPlan.toString.contains("Window"),
      "quality blend must not plan a window")
    time(s"quality blend over $nDocs docs")(blend125.count())
    // q126: df-capped inverted fingerprint index — the hot span planted
    // in 50% of the corpus exceeds the cap, so its fingerprints drop
    // BEFORE pairing and cost zero pair rows (same discipline that
    // keeps jaccard/containment sub-quadratic)
    time(s"winnow overlap pairs over $nDocs docs (hot span in 50%)")(
      graft.operators.TextAnalysis.winnowOverlapPairs(skewed, minShared = 3,
        maxDf = 20).count())
    // q124: one fingerprint aggregate + a bounded (sources × 3) report
    // on top of the LINEAGE-CUT cluster labels — must track
    // bestOfCluster's marginal cost, never re-pay the LSH chain
    time(s"removal reasons over $nDocs docs")(
      graft.operators.Dedup.removalReasonReport(sourced, clusters92).count())
    // q133: one token scan + the (sources × k) broadcast grid — KL cost
    // must track the vocab top-k probe, never the corpus pair-wise
    time(s"source KL divergence over $nDocs docs")(
      graft.operators.TextAnalysis.sourceTokenDivergence(sourced).count())
    // q134: pair-relation degree agg + corpus left join — bounded by
    // max degree, rides the already-materialized q92 pair chain
    time(s"dup degree histogram over $nDocs docs")(
      graft.operators.Dedup.dupDegreeHistogram(docs, pairs92).count())
    // q135: one scan + per-source integer-sum aggregate
    time(s"length-quality correlation over $nDocs docs")(
      graft.operators.TextAnalysis.lengthQualityCorrelation(sourced).count())
    // q136: (doc, char) explode + two hash aggs — linear, the heavy doc
    // spreads over its char keys instead of one reducer
    time(s"char entropy over $nDocs docs")(
      graft.operators.TextAnalysis.charEntropy(docs).count())
    // q137: pure length arithmetic, one scan, hits-only output
    time(s"corpus grep over $nDocs docs")(
      graft.operators.TextAnalysis.corpusGrep(docs, "spark").count())
    // q138: one token aggregate + a bounded driver water-fill
    time(s"budget allocation over $nDocs docs")(
      graft.operators.TextAnalysis.budgetAllocation(sourced,
        budget = 1000000L).count())
    // q141: counting-cut buckets + per-bucket integer waste — rides
    // quantileBuckets' TakeOrdered shape, no global sort
    time(s"padding efficiency over $nDocs docs")(
      graft.operators.TextAnalysis.paddingEfficiency(docs).count())
    // q143: one scan, one per-source aggregate
    time(s"id continuity over $nDocs docs")(
      graft.operators.TextAnalysis.idContinuity(sourced).count())
    // q144: ONE pass expands the grouping sets map-side — never a
    // re-scan per rollup level
    time(s"rollup composition over $nDocs docs")(
      sourced.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(5))))
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)), sum(length(col("text")))).count())
    // q145: codegen'd normalize chain + md5-keyed group — uniform shuffle
    // key by construction, count/min/max combine map-side
    time(s"normalized dedup groups over $nDocs docs")(
      graft.operators.TextAnalysis.normalizedDedupGroups(docs).count())
    // q146: counting grid + TakeOrdered cuts + ONE clamp agg — the
    // quantileBuckets discipline, loud raise on unbounded measures
    time(s"winsorized means over $nDocs docs")(
      graft.operators.Stats.winsorizedMeans(
        sourced.withColumn("n_chars", length(col("text")).cast("long")),
        "source", "n_chars").count())
    // q149: same scan shape as normalized dedup + a distinct-count —
    // never a pair join
    time(s"prefix dup groups over $nDocs docs")(
      graft.operators.TextAnalysis.prefixDupGroups(docs).count())
    // q150: the DISTRIBUTED total order — 256 range buckets each sort
    // ~n/256 rows; the only single-partition window is the 256-row
    // offset cumsum
    time(s"order manifest over $nDocs docs")(
      graft.operators.TextAnalysis.orderManifest(docs).count())
    // q152: two per-key counting grids + broadcast medians — windows
    // run over cells, never rows
    time(s"MAD outliers over $nDocs docs")(
      graft.operators.Stats.madOutliers(
        sourced.withColumn("n_chars", length(col("text")).cast("long")),
        "source", "n_chars").count())
    // q153: pure codegen'd bit interleave + one hash agg — scan-bound
    time(s"z-order layout report over $nDocs docs")(
      graft.operators.Layout.zOrderLayoutReport(docs).count())
    // q157: pair explosion over the VOCABULARY, not the token stream —
    // cost tracks distinct-word count, not corpus size
    time(s"BPE pair counts over $nDocs docs")(
      graft.operators.TextAnalysis.bpePairCounts(docs).count())
    // q201: one token scan; only query-term hits shuffle; df and corpus
    // stats broadcast
    time(s"BM25 top-20 over $nDocs docs")(
      graft.operators.TextAnalysis.bm25TopK(docs,
        query = Seq("join", "filter", "merge")).count())
    // q156: 2 matvec rounds on the cached LSH edge list — per-round cost
    // must track the cluster-labeling probe, never the corpus
    time(s"pagerank (2 rounds) over $nDocs docs")(
      Dedup.pageRank(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2)).count())
    // q161: sample ranked BEFORE collecting — a corpus-wide boilerplate
    // cluster feeds the string agg only `sample` rows
    time(s"cluster manifest (hot cluster = half the corpus)")(
      Dedup.clusterManifest(
        docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(0L))
            .otherwise(col("doc_id")).as("cluster_id"))).count())
    // q167: per-pair O(prefix²) — cost tracks the candidate count from
    // the LSH stage, never the corpus
    time(s"edit-distance verify over LSH candidates ($nDocs docs)")(
      Dedup.editDistanceVerify(docs,
        Dedup.minhashLshPairs(docs, numPerms = 16, bands = 8,
          threshold = 0.2)).count())
    // q170: per-source top-k must push the rank heap map-side — each
    // reducer sees ≤ k·maps rows, never a source's population
    val topPer = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(length(col("text")).desc, col("doc_id").asc)
      sourced.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
    }
    assert(topPer.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-source top-k must push the rank limit map-side")
    time(s"per-source top-3 over $nDocs docs")(topPer.count())
    // q204: two TakeOrdered heaps + a k-row full-outer — fusion cost must
    // track the BM25 probe, never exceed it
    time(s"rrf fusion over $nDocs docs")(
      graft.operators.TextAnalysis.rrfRetrieval(docs,
        query = Seq("join", "filter", "merge")).count())
    // q207: one scan + bounded source agg — charClassProfile's cost class
    time(s"readability profile over $nDocs docs")(
      graft.operators.TextAnalysis.readabilityProfile(sourced).count())
    // q246: one classifier+quality scan, then the ≤2001-cell milli-bin
    // grid — cost must track the q67 scan, not grow with corpus
    time(s"classifier AUC over $nDocs docs")(
      graft.operators.TextAnalysis.classifierAuc(docs).count())
    // q247: one quality scan + bounded counting grids (≤10001 cells per
    // source) × the 9-row decile dim
    time(s"quantile norm table over $nDocs docs")(
      graft.operators.TextAnalysis.quantileNormTable(sourced).count())
    // q251: one distinct-count agg per candidate over the docs dim
    time(s"fd audit over $nDocs docs")(
      graft.operators.Stats.fdAudit(sourced,
        Seq(("doc_src", "doc_id", "source"), ("src_text", "source", "text")))
        .count())
    // q255: vocab-dim aggregates + WindowGroupLimit top-k per source
    time(s"signature terms over $nDocs docs")(
      graft.operators.TextAnalysis.sourceSignatureTerms(sourced).count())
    // q259: one quality scan + the fixed (sources × 11 × 2) grid
    time(s"psi drift over $nDocs docs")(
      graft.operators.TextAnalysis.psiDrift(sourced,
        pmod(col("doc_id"), lit(2)) === 0).count())
    // q267: (source × distinct token) relation; per-token fan-out ≤
    // sources²
    time(s"vocab overlap matrix over $nDocs docs")(
      graft.operators.TextAnalysis.vocabOverlapMatrix(sourced).count())
    // q268: bigram agg + prefix gate + WindowGroupLimit top-k
    time(s"bigram autocomplete over $nDocs docs")(
      graft.operators.TextAnalysis.bigramAutocomplete(docs).count())
    // q279: cross-multiplied KS over the bounded 4dp-quality grid
    time(s"ks test over $nDocs docs")(
      graft.operators.Stats.ksTest(
        docs.select(col("doc_id"),
          graft.operators.TextAnalysis.qualityExpr(col("text")).as("q")),
        "q", pmod(col("doc_id"), lit(2)) === 0).count())
    // q212: sketch = (d × w) bounded relation built from the vocab agg;
    // probe side is k rows — cost must track the vocab top-k probe
    time(s"cms heavy-hitter audit over $nDocs docs")(
      graft.operators.Sketch.cmsHeavyHitterAudit(docs).count())
    // q210: old side collapses to distinct md5 prefixes (uniform key);
    // the join shuffles fingerprints, never text
    time(s"cross-epoch prefix dedup over $nDocs docs")(
      graft.operators.TextAnalysis.crossEpochPrefixDedup(
        sourced.where(pmod(col("doc_id"), lit(10)) < 8),
        sourced.where(pmod(col("doc_id"), lit(10)) >= 8)).count())
    // q217: dominance via running min over the bounded quality grid —
    // cost must track the (quality, tokens) cell agg, never O(n²)
    time(s"pareto frontier over $nDocs docs")(
      graft.operators.Stats.paretoFrontier(
        graft.operators.TextAnalysis.qualityScore(docs),
        "quality", "n_tokens").count())
    // q220 production path: exact-set collapse + pigeonhole bucket
    // agreement — candidate volume tracks bucket-subset collisions,
    // not single-token postings
    time(s"pigeonhole exact Jaccard join over $nDocs docs")(
      Dedup.exactJaccardPairs(docs, 19, 20).count())
    // q220 adversarial: tokens shared by 100% of docs land in every
    // doc's PREFIX, but every cross-doc pair fails the positional filter
    // (each doc: 5 unique fillers ranked 1-5 by df, then 7 universal
    // commons; prefix at θ=1/2 covers ranks 1-7, so two commons per doc
    // post with slack ≤ 6, and 1 + min slack = 7 < minOverlap
    // ceil(24/3) = 8 kills every candidate — true Jaccard is ≤ 7/17).
    // The r7 shape still materialized ≈ N²/chunk rows on BOTH candidate-
    // join inputs for this corpus before filtering anything; the size-
    // ordered chunk STATS carry the same positional bound per chunk, so
    // every hot chunk pair prunes wholesale and ZERO candidate rows are
    // ever materialized. Probed at two sizes: exact-zero candidates and
    // near-linear wall time, at a scale (N²/512 ≈ 20M rows) where the
    // old shape was distinctly super-linear.
    locally {
      def hotCorpus(n: Int) = spark.range(n).select(col("id").as("doc_id"),
        concat(
          array_join(transform(sequence(lit(0L), lit(4L)),
            j => concat(lit("w"), col("id") * 8 + j)), " "),
          lit(" c1x c2x c3x c4x c5x c6x c7x")).as("text"))
      def baseOf(n: Int) = hotCorpus(n).select(col("doc_id"),
        array_sort(array_distinct(graft.operators.TextAnalysis.tokens(
          graft.operators.TextAnalysis.asciiLower(col("text"))))).as("__toks"))
      def candRows(n: Int): Long =
        Dedup.prefixFilterCandidates(baseOf(n), 1, 2).count()
      val (nA, nB) = (50000, 100000)
      val t0 = System.nanoTime()
      val cA = time(s"prefix-filter CANDIDATES, 7 tokens in 100% of $nA docs")(candRows(nA))
      val tA = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val cB = time(s"prefix-filter CANDIDATES, 7 tokens in 100% of $nB docs")(candRows(nB))
      val tB = (System.nanoTime() - t1) / 1e9
      println(f"[scale] q220 hot-token probe: candidates $cA%d/$cB%d, ${tB / tA}%.2fx time at 2x docs")
      assert(cA == 0 && cB == 0,
        s"positional chunk pruning regressed: $cA/$cB candidate rows " +
          "materialized on a corpus where every pair fails the positional filter")
      // timing is advisory only — a loaded/throttled host can flake the
      // ratio even when pruning is healthy; the exact-zero candidate
      // assert above is the deterministic gate
      if (tB / tA >= 3.5)
        println(f"[scale] WARNING: hot-token candidate time ratio " +
          f"${tB / tA}%.2fx at 2x docs (advisory; zero-candidate assert passed)")
      // deterministic PLAN-SHAPE gate (r9 advice): a regression that
      // re-inflates the candidate-join INPUTS keeps post-join
      // candidates at zero while time goes super-linear — the feasible
      // chunk-pair relation is the join-input bound. On this corpus the
      // only survivors are the SINGLETON self-chunks of each doc's 5
      // unique filler tokens (df=1 posting lists; their one-member
      // "pair" dies at the da<db row filter, never in chunk stats), so
      // the relation is EXACTLY 5 rows per doc and linear by
      // construction; every chunk pair of the 7 all-docs-hot commons —
      // the N²/chunk² quadratic threat, cross-chunk ones first — must
      // prune wholesale under the chunk-level positional bound
      def cpRelation(n: Int) = Dedup.prefixChunkPairs(
        ChunkedJoin.chunkIds(Dedup.prefixPostings(baseOf(n), 1, 2), Seq("tok"), Dedup.bySize),
        1, 2)
      val cpA = time(s"prefix-filter feasible CHUNK PAIRS, $nA hot docs")(
        cpRelation(nA).count())
      val cpB = time(s"prefix-filter feasible CHUNK PAIRS, $nB hot docs")(
        cpRelation(nB).count())
      val cpCross = cpRelation(nB).where(col("clo") =!= col("chi")).count()
      assert(cpCross == 0,
        s"chunk-pair wholesale pruning regressed: $cpCross CROSS-chunk " +
          "feasible pairs on a corpus where the positional bound kills every " +
          "hot-token chunk pair — the candidate join would re-inflate " +
          "toward N²/chunk² input rows")
      assert(cpA == 5L * nA && cpB == 5L * nB,
        s"feasible chunk-pair relation no longer linear-by-construction: " +
          s"$cpA/$cpB rows vs the ${5L * nA}/${5L * nB} singleton " +
          "self-chunks the unique fillers contribute")
    }
    // q220 pigeonhole worst-case probe: UNIFORM-size docs over a fully
    // SHARED vocabulary (each doc = 50 of 200 tokens, hash-selected per
    // doc) — every token is hot (df ≈ n/4, no rare end for a prefix to
    // ride), every size pair is inside the θ window, so the df-ordered
    // prefix scheme would candidate ~n²·(prefix/50)² pairs here. The
    // pigeonhole route keys on (bucket, token-subset) agreement with
    // agree ≥ m−k(sa,sb): a candidate pair needs ≥ 3 of its 5 buckets
    // IDENTICAL, i.e. ≤ k=2 differing tokens confined to ≤ 2 buckets —
    // random 50-of-200 subsets differ in ~75 tokens, so candidate
    // volume is exactly zero while signature build and join stay
    // linear in docs. Deterministic corpus (xxhash64) → exact asserts.
    locally {
      def uniformCorpus(n: Int) = spark.range(n).select(col("id").as("doc_id"),
        array_join(transform(
          slice(array_sort(transform(sequence(lit(0), lit(199)),
            j => struct(
              xxhash64(concat(col("id").cast("string"), lit("#"),
                j.cast("string"))).as("h"),
              concat(lit("v"), j.cast("string")).as("w")))), 1, 50),
          s => s.getField("w")), " ").as("text"))
      def baseOf(n: Int) = uniformCorpus(n).select(col("doc_id"),
        array_sort(array_distinct(graft.operators.TextAnalysis.tokens(
          graft.operators.TextAnalysis.asciiLower(col("text"))))).as("__toks"))
        .withColumn("sz", size(col("__toks")).cast("long"))
      val (nA, nB) = (50000, 100000)
      // production route for this corpus (szmax=50 → kmax=2 → m=5,
      // C(5,2)=10 masked keys, 3-wise agreement)
      val t0 = System.nanoTime()
      val cA = time(s"masked-sig CANDIDATES, shared 200-vocab, $nA uniform docs")(
        Dedup.maskedSigCandidates(baseOf(nA), 19, 20, 5, 2).count())
      val tA = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val cB = time(s"masked-sig CANDIDATES, shared 200-vocab, $nB uniform docs")(
        Dedup.maskedSigCandidates(baseOf(nB), 19, 20, 5, 2).count())
      val tB = (System.nanoTime() - t1) / 1e9
      println(f"[scale] q220 masked-sig probe: candidates $cA%d/$cB%d, ${tB / tA}%.2fx time at 2x docs")
      assert(cA == 0 && cB == 0,
        s"masked-sig join regressed: $cA/$cB candidates on a " +
          "shared-vocabulary corpus where every pair differs in ~75 tokens")
      // middle route (single-bucket agreement + count bound) probed at
      // the same sizes — also exactly zero here
      val cP = time(s"pigeonhole CANDIDATES, shared 200-vocab, $nA uniform docs")(
        Dedup.pigeonholeCandidates(baseOf(nA), 19, 20, 5).count())
      assert(cP == 0,
        s"pigeonhole agree-count filter regressed: $cP candidates on a " +
          "shared-vocabulary corpus where every pair differs in ~75 tokens")
      if (tB / tA >= 3.5)
        println(f"[scale] WARNING: masked-sig candidate time ratio " +
          f"${tB / tA}%.2fx at 2x docs (advisory; zero-candidate assert passed)")
    }
    // r10 adversarial crowd probes: a key shared by a whole crowd —
    // flat-color/letterboxed images posting identical pHash bands,
    // boilerplate templates posting identical SimHash bands, 10k
    // re-posts of one page collapsing to one gid — must square across
    // chunk-pair tasks, not inside ONE join task. Both probes assert
    // exact pair counts (chunking is a physical change only) AND that
    // the pair-producing join spreads over many output partitions (the
    // pre-chunking shapes concentrated on ≤ 4 / exactly 1 key).
    locally {
      val nCrowd = 10000L
      val expect = nCrowd * (nCrowd - 1) / 2
      val parts = spark.sessionState.conf.numShufflePartitions
      // spread floor: the chunk grid hashes into numShufflePartitions, so
      // on a tiny session the assert can't demand 10 (the r10 constant
      // turned an environment property into a hard failure)
      val minSpread = math.min(10, parts)
      // identical crowd values via NON-FOLDABLE expressions (pmod(id,1)=0
      // always): a lit() key constant-folds INTO the repartition's
      // partitioning expression (hashpartitioning(<const>, cid)), which
      // EnsureRequirements then can't match to the join's required
      // hashpartitioning(key, cid) — the probe would re-exchange through
      // a coalescible shuffle and measure an artifact of its own fixture.
      // Production hot keys are real columns with skewed VALUES, which is
      // what these expressions model.
      def hotConst(v: Long) = pmod(col("id"), lit(1L)) + lit(v)
      // q48/q302/q304 shared join: 10k identical 64-bit sketches (the
      // sketch-level image/text crowd; identical inputs give identical
      // sketches, so probing below the decode loses nothing)
      val crowd = spark.range(nCrowd).select(col("id"),
        hotConst(0xABCD1234L).as("lo"), hotConst(0x0F1E2D3CL).as("hi"))
      val byPart = time(s"banded-Hamming pairs over a $nCrowd-sketch identical crowd")(
        Dedup.bandedHamming64PairsRaw(crowd, 3)
          .groupBy(spark_partition_id().as("p"))
          .agg(count(lit(1)).as("n")).collect())
      def spread(label: String, ns: Seq[Long]): Unit =
        println(f"[scale] $label spread: ${ns.length} partitions, " +
          f"max share ${ns.max.toDouble / ns.sum * 100}%.1f%%")
      val rawTotal = byPart.map(_.getLong(1)).sum
      spread("banded crowd", byPart.map(_.getLong(1)).toSeq)
      assert(rawTotal == 4 * expect, // every pair meets in all 4 bands
        s"banded crowd completeness regressed: $rawTotal raw rows vs ${4 * expect}")
      assert(byPart.length >= minSpread,
        s"banded crowd work concentrated on ${byPart.length} partitions — " +
          "the chunk-pair spread regressed toward the flat (band, key) join")
      assert(Dedup.bandedHamming64Pairs(crowd, 3).count() == expect,
        "banded crowd pair dedup regressed")
      // q220 within-family path: 10k identical documents = one gid
      val famDocs = spark.range(nCrowd).select(col("id").as("doc_id"),
        lit("the very same page text re posted ten thousand times").as("text"))
      val famParts = time(s"exact-Jaccard pairs over a $nCrowd-member identical family")(
        Dedup.exactJaccardPairs(famDocs, 19, 20)
          .groupBy(spark_partition_id().as("p"))
          .agg(count(lit(1)).as("n")).collect())
      spread("mega-family", famParts.map(_.getLong(1)).toSeq)
      assert(famParts.map(_.getLong(1)).sum == expect,
        s"mega-family pair count regressed: ${famParts.map(_.getLong(1)).sum} vs $expect")
      assert(famParts.length >= minSpread,
        s"mega-family pair work concentrated on ${famParts.length} partitions — " +
          "the (gid, chunk) spread regressed toward the raw-gid join")
      // q220 candidate machinery: a NEAR-identical family (each doc one
      // token off a shared set) is NOT collapsed by the exact-set gid —
      // its masked/pigeonhole signatures agree on one hot posting key
      // and the candidate join must emit across chunk pairs, not one
      // task. Probed directly on the shared chunked self-join with a
      // 10k-posting hot key of uniform size (every chunk pair survives
      // the θ window): one emission per pair, spread asserted.
      val posts = spark.range(nCrowd).select(
        (pmod(col("id"), lit(1L)) + lit(0)).cast("int").as("k1"),
        hotConst(42L).as("k2"), col("id").as("doc_id"), lit(40L).as("sz"))
      val candParts = time(s"chunked candidate join over a $nCrowd-posting hot key")(
        Dedup.chunkedKeyedPairs(posts, 19, 20)
          .groupBy(spark_partition_id().as("p"))
          .agg(count(lit(1)).as("n")).collect())
      spread("hot-key candidate join", candParts.map(_.getLong(1)).toSeq)
      assert(candParts.map(_.getLong(1)).sum == expect,
        s"hot-key candidate count regressed: ${candParts.map(_.getLong(1)).sum} vs $expect")
      assert(candParts.length >= minSpread,
        s"hot-key candidate emission concentrated on ${candParts.length} " +
          "partitions — the (key, chunk) repartition regressed toward AQE folding")
    }
    // q221: one fused scan (score + gate) + a ≤ ~200-key agg
    time(s"classifier calibration over $nDocs docs")(
      graft.operators.TextAnalysis.scoreCalibration(docs).count())
    // q287/q289: one token-df hash agg (+ a distinct presence relation /
    // a TakeOrdered top-k) — pure map-side-combine shapes
    time(s"hapax census over $nDocs docs")(
      graft.operators.TextAnalysis.hapaxCensus(sourced).count())
    // q298/q299: one bounded hash agg over the (output-sized) exact
    // pair graph — cost must track exactJaccardPairs itself
    time(s"jaccard band census over $nDocs docs")(
      Dedup.jaccardBandCensus(docs, 19, 20).count())
    time(s"dup degree census over $nDocs docs")(
      Dedup.dupDegreeCensus(docs, 19, 20).count())
    // q300: shingle first-seen is one min-agg + one equi-join; the
    // band rollup is a ≤ 10-key agg
    time(s"arrival novelty decay over $nDocs docs")(
      graft.operators.TextAnalysis.arrivalNoveltyDecay(docs).count())
    // q301/q302: bounded rollups over the LSH-calibration / simhash
    // pair relations — cost must track the pair machinery itself
    time(s"minhash error census over $nDocs docs")(
      Dedup.minhashErrorCensus(docs).count())
    time(s"simhash hamming census over $nDocs docs")(
      Dedup.simhashHammingCensus(docs).count())
    // q303: one shingle-df hash agg + a ≤ ~40-key rollup
    time(s"shingle df spectrum over $nDocs docs")(
      Dedup.shingleDfSpectrum(docs).count())
    // q304: PNG encode+decode is embarrassingly parallel mapPartitions;
    // the pair join is the shared 4×16 banded-Hamming machinery, so
    // candidate volume is band-collision-bounded like the simhash path
    time(s"phash near-dup pairs over $nDocs docs")(
      graft.sources.Multimodal.phashNearDupPairs(
        graft.sources.Multimodal.fromDocuments(docs)).count())
    time(s"token dispersion over $nDocs docs")(
      graft.operators.TextAnalysis.tokenDispersion(docs).count())
    // q288: fingerprint scan + per-source distinct count
    time(s"dup inflation over $nDocs docs")(
      graft.operators.Dedup.dupInflation(sourced).count())
    // q291: bounded per-source agg + a strata-dim remainder window
    time(s"neyman allocation over $nDocs docs")(
      graft.operators.Stats.neymanAllocation(
        sourced.select(col("source").as("k"),
          floor(graft.operators.TextAnalysis.qualityExpr(col("text")) * 10000
            + 0.5).cast("long").as("t")),
        "k", "t", budget = 10000L).count())
    // q293: min-doc-per-token agg + a log₂(n)-row checkpoint join — the
    // no-running-distinct claim is exactly what this times
    time(s"heaps-law curve over $nDocs docs")(
      graft.operators.TextAnalysis.heapsLawCurve(docs).count())
    // q292: rides the verified-LSH candidate chain (probed at q103) +
    // two windows over candidate rows only
    time(s"mutual best match over $nDocs docs")(
      graft.operators.Dedup.mutualBestMatch(docs).count())
    // q295: ONE signature pass + a hash agg per band config — candidate
    // volume from bucket sizes, zero pair materialization by design
    time(s"lsh design table over $nDocs docs")(
      graft.operators.Dedup.lshDesignTable(docs).count())
    // q296: per-source integer log-tick moments, one bounded agg
    time(s"lognormal fit over $nDocs docs")(
      graft.operators.Stats.lognormalFit(
        sourced.select(col("source").as("k"), length(col("text")).as("v")),
        "k", "v").count())
    // q225: trigram transform + TakeOrdered top-1 + broadcast semi-join
    time(s"phrase match over $nDocs docs")(
      graft.operators.TextAnalysis.phraseMatchTopTrigram(docs).count())
    docs.unpersist()

    // cap at the embedding dim: each replica flips a DISTINCT component, so
    // no replica pair is ever identical (a wrap would duplicate vectors and
    // quadratically inflate the very pair counts being timed)
    val vecFactor = math.min(64, math.max(4, factor / 5))
    val embs = Tables.embeddings(spark, sfDir)
      .withColumn("rep", explode(sequence(lit(0), lit(vecFactor - 1))))
      .select((col("vec_id") * vecFactor + col("rep")).as("vec_id"),
        // per-replica sign flip on one component: replicas stay similar but
        // not identical, so candidate counts scale realistically
        transform(col("embedding"), (x, i) =>
          when(i === col("rep"), -x).otherwise(x)).as("embedding"))
      .repartition(cpus.toInt).cache()
    val nVecs = embs.count()
    time(s"blocked exact cosine pairs over $nVecs vectors")(
      Similarity.cosineDupPairsBlocked(embs, threshold = 0.9,
        blocks = math.max(8, vecFactor)).count())
    time(s"LSH candidate+verify cosine pairs over $nVecs vectors")(
      Similarity.cosineDupPairsLsh(embs, threshold = 0.9).count())
    time(s"LSH ANN top-k over $nVecs vectors")(
      Similarity.annLshTopK(embs, pmod(col("vec_id"), lit(1000)) === 0).count())
    // int8 quantization (q57): pure column exprs, posexplode fan-out — must
    // stay linear in vectors x dim with zero shuffles
    time(s"int8 quantization over $nVecs vectors")(
      Similarity.quantizeInt8(embs).count())
    // semantic dedup (q69): per-cluster pair volume Σ n_c² — k grows with
    // the corpus in production; 64 cells here keeps cells ~corpus/64
    time(s"semantic dedup (64 cells) over $nVecs vectors")(
      Similarity.semanticDedup(embs, k = 64, threshold = 0.9).count())
    // IVF cell report (q102): one scan + one k-row agg — must track the
    // assignment cost of semantic dedup, never exceed it
    time(s"IVF cell report (64 cells) over $nVecs vectors")(
      Similarity.ivfCellReport(embs, k = 64).count())
    // hard negatives (q89): same broadcast scorer as brute kNN plus the
    // band filter — cost must track the kNN probe, not exceed it
    time(s"hard negatives over $nVecs vectors")(
      Similarity.hardNegatives(embs, pmod(col("vec_id"), lit(1000)) === 0,
        k = 10, lo = 0.05, hi = 0.6).count())
    // q109: one scan + (dim x bucket) agg — the audit must stay the
    // cheapest probe in this section at any vector count
    time(s"embedding audit over $nVecs vectors")(
      Similarity.embeddingAudit(embs).count())
    // q121: ground truth = the broadcast brute scorer on the bounded
    // query sample, probe = the production IVF path — calibration cost
    // must track brute kNN + the probe, both of which scale
    time(s"ANN recall calibration over $nVecs vectors")(
      Similarity.annRecallReport(embs, pmod(col("vec_id"), lit(1000)) === 0,
        nLists = 64, nProbe = 8).count())
    // q122: one full-corpus Lloyd pass — argmax assignment fused into
    // the scan + a (k × dim)-row aggregate; must track ivfCellReport's
    // cost (identical assignment, bigger but still bounded agg)
    time(s"k-means refine step (64 cells) over $nVecs vectors")(
      Similarity.kmeansRefineStep(embs, k = 64).count())
    // q127: one scan + a dims-row aggregate with decimal square-sums —
    // must stay in embeddingAudit's cost class
    time(s"embedding moments over $nVecs vectors")(
      Similarity.embeddingMoments(embs).count())
    // q128: each round is one scan + a dims-row aggregate (the
    // kmeansRefine shape with a vector for a codebook); two rounds
    time(s"power iteration (2 rounds) over $nVecs vectors")(
      Similarity.powerIterationTop(embs, iters = 2).count())
    // q117: component hash agg -> (labels x dims) centroid relation;
    // pair joins touch centroids only, never vectors
    time(s"label centroid matrix over $nVecs vectors")(
      Similarity.labelCentroidMatrix(
        embs.withColumn("label", pmod(col("vec_id"), lit(16)).cast("int"))).count())
    // q252: same component-agg shape, then a (labels × dims) half join
    time(s"embedding drift over $nVecs vectors")(
      Similarity.embeddingDrift(
        embs.withColumn("label", pmod(col("vec_id"), lit(16)).cast("int")),
        pmod(col("vec_id"), lit(2)) === 0).count())
    // q199: brute scoring against the BOUNDED centroid set — vectors ×
    // labels × dims, far under brute kNN's n² pairs
    time(s"nearest-centroid accuracy over $nVecs vectors")(
      Similarity.nearestCentroidAccuracy(
        embs.withColumn("label", pmod(col("vec_id"), lit(16)).cast("int")))
        .count())
    // q205: pure column exprs + posexplode — the quantizeInt8 cost class
    time(s"int8 reconstruction error over $nVecs vectors")(
      Similarity.reconstructionError(embs).count())
    // q206: two brute passes over the bounded query sample — must stay
    // within 2× the brute kNN probe
    time(s"dim-slice recall over $nVecs vectors")(
      Similarity.dimSliceRecall(embs,
        pmod(col("vec_id"), lit(1000)) === 0).count())
    // q213: pair sample via id-offset equi-join — ≤ n pairs, no cross
    time(s"cosine pair histogram over $nVecs vectors")(
      Similarity.cosinePairHistogram(embs, offset = nVecs / 2).count())
    embs.unpersist()
    spark.stop()
  }
}
