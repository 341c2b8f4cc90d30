package graft

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every registry entry on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced with a `noop`-format write, not `count()`: count
  * lets Catalyst prune every projection (an md5/minhash column would never
  * be computed), which would understate the real work. A warmup query
  * amortizes session/codegen startup out of the first measurement.
  *
  * Robustness against machine load: the timed phase runs
  * SPARK_GRAFT_BENCH_ITERS full passes (default 3) and reports the
  * per-query MEDIAN, so one loaded-box pass cannot become the number of
  * record (the r2 bench recorded an 11x outlier on a plain aggregate that
  * no plan change explained). Per-pass totals are included in the JSON so
  * run-to-run spread stays visible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the cores this JVM may use and the parallelism Spark ran with,
    // recorded beside the numbers: a SPARK_GRAFT_CPUS above the box's
    // cores shows as parallelism > cpus, and medians from differently
    // sized runs are not comparable
    val runShape = s""""cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism}"""

    def force(name: String): Double = {
      val t0 = System.nanoTime()
      try Registry.all(name).build(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // pinned-block discipline between entries: operators pin sketch
    // relations (localCheckpoint) whose blocks are session-lived until
    // the ContextCleaner notices the plan is dead — across a 300-entry
    // sweep they accumulate and slow UNRELATED queries (r10: q37
    // 2.8 → 10.9 s monotone across passes). Each entry's pre-sweep
    // census is recorded (the adjudication column), then everything
    // block-persisted is released — entries are independent, so no
    // swept plan is ever re-executed.
    val pinCensus = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val loadTrace = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").head.toDouble
      catch { case _: Throwable => -1.0 }

    // warmup: run every query once at the smallest SF — generated code is
    // identical across input paths, so Janino's compile cache is hot and the
    // timed pass measures steady-state execution, not per-plan codegen
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    Tables.names.foreach { n =>
      // per-table: events needs the nanos shim, and one failure must not
      // abort the rest of the warm pass
      try {
        val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
        df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_BENCH_ONLY=q53,q92 filters by name prefix — local
    // iteration only; the driver never sets it
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    // oracle queries plus the bench-only production-hash twins (x*): the
    // md5-vs-xxhash64 gap is measured every round, not asserted
    val names = Registry.all.entries.map(_.name).sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach { n =>
      try Registry.all(n).build(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // timed passes: iters full sweeps, median per query
    val samples = collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // the driver keeps only the LAST 2000 chars of stdout (r5/r6 both
    // recorded parsed:null because the full-width line lost its head to
    // that window, and sbt's trailing "[success]" line eats ~60 more) —
    // so the final line BUDGETS its queries map: slowest-first entries
    // until ~1600 chars, the rest counted LOUDLY in omitted_fastest
    // (every omitted median is ≤ the smallest included one; the full
    // map + per-pass samples are canonical in BENCH_DETAIL.json)
    def shortName(n: String): String = n.takeWhile(_ != '_')
    def qsParts(): (String, Int) = {
      val entries = names.map(n => (shortName(n), median(samples(n))))
        .sortBy { case (id, m) => (-m, id) }
        .map { case (id, m) => "\"" + id + "\":" + f3(m) }
      val budget = 1600
      val kept = collection.mutable.ArrayBuffer.empty[String]
      var used = 2
      entries.foreach { e =>
        if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
      }
      (kept.mkString("{", ",", "}"), entries.length - kept.length)
    }
    // box-state marker: load average + free memory, so a later reader can
    // separate host contention from plan regressions (r6's 680→297→180 s
    // pass swing was drift, but the JSON carried no evidence either way)
    def boxState(): String = {
      def read(p: String): String =
        try scala.io.Source.fromFile(p).getLines().mkString(" ") catch { case _: Throwable => "" }
      val load = read("/proc/loadavg").split(" ").take(3).mkString(",")
      val memAvail = read("/proc/meminfo").split("\\s+")
        .sliding(2).collectFirst { case Array("MemAvailable:", kb) => kb }.getOrElse("?")
      s""""load":"$load","mem_avail_kb":"$memAvail""""
    }
    val boxStart = boxState()
    (1 to iters).foreach { pass =>
      var passTotal = 0.0
      names.foreach { n =>
        val s = force(n)
        samples(n) = samples(n) :+ s
        if (s >= 0) passTotal += s
        val (_, mem, disk) = graft.operators.Pins.sweepAll(spark)
        pinCensus(n) = pinCensus(n) :+ (mem + disk) / 1e6
        loadTrace(n) = loadTrace(n) :+ load1()
      }
      System.err.println(f"[bench] pass $pass/$iters total = $passTotal%.1f s {${boxState()}}")
      // cumulative-medians line to stderr after EVERY pass: a run killed
      // before the last pass still leaves a parseable result in the log
      // ("partial_total" so only the completed run's line matches "total")
      val t = names.map(n => median(samples(n))).filter(_ >= 0).sum
      val (pq, pOmit) = qsParts()
      System.err.println(
        s"""{"metric":"partial_total","value":${f3(t)},"unit":"sec","queries":$pq,"omitted_fastest":$pOmit,"sf":"$sfDir","iters":$pass}""")
    }
    val total = names.map(n => median(samples(n))).filter(_ >= 0).sum
    val passTotals = (0 until iters).map { i =>
      names.map(n => samples(n)(i)).filter(_ >= 0).sum
    }.map(f3).mkString("[", ",", "]")
    // FRESH-SESSION controls: each target re-measured in its own
    // brand-new SparkContext — the one-line read that separates "this
    // operator regressed" from "this operator inherits session state
    // accumulated by 300 earlier entries". SELF-TRIGGERING since r12:
    // the top-5 slowest entries by median always re-run fresh (the r11
    // adjudication column that needed SPARK_GRAFT_BENCH_FRESH set was
    // the one that didn't run in the driver's environment);
    // SPARK_GRAFT_BENCH_FRESH=q37,q38 adds named prefixes on top, and
    // SPARK_GRAFT_BENCH_FRESH=none disables the control entirely.
    val freshEnv = sys.env.get("SPARK_GRAFT_BENCH_FRESH").map(_.split(",").toSeq)
    val freshRuns: Map[String, Vector[Double]] =
      if (freshEnv.exists(_.contains("none"))) Map.empty
      else {
        val top5 = names.sortBy(n => -median(samples(n))).take(5)
        val named = freshEnv.getOrElse(Nil)
        val targets = (names.filter(n => named.exists(n.startsWith)) ++ top5).distinct
        if (targets.isEmpty) Map.empty
        else {
          spark.stop()
          targets.map { n =>
            val s2 = SparkSession.builder()
              .master(s"local[$cpus]")
              .config("spark.sql.shuffle.partitions", cpus)
              .config("spark.sql.adaptive.enabled", "true")
              .config("spark.sql.session.timeZone", "UTC")
              .config("spark.ui.enabled", "false")
              .getOrCreate()
            s2.sparkContext.setLogLevel("WARN")
            try Registry.all(n).build(s2, warmDir)
              .write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
            val ts = (1 to 2).map { _ =>
              val t0 = System.nanoTime()
              try {
                Registry.all(n).build(s2, sfDir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              } catch { case _: Throwable => -1.0 }
            }.toVector
            s2.stop()
            System.err.println(s"[bench] fresh-session $n = ${ts.map(f3).mkString(",")} s")
            n -> ts
          }.toMap
        }
      }
    // full per-pass per-query detail + box state goes to a repo-side file
    // (NOT the stdout line, which must stay under the driver's capture
    // limit); the round driver commits it with the rest of the work tree
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try {
      val perQuery = names.map { n =>
        "\"" + n + "\":[" + samples(n).map(f3).mkString(",") + "]"
      }.mkString("{", ",", "}")
      // adjudication columns (VERDICT r10 #6): per-entry pre-sweep pinned
      // megabytes and 1-min load — a monotone pinned climb or a load spike
      // names the mechanism behind any outlier without a re-run
      val pins = names.map { n =>
        "\"" + n + "\":[" + pinCensus(n).map(f3).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val loads = names.map { n =>
        "\"" + n + "\":[" + loadTrace(n).map(f3).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val fresh = freshRuns.toSeq.sortBy(_._1).map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map(f3).mkString(",") + "]"
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
        s"""{"sf":"$sfDir","iters":$iters,$runShape,"box_start":{$boxStart},"box_end":{${boxState()}},""" +
          s""""pass_totals":$passTotals,"per_pass":$perQuery,""" +
          s""""per_pass_pinned_mb":$pins,"per_pass_load":$loads,"fresh_session":$fresh}""" + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    val (qj, omitted) = qsParts()
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qj,""" +
      s""""omitted_fastest":$omitted,"sf":"$sfDir","iters":$iters,$runShape,"pass_totals":$passTotals}"""
    // the ONE parseable stdout line, printed as the very LAST thing the
    // process writes to stdout, AFTER spark.stop() (so no Spark shutdown
    // output can trail it) — build.sbt's StdoutOutput + showSuccess=false
    // keep sbt from prefixing it or appending a success banner. Hard
    // guard on the driver's 2000-char tail: if a future query explosion
    // ever overruns it, fail to a bare-summary line, never an
    // unparseable one.
    val out =
      if (line.length <= 1900) line
      else s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":{},""" +
        s""""omitted_fastest":${names.length},"sf":"$sfDir","iters":$iters,$runShape,"pass_totals":$passTotals}"""
    spark.stop()
    println(out)
    System.out.flush()
  }
}
