package graft

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** Dev tool: physical scan census over every registered query — the
  * systematic form of the double-scan hunt that found the q191-class
  * (`Stats.quantileBuckets` re-evaluating its quality projection) and the
  * q111-class (share-of-total re-aggregating the corpus) by hand.
  *
  * For each query it builds the plan (no execution) with AQE OFF so the
  * static ReuseExchange rule applies — what it reuses statically, AQE also
  * reuses at runtime — then counts per-table parquet scan leaves and
  * ReusedExchange/ReusedSubquery nodes in the physical plan string. A table
  * scanned N times with no reuse means the plan really reads it N times.
  *
  * Known-legit multi-scans (independent DERIVATIONS, not re-evaluations —
  * the r12 pin A/B showed pinning these regresses): corpus-prep reads docs
  * once for the fused gate projection and once for the MinHash chain;
  * agreement entries read once per sketch family; calibration reads the
  * pair-verify chain and the doc side. The audit exists to catch scans
  * BEYOND those — same projection evaluated twice with no reuse node.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [minScans] — prints one line per
  * (query, table) with scans >= minScans (default 3), then a summary.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minScans = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tableRe = "([a-z_]+)\\.parquet".r
    var flagged = 0
    val names = Registry.all.queries.map(_.name).sorted
    names.foreach { n =>
      try {
        val df = Registry.all(n).build(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val scanLines = plan.linesIterator
          .filter(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
          .toSeq
        val scans = scanLines
          .flatMap(l => tableRe.findFirstMatchIn(l).map(_.group(1)))
          .groupBy(identity).view.mapValues(_.size).toMap
        // scans whose ReadSchema includes the wide text/embedding column —
        // the ones where a duplicate evaluation actually costs
        val wide = scanLines.count(l =>
          l.contains("text:string") || l.contains("embedding:array"))
        val reused = plan.linesIterator.count(l =>
          l.contains("ReusedExchange") || l.contains("ReusedSubquery"))
        val hot = scans.filter(_._2 >= minScans)
        if (hot.nonEmpty || wide >= minScans) {
          flagged += 1
          println(s"$n scans=${scans.toSeq.sorted.map { case (t, c) => s"$t:$c" }.mkString(",")} wide=$wide reused=$reused")
        }
      } catch {
        case e: Throwable => println(s"$n PLAN-ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println(s"SUMMARY queries=${names.size} flagged_ge_$minScans=$flagged")
    spark.stop()
  }
}
