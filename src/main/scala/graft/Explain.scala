package graft

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** Dev tool: dump `explain("formatted")` for the named queries (or all) —
  * the plan-review loop the scale work iterates on (pushdown, broadcast,
  * shuffle count). Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Registry.all.queries.map(_.name).sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // SPARK_GRAFT_EXPLAIN_AQE=false shows the STATIC plan with the
      // ReuseExchange rule applied — the view the PlanAudit scan census
      // counts (AQE-on initial plans hide reuse, which happens per-stage
      // at runtime)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.all(n).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
