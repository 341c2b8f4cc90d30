package graft

import graft.operators.{Pins, Stats}
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: the deployment-derived Pins default, and the in-plan
  * quantile-cut formulation's value identity with the former driver-side
  * arithmetic (including the duplicate-cut tie shape).
  */
class NewOpsR13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Pins.defaultMode: deployment-derived, explicit conf always wins") {
    // static allocation -> local (the measured multi-consumer fix)
    assert(Pins.defaultMode(dynamicAllocation = false, hasCheckpointDir = false) === "local")
    assert(Pins.defaultMode(dynamicAllocation = false, hasCheckpointDir = true) === "local")
    // dynamic allocation: localCheckpoint blocks are non-replicated and
    // unrecoverable after executor loss -> reliable when a checkpoint dir
    // exists, none (always-correct re-derive) when it does not
    assert(Pins.defaultMode(dynamicAllocation = true, hasCheckpointDir = true) === "reliable")
    assert(Pins.defaultMode(dynamicAllocation = true, hasCheckpointDir = false) === "none")
    // explicit conf wins over the derived default (this session has no
    // dynamic allocation, so the pin below localCheckpoints eagerly)
    val prior = spark.conf.getOption("spark.graft.pin.mode")
    spark.conf.set("spark.graft.pin.mode", "none")
    try {
      val df = Seq((1L, "x")).toDF("id", "s")
      // mode none: pin is the identity — same plan object semantics
      assert(Pins.pin(df).queryExecution.logical eq df.queryExecution.logical)
    } finally prior match {
      case Some(m) => spark.conf.set("spark.graft.pin.mode", m)
      case None => spark.conf.unset("spark.graft.pin.mode")
    }
  }

  test("quantileBuckets in-plan cuts: duplicate-cut ties skip buckets exactly like the driver arithmetic") {
    // 9 x 1.0 and 1 x 2.0 in k=4: targets ceil(j*10/4) = 3,5,8 -> cuts
    // [1.0, 1.0, 1.0] (duplicates kept); v=2.0 counts all three cuts
    // below it -> bucket 4, v=1.0 -> bucket 1 (buckets 2,3 empty)
    val df = ((1 to 9).map(i => (i.toLong, 1.0)) ++ Seq((10L, 2.0)))
      .toDF("id", "v")
    val got = Stats.quantileBuckets(df, "v", k = 4)
      .select("v", "bucket").as[(Double, Int)].collect().toSet
    assert(got === Set((1.0, 1), (2.0, 4)))
  }

  test("quantileBuckets in-plan cuts: no collect — plan carries the grid window and broadcast cut row") {
    val df = (1L to 40L).map(i => (i, i % 7)).toDF("id", "v")
    val plan = Stats.quantileBuckets(df, "v", k = 5)
      .queryExecution.executedPlan.toString
    // the cut subtree: bounded-grid cumulative window feeding a 1-row
    // broadcast (TakeOrderedAndProject guards the cap on parquet inputs;
    // a LocalRelation input can plan the limit differently, so the pin
    // here is window + broadcast join, not the limit operator)
    assert(plan.contains("Window"))
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }
}
