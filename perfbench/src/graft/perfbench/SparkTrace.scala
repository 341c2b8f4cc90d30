package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Spark-side layer metrics, read only through Spark's public listener
  * APIs: a [[SparkListener]] totals task metrics per tag, and a
  * [[QueryExecutionListener]] records each executed plan's Catalyst phase
  * times. A job's tag is the job-local property [[SparkTrace.TagKey]] at
  * submission (threads a query starts inherit it); untagged jobs are
  * counted only in `started`/`ended`. Tagged jobs whose description marks
  * them as an `EpochKeyedStore` background fold are also kept in [[folds]]
  * with their start and end.
  */
final class SparkTrace private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import SparkTrace._

  val totals = new ConcurrentHashMap[String, Totals]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val started, ended = new AtomicLong
  /** One row per executed plan: start (epoch ms), Catalyst phase times,
    * output rows of the plan's top operator. */
  val plans = new ConcurrentLinkedQueue[Plan]()
  /** Finished background-fold jobs: (tag, start, end), epoch ms. */
  val folds = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val foldStart = new ConcurrentHashMap[Int, (String, Long)]()
  private def of(tag: String) = totals.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
      of(tag).jobs.incrementAndGet()
      e.stageIds.foreach(stageTag.put(_, tag))
      if (props.flatMap(p => Option(p.getProperty(JobDescriptionKey))).exists(_.startsWith(FoldJobPrefix)))
        foldStart.put(e.jobId, (tag, e.time))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(foldStart.remove(e.jobId)).foreach { case (tag, t0) => folds.add((tag, t0, e.time)) }
    ended.incrementAndGet()
    ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tag <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val t = of(tag)
      t.tasks.incrementAndGet()
      t.runMs.addAndGet(m.executorRunTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val rows = TopRows.collectFirst(qe.executedPlan) {
      case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    }.getOrElse(0L)
    plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning"), rows))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Listener events arrive asynchronously: wait (at most 10 s) until every
    * started job has ended and the event counts stop moving. */
  def quiesce(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
           (started.get != ended.get || last != started.get + ended.get)) {
      last = started.get + ended.get
      Thread.sleep(50)
    }
  }

  /** Forget everything recorded so far (after warm-up). */
  def reset(): Unit = { quiesce(); totals.clear(); plans.clear(); folds.clear() }

  /** Plans that started inside one of the given wall windows (epoch ms). */
  def plansWithin(windows: Seq[(Long, Long)]): Seq[Plan] =
    plans.asScala.toSeq.filter(p => windows.exists { case (a, b) => p.startMs >= a && p.startMs <= b })

  /** Sum of one counter over the tags `keep` accepts. */
  def total(keep: String => Boolean)(g: Totals => AtomicLong): Double =
    totals.asScala.collect { case (k, t) if keep(k) => g(t).get.toDouble }.sum

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkTrace {
  val TagKey = "perfbench.tag"
  /** The job description `EpochKeyedStore.maintain` gives a fold's jobs. */
  val FoldJobPrefix = "epoch store background"
  private val JobDescriptionKey = "spark.job.description"

  /** Task-side totals of one tag. */
  final class Totals {
    val jobs, stages, tasks, runMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  }

  final case class Plan(startMs: Long, analysisMs: Double, optimizerMs: Double,
                        planningMs: Double, outputRows: Long)

  private object TopRows extends AdaptiveSparkPlanHelper

  def attach(spark: SparkSession): SparkTrace = {
    val l = new SparkTrace(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Catalyst and executor metrics over the plans and tags a caller
    * selects; times are totals divided by `per`. */
  def execMetrics(l: SparkTrace, keep: String => Boolean, plans: Seq[Plan], per: Double,
                  wallMs: Double, cores: Int): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum / per,
    "catalyst.optimizer_ms" -> plans.map(_.optimizerMs).sum / per,
    "catalyst.planning_ms" -> plans.map(_.planningMs).sum / per,
    "exec.jobs" -> l.total(keep)(_.jobs) / per,
    "exec.stages" -> l.total(keep)(_.stages) / per,
    "exec.tasks" -> l.total(keep)(_.tasks) / per,
    "exec.task_busy_share" -> l.total(keep)(_.runMs) / math.max(1.0, wallMs * cores),
    "exec.shuffle_write_bytes" -> l.total(keep)(_.shuffleWrite) / per,
    "exec.shuffle_read_bytes" -> l.total(keep)(_.shuffleRead) / per,
    "exec.spill_bytes" -> l.total(keep)(_.spill) / per,
    "exec.output_rows" -> plans.map(_.outputRows.toDouble).sum / per)
}
