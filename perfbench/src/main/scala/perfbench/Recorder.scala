package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters for the traced run, collected from outside the
  * program: a SparkListener records every job with its stages' task
  * metrics, and a QueryExecutionListener records every SQL execution with
  * the scans and exchanges of its executed plan. Jobs carry the span tag
  * the harness sets as the local property [[Recorder.SpanKey]] on the
  * calling thread. An execution is tied to its pass by the time its
  * listener call arrives, which trails its end by the listener bus's
  * delay. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobStarts = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a job's call site is its result stage's name, e.g. "parquet at Tables.scala:28"
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobStarts.add(Map("job" -> e.jobId, "start" -> e.time, "tag" -> prop(SpanKey),
      "call_site" -> callSite, "stage_ids" -> e.stageIds))
  }


  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.add(e.jobId -> e.time); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val fields: Map[String, Any] =
      if (m == null) Map.empty
      else Map(
        "task_ms" -> m.executorRunTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten)
    stages.add(fields ++ Map("stage" -> s.stageId, "tasks" -> s.numTasks))
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (scans, exchanges) = planCounts(qe.executedPlan)
    executions.add(Map("end" -> System.currentTimeMillis(), "scans" -> scans,
      "exchanges" -> exchanges))
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded so far, as JSON-ready maps: jobs joined with
    * their end time and the metrics of their completed stages. */
  def snapshot(): Map[String, Any] = {
    val ends = jobEnds.asScala.toMap
    val byStage = stages.asScala.toSeq.groupBy(_("stage").asInstanceOf[Int])
    val jobs = jobStarts.asScala.toSeq.map { j =>
      val ss = j("stage_ids").asInstanceOf[Seq[Int]].flatMap(byStage.getOrElse(_, Nil))
      def total(k: String): Long = ss.map(_.getOrElse(k, 0L).asInstanceOf[Long]).sum
      (j - "stage_ids") ++ Map(
        "end" -> ends.getOrElse(j("job").asInstanceOf[Int], -1L),
        "stages" -> ss.size,
        "tasks" -> ss.map(_("tasks").asInstanceOf[Int]).sum) ++
        MetricKeys.map(k => k -> total(k))
    }
    Map("jobs" -> jobs, "executions" -> executions.asScala.toSeq)
  }

  /** Number of listener events seen; the harness polls it to let the
    * asynchronous listener bus drain before taking a snapshot. */
  def eventCount: Int = jobStarts.size + jobEnds.size + stages.size + executions.size
}

object Recorder {
  val SpanKey = "perfbench.span"
  private val MetricKeys = Seq("task_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes")

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case r: ReusedExchangeExec => unwrap(r.child)
    case _ => p
  }

  /** Scan leaves and exchanges of an executed plan, counted through AQE
    * stages and subqueries. */
  def planCounts(root: SparkPlan): (Int, Int) = {
    var scans = 0
    var exchanges = 0
    def walk(p0: SparkPlan): Unit = {
      val p = unwrap(p0)
      if (p.isInstanceOf[Exchange]) exchanges += 1
      if (p.children.isEmpty && p.nodeName.contains("Scan")) scans += 1
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    (scans, exchanges)
  }

  /** Waits until no listener event has arrived for `quietMs`. */
  def drain(r: Recorder, quietMs: Long = 300L, capMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + capMs
    var last = -1
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
      (r.eventCount != last || System.currentTimeMillis() - since < quietMs)) {
      if (r.eventCount != last) { last = r.eventCount; since = System.currentTimeMillis() }
      Thread.sleep(25)
    }
  }
}
