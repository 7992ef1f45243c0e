package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, RowDataSourceScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Shape of one physical plan, walked AQE-aware: through the final plan of
  * every `AdaptiveSparkPlanExec` (a leaf to the generic tree walkers), into
  * query stages, cached relations and subqueries. */
final case class Shape(exchanges: Int, scans: Int, sorts: Int,
    broadcasts: Int, codegenStages: Int, exchangeRows: Long,
    fingerprint: String) {
  def +(o: Shape): Shape = Shape(exchanges + o.exchanges, scans + o.scans,
    sorts + o.sorts, broadcasts + o.broadcasts,
    codegenStages + o.codegenStages, exchangeRows + o.exchangeRows,
    fingerprint)
}

object Shape {
  val empty: Shape = Shape(0, 0, 0, 0, 0, 0L, "")

  private def inner(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children ++ other.subqueries
  }

  /** Fingerprint of the query below the runner's row-count observation,
    * so that the sink a pass writes to does not enter it. */
  def queryFingerprint(root: SparkPlan): String = {
    def find(p: SparkPlan): Option[SparkPlan] = p match {
      case c: CollectMetricsExec => Some(c.child)
      case other => inner(other).iterator.map(find).collectFirst { case Some(x) => x }
    }
    of(find(root).getOrElse(root)).fingerprint
  }

  def of(root: SparkPlan): Shape = {
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def fp(p: SparkPlan): String = {
      nodes += p
      val kids = inner(p)
      // codegen stage ids count up across a session; they are not shape
      val name = p match {
        case _: WholeStageCodegenExec => "WholeStageCodegen"
        case other => other.nodeName
      }
      if (kids.isEmpty) name else kids.map(fp).mkString(name + "(", ",", ")")
    }
    val fingerprint = fp(root)
    def count(f: PartialFunction[SparkPlan, Boolean]): Int =
      nodes.count(n => f.applyOrElse(n, (_: SparkPlan) => false))
    Shape(
      exchanges = count { case _: ShuffleExchangeLike => true },
      scans = count {
        case _: FileSourceScanExec | _: DataSourceV2ScanExecBase |
            _: RowDataSourceScanExec => true },
      sorts = count { case _: SortExec => true },
      broadcasts = count { case _: BroadcastExchangeLike => true },
      codegenStages = count { case _: WholeStageCodegenExec => true },
      exchangeRows = nodes.collect { case e: ShuffleExchangeLike =>
        e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum,
      fingerprint = fingerprint)
  }
}

/** Task, stage and job totals of one (pass, query). */
final class Work {
  var jobs, stages, tasks = 0L
  var buildJobs = 0L
  var taskS, cpuS, gcS = 0.0
  var execTaskS = 0.0
  var inputBytes, inputRows, outputBytes = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var peakMemBytes = 0L
}

/** A span: one timed interval at a layer boundary. Spans of one pass share
  * `trace`; `parent` names the span that caused this one. */
final case class Span(trace: String, id: String, parent: String,
    name: String, startNs: Long, endNs: Long)

/** The traced run's job/stage/task and plan listener. Job groups set by
  * the runner ("pb|<pass>|<query>|<phase>") attribute jobs, stages and
  * tasks; the `CollectMetrics` name of the runner's row-count observation
  * closes each query's list of executed plans. Its results are read after
  * `SparkContext.stop` has drained the listener bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  val work = mutable.Map.empty[(Int, String), Work]
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  val stageSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]

  private def parse(group: String): Option[(Int, String, String)] =
    Option(group).map(_.split('|')).collect {
      case Array("pb", pass, q, phase) => (pass.toInt, q, phase)
    }

  private def workOf(group: String): Option[(Work, String)] =
    parse(group).map { case (p, q, phase) =>
      (work.getOrElseUpdate((p, q), new Work), phase) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    workOf(g).foreach { case (w, phase) =>
      w.jobs += 1
      if (phase == "build") w.buildJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, null)
    if (parse(g).isDefined)
      jobSpans += ((g, e.jobId, jobStartMs.getOrElse(e.jobId, e.time), e.time))
    if (g == Tracer.Fence) { fenced = true; notifyAll() }
  }

  private var fenced = false

  /** Run a marker job and wait until this listener has seen it end: the
    * listener bus is FIFO, so every earlier event has been delivered and
    * the listener can be removed without losing any. */
  def fence(sc: org.apache.spark.SparkContext): Unit = {
    sc.setJobGroup(Tracer.Fence, "fence")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    synchronized { while (!fenced) wait(100) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val g = stageGroup.getOrElse(info.stageId, null)
      workOf(g).foreach { case (w, _) =>
        w.stages += 1
        stageSpans += ((g, info.stageId,
          info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    workOf(stageGroup.getOrElse(e.stageId, null)).foreach { case (w, phase) =>
      w.tasks += 1
      if (m != null) {
        val run = m.executorRunTime / 1e3
        w.taskS += run
        if (phase == "exec") w.execTaskS += run
        w.cpuS += m.executorCpuTime / 1e9
        w.gcS += m.jvmGCTime / 1e3
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakMemBytes = math.max(w.peakMemBytes, m.peakExecutionMemory)
      }
    }
  }

  // ---- SQL: every action's plan, grouped per query by the observation
  //      name the runner puts on the query's final action ----
  private val pendingPlans = mutable.ArrayBuffer.empty[SparkPlan]
  /** observation name → (all plans the query executed, its final plan,
    * planning seconds of the final action) */
  val plans = mutable.Map.empty[String, (Seq[SparkPlan], SparkPlan, Double)]
  /** observation name → wall-clock ms interval of the final action's
    * analysis, optimization and planning phases */
  val planSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def observed(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst { case c: CollectMetrics => c.name }
      .orElse(qe.analyzed.collectFirst { case c: CollectMetrics => c.name })

  private def record(qe: QueryExecution): Unit = synchronized {
    val plan = qe.executedPlan
    pendingPlans += plan
    observed(qe).filter(_.startsWith("pb_")).foreach { name =>
      val phases = qe.tracker.phases.values
      val planS = phases.map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum
      plans(name) = (pendingPlans.toList, plan, planS)
      if (phases.nonEmpty)
        planSpans += ((name, phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max))
      pendingPlans.clear()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

object Tracer {
  val Fence = "pb-fence"
}

/** Streaming progress of the micro-batch twins. The listener stays
  * attached for the whole run (streaming events travel on their own
  * listener queue); `in` selects the progress reports of one pass by
  * their trigger time. */
final class StreamTracer extends StreamingQueryListener {
  /** (trigger epoch ms, addBatch ms, walCommit ms, state rows, state bytes) */
  private val events = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      events += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("addBatch"), ms("walCommit"),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }

  /** (batches, max state rows, max state bytes, addBatch s, walCommit s)
    * of the triggers that started in [fromMs, toMs]. */
  def in(fromMs: Long, toMs: Long): (Long, Long, Long, Double, Double) =
    synchronized {
      val xs = events.filter(e => e._1 >= fromMs && e._1 <= toMs)
      (xs.size.toLong, (0L +: xs.map(_._4)).max, (0L +: xs.map(_._5)).max,
        xs.map(_._2).sum / 1e3, xs.map(_._3).sum / 1e3)
    }
}
