package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw event capture for a traced run, through Spark's public listener
  * APIs only: scheduler jobs and stages, Catalyst phases and final plan
  * shape per query execution, and streaming trigger progress. Events are
  * kept in memory with their wall-clock times and written out when the
  * run ends; attribution to ops happens afterwards (`stats.py`), so the
  * listeners do no bookkeeping on the hot path. */
final class Trace extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Any, Any]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    jobs.add(Map(
      "id" -> e.jobId, "start" -> e.time,
      "stages" -> e.stageInfos.map(_.stageId),
      "desc" -> props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Map(
      "id" -> i.stageId, "tasks" -> i.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_read" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead)))
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def dur(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = Trace.planNodes(qe.executedPlan)
      val shuffles = nodes.collect { case x: ShuffleExchangeLike => x }
      qes.add(Map(
        "id" -> qe.id, "func" -> funcName, "t" -> System.currentTimeMillis(),
        "phase_start" -> (if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min),
        "phase_end" -> (if (phases.isEmpty) 0L else phases.values.map(_.endTimeMs).max),
        "analysis_ms" -> dur("analysis"), "optimization_ms" -> dur("optimization"),
        "planning_ms" -> dur("planning"),
        "exchanges" -> shuffles.size,
        "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        "single_partition" -> shuffles.count(_.outputPartitioning.numPartitions == 1)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Map(
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch_id" -> p.batchId,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def install(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(queryListener)
    s.streams.addListener(streamListener)
  }

  /** Stop capturing. Listener events are delivered asynchronously, so
    * the bus gets a moment to hand over the round's last events first. */
  def remove(s: SparkSession): Unit = {
    Thread.sleep(250)
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(queryListener)
    s.streams.removeListener(streamListener)
  }

  /** Everything captured, for the run's trace file. Call after the
    * session stopped: stopping drains the listener bus, so no event is
    * still in flight. */
  def events: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.map(j =>
      j + ("end" -> jobEnds.getOrDefault(j("id"), j("start")))),
    "stages" -> stages.asScala.toSeq,
    "qes" -> qes.asScala.toSeq,
    "triggers" -> triggers.asScala.toSeq)
}

object Trace {
  /** Every node of a physical plan: AQE's final plan, the plans inside
    * query stages, and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r) // already counted where it was built
    case _ =>
      p +: ((p.children ++ p.subqueries).flatMap(planNodes))
  }
}
