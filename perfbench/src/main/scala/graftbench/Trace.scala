package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer totals of one traced pass. Listener callbacks arrive on
  * several bus threads (the shared queue, the streams queue), so every
  * update holds the object's lock. */
final class PassTrace {
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val taskDurations = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val streamState = mutable.Map[java.util.UUID, (Long, Long)]()
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  def jobStarted(id: Int, t: Long): Unit = synchronized { add("jobs", 1); jobStart(id) = t }
  def jobEnded(id: Int, t: Long): Unit = synchronized {
    jobStart.remove(id).foreach(s => jobSpans += ((s, t)))
  }

  def taskEnded(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      add("task_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan_records", m.inputMetrics.recordsRead.toDouble)
      add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("result_bytes", m.resultSize.toDouble)
    }
  }

  def stageCompleted(s: StageInfo): Unit = synchronized {
    add("stages", 1)
    if (s.numTasks == 1) add("stages_1task", 1)
    taskDurations.remove((s.stageId, s.attemptNumber())).foreach { ds =>
      val sorted = ds.sorted
      add("stage_tail_s", (sorted.last - sorted(sorted.size / 2)) / 1e3)
    }
  }

  def planned(qe: QueryExecution): Unit = synchronized {
    add("plan.executions", 1)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: CommandResultExec => walk(r.commandPhysicalPlan)
        case _: ReusedExchangeExec => ()
        case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
          add("plan.exchanges", 1); e.children.foreach(walk)
        case w: WindowExecBase =>
          if (w.partitionSpec.isEmpty) add("plan.unpartitioned_windows", 1)
          w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
  }

  def progressed(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    add("stream.batches", 1)
    add("stream.input_rows", p.numInputRows.toDouble)
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    add("stream.trigger_s", ms("triggerExecution"))
    add("stream.add_batch_s", ms("addBatch"))
    add("stream.planning_s", ms("queryPlanning"))
    add("stream.wal_commit_s", ms("walCommit"))
    add("stream.commit_offsets_s", ms("commitOffsets"))
    add("stream.latest_offset_s", ms("latestOffset"))
    add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    streamState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  /** Totals for the pass; `wallS` is the summed query time the job
    * spans are subtracted from to give the driver-only gap. */
  def totals(wallS: Double): Map[String, Double] = synchronized {
    var union = 0L
    var reach = Long.MinValue
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { union += e - from; reach = e }
    }
    c("driver_gap_s") = wallS - union / 1e3
    c("stream.state_rows") = streamState.values.map(_._1).sum.toDouble
    c("stream.state_bytes") = streamState.values.map(_._2).sum.toDouble
    c.toMap
  }
}

/** Listeners that feed the current traced pass; `current` is null
  * during untraced passes, so they then record nothing. Everything here
  * observes graft from outside through Spark's public listener APIs. */
final class Tracer(spark: SparkSession) {
  @volatile var current: PassTrace = _

  private def on(f: PassTrace => Unit): Unit = {
    val t = current
    if (t != null) f(t)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on(_.jobStarted(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = on(_.jobEnded(e.jobId, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on(_.taskEnded(e))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      on(_.stageCompleted(e.stageInfo))
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      on(_.planned(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      on(_.planned(qe))
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      on(_.progressed(e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    classic.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    classic.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
