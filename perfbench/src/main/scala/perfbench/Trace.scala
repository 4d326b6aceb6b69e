package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * time base of Spark's listener event times. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Spans kept in memory around each program call the benchmark makes: name,
  * start, end, parent span and op id. Written out when the run ends. Calls
  * come from the benchmark's single client thread, so a stack gives the
  * parent. */
final class Spans {
  val rows = ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0
  private var stack = List.empty[Int]
  var op: Int = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = Clock.now
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      rows += Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
        "start" -> start, "end" -> Clock.now)
    }
  }
}

/** Listeners the benchmark registers itself: scheduler events, Catalyst
  * phase timings and streaming progress. They only record; the arithmetic
  * happens in perfbench/metrics.py. Attach and detach around each traced
  * op; `detach` waits for the bus to deliver every queued event first. */
final class Tracer(spark: SparkSession) {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val executions = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobs += Map("id" -> e.jobId, "start" -> t0, "end" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages += Map("id" -> s.stageId, "tasks" -> s.numTasks,
        "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      val base = Map[String, Any]("stage" -> e.stageId, "launch" -> i.launchTime,
        "finish" -> i.finishTime, "ok" -> i.successful,
        "getting_result_ms" -> (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      tasks += (if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "ser_ms" -> m.resultSerializationTime,
        "in_bytes" -> m.inputMetrics.bytesRead, "in_records" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten, "out_records" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
        "disk_spill_bytes" -> m.diskBytesSpilled, "mem_spill_bytes" -> m.memoryBytesSpilled))
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      Tracer.this.synchronized {
        executions += Map("start" -> start, "ok" -> ok, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, ok = false)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val state = p.stateOperators.toSeq
      Tracer.this.synchronized {
        progress += Map("query" -> p.id.toString, "batch" -> p.batchId,
          "timestamp" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "input_rows" -> p.numInputRows,
          "duration_ms" -> d.toMap,
          "state_commit_ms" -> state.map(_.commitTimeMs).sum,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  def record: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq, "tasks" -> tasks.toSeq, "stages" -> stages.toSeq,
      "executions" -> executions.toSeq, "stream_progress" -> progress.toSeq)
  }
}
