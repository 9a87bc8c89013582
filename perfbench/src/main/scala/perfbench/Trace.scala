package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the benchmark's single client thread.
  *
  * A span is opened around each call the harness makes into an engine layer;
  * nesting follows the call stack. Spans are kept in memory and written out
  * with the run's result. When disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startMs: Long, endMs: Long, seconds: Double)

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        stack = stack.tail
        done += Span(id, name, parent, op, startMs, System.currentTimeMillis(), secs)
      }
    }

  def spans: Seq[Span] = done.toList
}

/** Per-stage task aggregates plus job records from Spark's public listener
  * events. Job start times place each job inside the span that launched it
  * (the client is a single closed loop, so spans never overlap in time).
  */
final class JobRecorder extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var durationMs = 0L; var runMs = 0L; var cpuNs = 0L; var diskSpill = 0L
    var shuffleBytes = 0L; var shuffleRecords = 0L; var peakExec = 0L
  }
  final case class Job(id: Int, callSite: String, startMs: Long,
      stageIds: Seq[Int], var endMs: Long = -1L)

  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage's name is its job's short call site ("save at File.scala:12")
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, site, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo != null) a.durationMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.diskSpill += m.diskBytesSpilled
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
    }
  }
}

/** Micro-batch progress of the ingest stream: trigger and addBatch time. */
final class StreamRecorder extends StreamingQueryListener {
  final case class Progress(runId: String, batchId: Long, rows: Long,
      addBatchMs: Long, triggerMs: Long)
  val progress = ArrayBuffer.empty[Progress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress += Progress(p.runId.toString, p.batchId, p.numInputRows,
        ms("addBatch"), ms("triggerExecution"))
    }
}

/** Counts Exchange nodes in every successfully executed physical plan. */
final class ExchangeCounter extends QueryExecutionListener {
  @volatile var exchanges = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { exchanges += ExchangeCounter.count(qe.executedPlan) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object ExchangeCounter {
  /** Exchanges in a final plan, looking through adaptive wrappers, query
    * stages and subqueries. Reused exchanges are not counted again.
    */
  def count(p: SparkPlan): Long = {
    val here = p match { case _: Exchange => 1L; case _ => 0L }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    here + kids.map(count).sum
  }
}
