package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every record the benchmark writes: epoch microseconds,
  * monotonic within the run (Spark's own event times are epoch ms). */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans around the benchmark's calls into the engine's layers. Spans
  * are kept in memory and written out when the run ends; with tracing
  * off a span is just the call. */
final class Tracer {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val op = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def inOp[T](opId: Long)(body: => T): T = {
    op.set(opId)
    try body finally op.set(0L)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = Clock.us()
      try body
      finally {
        val end = Clock.us()
        stack.set(stack.get.tail)
        val rec = Map("id" -> id, "name" -> name, "start_us" -> start,
          "end_us" -> end, "parent" -> parent, "op" -> op.get.longValue)
        spans.synchronized(spans += rec)
      }
    }

  def records: Seq[Map[String, Any]] = spans.synchronized(spans.toList)
}

/** Job-level totals from the scheduler: every task's metrics are summed
  * into the job that submitted its stage. A job's op is the
  * `perfbench.op` local property of the thread that ran it. */
final class EngineListener extends SparkListener {
  private final class Job(val id: Int, val startMs: Long, val op: Long) {
    var endMs = 0L
    val n = mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = n(k) = n.getOrElse(k, 0L) + v
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new Job(e.jobId, e.time, op)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def job(stageId: Int): Option[Job] =
    stageJob.get(stageId).flatMap(jobs.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      job(e.stageInfo.stageId).foreach { j =>
        j.add("stages", 1)
        if (e.stageInfo.failureReason.isDefined) j.add("failed_stages", 1)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    job(e.stageId).foreach { j =>
      j.add("tasks", 1)
      if (!e.taskInfo.successful) j.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        j.add("task_ms", m.executorRunTime)
        j.add("cpu_ns", m.executorCpuTime)
        j.add("gc_ms", m.jvmGCTime)
        j.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        j.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        j.add("spill_bytes", m.diskBytesSpilled)
        j.add("input_bytes", m.inputMetrics.bytesRead)
        j.add("input_records", m.inputMetrics.recordsRead)
        j.add("output_bytes", m.outputMetrics.bytesWritten)
        // the scheduler-delay formula of Spark's own stage page
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        j.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      }
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toList.map(j => Map[String, Any]("job" -> j.id,
      "start_us" -> j.startMs * 1000L, "end_us" -> j.endMs * 1000L,
      "op" -> j.op) ++ j.n)
  }
}

/** Per-execution planning time (analysis + optimization + planning, from
  * `QueryExecution.tracker`) and the store paths each execution writes
  * and reads, so the benchmark can attribute one pipeline call's
  * executions to the Bronze, Silver and Gold stages. */
final class PlanListener extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val end = Clock.us()
    val plan = qe.analyzed
    val writes = plan.collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    val reads = plan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.distinct
    val rec = Map[String, Any]("func" -> funcName,
      "start_us" -> (end - durationNs / 1000L), "end_us" -> end,
      "plan_ms" -> qe.tracker.phases.values.map(_.durationMs).sum,
      "writes" -> writes, "reads" -> reads)
    synchronized(recs += rec)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def records: Seq[Map[String, Any]] = synchronized(recs.toList)
}

/** `StreamingQueryProgress.durationMs` of every trigger, stamped with
  * the trigger's start time. */
final class StreamListener extends StreamingQueryListener {
  private val recs = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    val rec = Map[String, Any](
      "start_us" -> (start.getEpochSecond * 1000000L + start.getNano / 1000L),
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    synchronized(recs += rec)
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def records: Seq[Map[String, Any]] = synchronized(recs.toList)
}
