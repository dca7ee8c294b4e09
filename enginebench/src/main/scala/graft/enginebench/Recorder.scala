package graft.enginebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory trace of one benchmark run: benchmark-side spans around each
  * call into the engine, plus — while its listeners are attached — Spark
  * SQL execution, job, stage and task records and streaming progress.
  * Nothing is written until [[fields]] are serialized at exit.
  */
final class Recorder {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val cacheSamples = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var stack: List[Int] = Nil
  @volatile private var lastEventMs = 0.0
  /** whether the cache sampler records; on while an op is traced */
  @volatile var sampling = false

  private def seen(): Unit = lastEventMs = Clock.nowMs

  /** Wait until no listener event has arrived for `quietMs`, at most `maxMs`. */
  def awaitQuiet(quietMs: Double = 200, maxMs: Double = 5000): Unit = {
    val t0 = Clock.nowMs
    while (Clock.nowMs - math.max(lastEventMs, t0) < quietMs && Clock.nowMs - t0 < maxMs) Thread.sleep(10)
  }

  /** Time `body` as a span; `op` groups the spans of one operation. */
  def span[T](name: String, op: Int = -1, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      stack = stack.tail
      spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start" -> t0, "end" -> Clock.nowMs) ++ attrs)
    }
  }

  /** A span whose interval was measured elsewhere (e.g. one stream epoch). */
  def mark(name: String, op: Int, start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("id" -> nextId.incrementAndGet(), "parent" -> stack.headOption.getOrElse(0),
      "name" -> name, "op" -> op, "start" -> start, "end" -> end) ++ attrs)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      seen()
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs.add(Map("job" -> e.jobId, "start" -> e.time.toDouble,
        "stages" -> e.stageIds, "call_site" -> last.map(_.details).getOrElse(""),
        "name" -> last.map(_.name).getOrElse(""), "execution" -> exec.map(_.toLong)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        seen()
        executions.add(Map("execution" -> s.executionId, "start" -> s.time.toDouble,
          "call_site" -> s.details, "plan" -> s.physicalPlanDescription.take(4000)))
      case s: SparkListenerSQLExecutionEnd =>
        seen()
        executions.add(Map("execution" -> s.executionId, "end" -> s.time.toDouble))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      seen()
      jobEnds.add(Map("job" -> e.jobId, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      seen()
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(), "name" -> si.name,
        "call_site" -> si.details, "tasks" -> si.numTasks,
        "start" -> si.submissionTime.map(_.toDouble).getOrElse(0.0),
        "end" -> si.completionTime.map(_.toDouble).getOrElse(0.0),
        "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
        "spill_mem" -> m.memoryBytesSpilled, "spill_disk" -> m.diskBytesSpilled,
        "input_bytes" -> m.inputMetrics.bytesRead, "input_records" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      seen()
      val m = e.taskMetrics
      tasks.add(Map("stage" -> e.stageId, "ms" -> e.taskInfo.duration,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime)))
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = seen()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      seen()
      val p = e.progress
      progress.add(Map("run" -> p.runId.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "at" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def sampleCache(mb: Double): Unit = cacheSamples.add(Map("at" -> Clock.nowMs, "mb" -> mb))

  def fields: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq, "job_ends" -> jobEnds.asScala.toSeq,
    "executions" -> executions.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "progress" -> progress.asScala.toSeq, "cache_samples" -> cacheSamples.asScala.toSeq)
}

/** Minimal JSON writer for the trace and result files (maps, sequences,
  * strings, numbers, booleans).
  */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean                => b.toString
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case n: Double                 => n.toString
    case m: Map[_, _]              => obj(m.asInstanceOf[Map[String, Any]])
    case o: Option[_]              => o.map(value).getOrElse("null")
    case s: Iterable[_]            => s.map(value).mkString("[", ",", "]")
    case a: Array[_]               => a.map(value).mkString("[", ",", "]")
    case other                     => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
