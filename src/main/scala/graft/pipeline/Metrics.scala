package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The one JSON codec of the engine's persisted records: the lineage
  * manifest, the `_metrics` run and epoch records and the Probe lines.
  * Records are built as ordered maps (`ListMap`), so keys keep the
  * order they are listed in.
  */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)
}

/** One completed stage's task metrics, summed over its tasks. */
final case class StageRec(stageId: Int, name: String, tasks: Int,
    executorRunTimeMs: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    memorySpilledBytes: Long, diskSpilledBytes: Long, peakExecutionMemory: Long) {

  /** the stage object of `_metrics/run-N.json`, `_metrics/epoch-N.json`
    * and every Probe line
    */
  def fields: ListMap[String, Any] = ListMap("stage" -> stageId, "name" -> name, "tasks" -> tasks,
    "executor_run_ms" -> executorRunTimeMs, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "memory_spilled_bytes" -> memorySpilledBytes, "disk_spilled_bytes" -> diskSpilledBytes,
    "peak_execution_memory_bytes" -> peakExecutionMemory)
}

/** Per-stage observability (op C6, SURVEY.md §2.4) — the analog of the
  * reference's structured per-stage logging
  * (/root/reference/src/kafka_consumer.py:52,71; s3_client.py:49), scaled
  * to Spark: a SparkListener captures per-stage task metrics, and the job
  * publishes docs/s, MB/s and the extraction-failure rate (north_star).
  * `ExtractJob` (per run), `StreamingLineage` (per epoch) and
  * `tools.Probe` record through it.
  *
  * A stage is named after the SQL execution its job ran for (the action's
  * call site, e.g. `localCheckpoint at Dedup.scala:…`): AQE submits query
  * stages from a pool thread, so their own `StageInfo.name` is the pool's
  * `CompletableFuture` frame. Stages outside any execution keep it.
  */
final class GraftMetricsListener extends SparkListener {

  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val executionNames = new ConcurrentHashMap[String, String]()
  private val stageExecution = new ConcurrentHashMap[Int, String]()
  private val tag = java.util.UUID.randomUUID().toString
  private val trackedExecutions = ConcurrentHashMap.newKeySet[String]()
  private val endedExecutions = ConcurrentHashMap.newKeySet[String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionNames.put(s.executionId.toString, s.description)
    case s: SparkListenerSQLExecutionEnd   => endedExecutions.add(s.executionId.toString)
    case _                                 =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = Option(js.properties).foreach { p =>
    Option(p.getProperty("spark.sql.execution.id")).foreach { id =>
      js.stageIds.foreach(stageExecution.put(_, id))
      if (p.getProperty(GraftMetricsListener.TrackKey) == tag) trackedExecutions.add(id)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val name = Option(stageExecution.get(si.stageId))
      .flatMap(id => Option(executionNames.get(id))).getOrElse(si.name)
    stages.add(StageRec(
      si.stageId, name.takeWhile(_ != '\n'), si.numTasks,
      m.executorRunTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory))
  }

  def snapshot: Seq[StageRec] = stages.asScala.toSeq

  /** Runs `action`, a SQL action, and returns once this listener has seen
    * the end of the SQL executions it ran, so [[snapshot]] then holds
    * every stage of `action` and of the jobs before it. Listener delivery
    * is asynchronous, but the bus delivers in order, and a job's stage
    * events are posted before its execution's end event. The action's
    * jobs are told apart by a thread-local property they inherit, this
    * listener's tag; no job of its own is submitted. Gives up after 10 s,
    * returning what arrived.
    */
  def track[T](sc: SparkContext)(action: => T): T = {
    val outer = sc.getLocalProperty(GraftMetricsListener.TrackKey)
    sc.setLocalProperty(GraftMetricsListener.TrackKey, tag)
    val out = try action finally sc.setLocalProperty(GraftMetricsListener.TrackKey, outer)
    def ended = !trackedExecutions.isEmpty && trackedExecutions.asScala.forall(endedExecutions.contains)
    val deadline = System.currentTimeMillis() + 10000
    while (!ended && System.currentTimeMillis() < deadline) Thread.sleep(1)
    out
  }
}

object GraftMetricsListener {
  private val TrackKey = "graft.metrics.track"
}

/** One batch run's or stream epoch's report: the per-pid lineage sums
  * it committed (empty pids included for a batch run), its wall time,
  * `writeMs`, the wall time of the docs write action (its planning, its
  * jobs and its job commit), and `commitMs`, the driver-side lineage write
  * plus manifest rename.
  */
final case class RunReport(snapshot: Long, pids: Seq[PidSums], wallSec: Double, writeMs: Double,
    commitMs: Double) {
  def pidsProcessed: Int = pids.size
  def docsOk: Long = pids.map(_.ok).sum
  def failedValidation: Long = pids.map(_.failedValidation).sum
  def failedPayload: Long = pids.map(_.failedPayload).sum
  def failedUnexpected: Long = pids.map(_.failedUnexpected).sum
  def bytesIn: Long = pids.map(_.bytes).sum
  def docsTotal: Long = docsOk + failedValidation + failedPayload + failedUnexpected
  def docsPerSec: Double = if (wallSec > 0) docsTotal / wallSec else 0.0
  def mbPerSec: Double = if (wallSec > 0) bytesIn / 1e6 / wallSec else 0.0
  def failureRate: Double =
    if (docsTotal > 0) (failedValidation + failedPayload + failedUnexpected).toDouble / docsTotal else 0.0

  def toJson(stages: Seq[StageRec]): String = Json.write(ListMap(
    "snapshot" -> snapshot, "pids_processed" -> pidsProcessed, "docs_ok" -> docsOk,
    "failed_validation" -> failedValidation, "failed_payload" -> failedPayload,
    "failed_unexpected" -> failedUnexpected, "docs_total" -> docsTotal,
    "bytes_in" -> bytesIn, "wall_sec" -> wallSec, "write_ms" -> writeMs, "commit_ms" -> commitMs,
    "docs_per_sec" -> docsPerSec, "mb_per_sec" -> mbPerSec, "failure_rate" -> failureRate,
    "stages" -> stages.map(_.fields)))
}

object RunReport {

  /** true when the record at `path` is a JSON object: a torn or truncated
    * write does not parse
    */
  def readable(path: java.nio.file.Path): Boolean =
    java.nio.file.Files.isRegularFile(path) &&
      (try Json.mapper.readTree(path.toFile).isObject
       catch { case _: java.io.IOException => false })
}
