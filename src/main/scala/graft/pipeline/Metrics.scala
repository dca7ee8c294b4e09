package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
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
  private val lastJobEnded = new AtomicInteger(-1)
  private val executionNames = new ConcurrentHashMap[String, String]()
  private val stageExecution = new ConcurrentHashMap[Int, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionNames.put(s.executionId.toString, s.description)
    case _                                 =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => js.stageIds.foreach(stageExecution.put(_, id)))

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

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    lastJobEnded.accumulateAndGet(je.jobId, math.max)

  def snapshot: Seq[StageRec] = stages.asScala.toSeq

  /** Every stage of the jobs that finished before this call. Listener
    * delivery is asynchronous, but the scheduler posts a job's events
    * before its action returns and the bus delivers them in order: once
    * a one-task marker job submitted now has ended here, nothing earlier
    * is still in flight. The marker's own stage (the newest) is dropped.
    */
  def settled(sc: SparkContext): Seq[StageRec] = {
    val marker = sc.parallelize(Seq(0), 1).countAsync()
    marker.get()
    val id = marker.jobIds.head
    val deadline = System.currentTimeMillis() + 10000
    while (lastJobEnded.get < id && System.currentTimeMillis() < deadline) Thread.sleep(2)
    val all = snapshot
    if (lastJobEnded.get < id || all.isEmpty) all
    else all.filterNot(_.stageId == all.map(_.stageId).max)
  }
}

final case class RunReport(
    snapshot: Long,
    pidsProcessed: Int,
    docsOk: Long,
    failedValidation: Long,
    failedPayload: Long,
    failedUnexpected: Long,
    bytesIn: Long,
    wallSec: Double) {
  def docsTotal: Long = docsOk + failedValidation + failedPayload + failedUnexpected
  def docsPerSec: Double = if (wallSec > 0) docsTotal / wallSec else 0.0
  def mbPerSec: Double = if (wallSec > 0) bytesIn / 1e6 / wallSec else 0.0
  def failureRate: Double =
    if (docsTotal > 0) (failedValidation + failedPayload + failedUnexpected).toDouble / docsTotal else 0.0

  def toJson(stages: Seq[StageRec]): String = Json.write(ListMap(
    "snapshot" -> snapshot, "pids_processed" -> pidsProcessed, "docs_ok" -> docsOk,
    "failed_validation" -> failedValidation, "failed_payload" -> failedPayload,
    "failed_unexpected" -> failedUnexpected, "docs_total" -> docsTotal,
    "bytes_in" -> bytesIn, "wall_sec" -> wallSec, "docs_per_sec" -> docsPerSec,
    "mb_per_sec" -> mbPerSec, "failure_rate" -> failureRate, "stages" -> stages.map(_.fields)))
}
