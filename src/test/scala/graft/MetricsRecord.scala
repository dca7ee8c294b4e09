package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.Assertions._
import scala.jdk.CollectionConverters._

/** Schema check of one `_metrics` record (`run-N.json` of the batch job,
  * `epoch-N.json` of a streaming lineage epoch — one format, one writer):
  * parsed with Jackson, the top-level key set of `RunReport.toJson` and
  * the 12 keys of every `StageRec.toJson` object are pinned, and
  * `docs_total` must equal the sum of the four outcome classes.
  */
object MetricsRecord {

  val ReportKeys: Set[String] = Set("snapshot", "pids_processed", "docs_ok",
    "failed_validation", "failed_payload", "failed_unexpected", "docs_total",
    "bytes_in", "wall_sec", "write_ms", "commit_ms", "docs_per_sec", "mb_per_sec", "failure_rate", "stages")

  val StageKeys: Set[String] = Set("stage", "name", "tasks", "executor_run_ms",
    "input_bytes", "input_records", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "memory_spilled_bytes", "disk_spilled_bytes",
    "peak_execution_memory_bytes")

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  /** the parsed record at `path`, after the schema assertions */
  def read(path: java.nio.file.Path): JsonNode = {
    val n = new ObjectMapper().readTree(path.toFile)
    assert(keys(n) == ReportKeys, s"$path top-level keys")
    assert(n.get("stages").isArray, s"$path stages")
    n.get("stages").elements().asScala.foreach(st =>
      assert(keys(st) == StageKeys, s"$path stage keys ${keys(st)}"))
    val classes = Seq("docs_ok", "failed_validation", "failed_payload", "failed_unexpected")
    assert(n.get("docs_total").asLong == classes.map(n.get(_).asLong).sum,
      s"$path docs_total must equal the sum of the outcome classes")
    n
  }

  /** true when the record holds a stage that wrote output: the docs write */
  def hasWriteStage(n: JsonNode): Boolean =
    n.get("stages").elements().asScala.exists(_.get("output_bytes").asLong > 0)

  /** true when the record's stages are the docs write's two alone (the
    * pid shuffle's map stage and the write stage): no lineage aggregate
    * or lineage-row write job ran
    */
  def onlyDocsWrite(n: JsonNode): Boolean = n.get("stages").size == 2 && hasWriteStage(n)
}
