package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `tools.Probe` prints one JSON object per measured rep, with the common
  * keys and the per-stage objects of `GraftMetricsListener`.
  */
class ProbeSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val mapper = new ObjectMapper()
  private val Common = Seq("target", "name", "rep", "wall_ms", "rows", "stages")

  private def probe(args: String*): Seq[JsonNode] = {
    val out = ArrayBuffer.empty[String]
    Probe.run(args, spark, out += _)
    out.map(mapper.readTree).toSeq
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("query: one JSON line per rep with stage metrics") {
    val lines = probe("query", "d_exact_canonical", "/root/testdata/sf0.001", "1")
    assert(lines.size == 1)
    val l = lines.head
    assert(Common.toSet.subsetOf(keys(l)), keys(l))
    assert(l.get("target").asText == "query" && l.get("name").asText == "d_exact_canonical")
    assert(l.get("rows").asLong > 0)
    val stages = l.get("stages")
    assert(stages.isArray && stages.size > 0, "no stages recorded")
    stages.elements().asScala.foreach { s =>
      assert(Set("stage", "tasks", "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "memory_spilled_bytes", "disk_spilled_bytes", "peak_execution_memory_bytes")
        .subsetOf(keys(s)), keys(s))
      // AQE stages are named after their SQL execution, not the pool thread
      assert(!s.get("name").asText.contains("CompletableFuture"), s.get("name").asText)
    }
  }

  test("kernel: five measured reps, no Spark stages") {
    val lines = probe("kernel", "200")
    assert(lines.size == 5)
    lines.foreach { l =>
      assert((Common.toSet + "docs_per_s").subsetOf(keys(l)), keys(l))
      assert(l.get("rows").asLong == 200 && l.get("docs_per_s").asDouble > 0)
      assert(l.get("stages").isArray && l.get("stages").size == 0)
    }
  }

  test("scaling: one line per (round, level), each level run as that many extraction tasks") {
    val lines = probe("scaling", "/root/testdata/sf0.001", "1", "1", "1,2")
    assert(lines.map(_.get("level").asInt) == Seq(1, 2))
    val pages = graft.fixtures.Corpus.pages(spark, "/root/testdata/sf0.001").count()
    lines.foreach { l =>
      assert((Common.toSet + "level").subsetOf(keys(l)), keys(l))
      assert(l.get("target").asText == "scaling" && l.get("rep").asInt == 1)
      assert(l.get("rows").asLong == pages && l.get("wall_ms").asDouble > 0)
      assert(l.get("stages").elements().asScala.map(_.get("tasks").asInt).max == l.get("level").asInt, l.toString)
    }
  }

  test("stream st_lineage: every rep drains a fresh table and reports its batches") {
    val lines = probe("stream", "st_lineage", "/root/testdata/sf0.001", "2")
    assert(lines.size == 2)
    lines.foreach { l =>
      assert((Common.toSet + "batches").subsetOf(keys(l)), keys(l))
      val batches = l.get("batches")
      assert(batches.isArray && batches.size > 0, l.toString)
      assert(batches.elements().asScala.forall(_.get("duration_ms").has("addBatch")), batches.toString)
      assert(l.get("rows").asLong > 0)
    }
  }
}
