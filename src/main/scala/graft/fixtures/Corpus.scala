package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_repeat, concat_ws}
import java.sql.Timestamp

/** Deterministic page-corpus generator: derives the Common-Crawl-style
  * page table (url, warc_ts, html, text, lang — BASELINE.json input_hint)
  * from the driver-provided `documents` table, entirely in a distributed
  * map (no driver-side materialization, no randomness, no wall clock).
  *
  * Error-variant routing is a frozen function of doc_id so the oracle SQL
  * can predict every row:
  *   - doc_id % 20 == 3  → well-formed payload w/ NUL text → "unexpected"
  *   - doc_id % 20 == 7  → garbage bytes  → extracted_text "" (valid row)
  *   - doc_id % 20 == 13 → null html      → "validation" error
  *   - doc_id % 20 == 19 → corrupt embedded payload → "payload" error
  *   - doc_id % 10 == 0  → embedded fake-PDF payload (span cases)
  *   - otherwise         → plain page; extraction round-trips `text`
  */
object Corpus {

  val EpochBaseMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  def tsFor(id: Long): Timestamp =
    new Timestamp(EpochBaseMs + (id % 14) * 86400000L + (id % 3600) * 1000L)

  def htmlFor(id: Long, text: String, lang: String): Array[Byte] = {
    val m = id % 20
    val v = ((id / 20) % 4).toInt // template variant — orthogonal to routing
    if (m == 7) PageHtml.garbageBytes(id)
    else if (m == 13) null
    else if (m == 3) PageHtml.build(id, text, lang, poisonPayload = true, variant = v).getBytes("UTF-8")
    else if (m == 19) PageHtml.build(id, text, lang, corruptPayload = true, variant = v).getBytes("UTF-8")
    else PageHtml.build(id, text, lang, withPayload = id % 10 == 0, variant = v).getBytes("UTF-8")
  }

  /** The `documents` table of a corpus dir (doc_id, text, lang) — the one
    * reader every query, stager and tool uses. The schema is given, not
    * inferred: inference costs a Spark job per query build. These are the
    * only columns any reader uses.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("doc_id LONG, text STRING, lang STRING").parquet(s"$dir/documents.parquet")

  /** The page table as a DataFrame, one row per document. */
  def pages(spark: SparkSession, sfDir: String): DataFrame =
    pagesAmplified(spark, sfDir, 1)

  /** Amplified corpus for throughput benchmarking: `k` deterministic
    * replicas with distinct doc ids / urls (id + r·10^7), so pid spread,
    * host skew and span routing all behave as at larger scale.
    */
  def pagesAmplified(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    pagesAmplified(spark, sfDir, k, repeatText = 1)

  /** `repeatText > 1` fattens each document's text ×N before the page
    * builds — Common-Crawl pages average ~100 KB vs the fixture's ~1 KB,
    * so size-sensitive micro-benches (the WARC pruning delta) need
    * realistic bodies, not just row counts.
    */
  def pagesAmplified(spark: SparkSession, sfDir: String, k: Int,
                     repeatText: Int): DataFrame = {
    import spark.implicits._
    // plain read (no util.Scans.spread): the ~1 KB/page build map is
    // light enough that hash-repartitioning the 5000-row fixture costs
    // more in task overhead than it buys — measured net-negative for the
    // pages-based aggregate queries (see OPTIMIZATION_r06.md); amplified
    // corpora are staged with an explicit repartition by their builders.
    val base0 = documents(spark, sfDir)
    val base = if (repeatText <= 1) base0
      else base0.select($"doc_id",
        concat_ws(" ", array_repeat($"text", repeatText)).as("text"), $"lang")
    val rep = if (k <= 1) base
      else base.crossJoin(spark.range(k).toDF("r"))
        .select(($"doc_id" + $"r" * 10000000L).as("doc_id"), $"text", $"lang")
    rep.as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (id, PageHtml.url(id), tsFor(id), htmlFor(id, text, lang), text, lang)
      }
      .toDF("doc_id", "url", "warc_ts", "html", "text", "lang")
  }
}
