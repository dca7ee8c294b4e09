package graft

import graft.queries.{Curation, Dedup, Extraction, Multimodal, Relational, Similarity, TextAnalysis}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query families (one entry per implemented operator, SURVEY.md §2):
  *   q_*  relational core (scan/filter/join/agg/window/setop/sort/scalar)
  *   x_*  the extraction engine itself (round-trip oracle on documents)
  *   d_*  deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
  *        embedding-cosine)
  *   s_*  similarity search (brute-force cosine top-k, IVF probe)
  *   t_*  text analysis (lang-id, quality, tokens, fingerprints)
  *   c_*  corpus curation (deterministic splits, filter→dedup→shard pass)
  *   mm_* multimodal binary-column plumbing (stubbed codec, real bytes)
  *   st_* Structured Streaming (AvailableNow parity with the batch oracle)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full extraction pipeline over the synthesized page corpus.
    */
  def entry(spark: SparkSession): DataFrame =
    Extraction.defs("x_extract")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ Extraction.defs ++ Dedup.defs ++ Similarity.defs ++
      TextAnalysis.defs ++ Multimodal.defs ++ Curation.defs ++
      Map[String, (SparkSession, String) => DataFrame](
      "st_events_windowed" -> ((s, dir) =>
        StreamingExtract.eventsWindowed(s, dir, "st_events_windowed_sink")),
      "st_windowed_watermark" -> ((s, dir) =>
        StreamingExtract.eventsWindowedWatermarked(s, dir, "st_windowed_wm_sink")),
      "st_sessions" -> ((s, dir) => StreamingExtract.sessionCounts(s, dir)),
      "st_session_window" -> ((s, dir) =>
        StreamingExtract.sessionWindows(s, dir, "st_session_window_sink")),
      "st_dedup" -> ((s, dir) => StreamingExtract.dedupStream(s, dir, "st_dedup_sink")),
      "st_enrich" -> ((s, dir) => StreamingExtract.enrichStream(s, dir, "st_enrich_sink")),
      "st_extract" -> ((s, dir) => StreamingExtract.extractStream(s, dir)),
      "st_warc" -> ((s, dir) => StreamingExtract.warcStream(s, dir, "st_warc_sink")),
      // the CONTINUOUS-CRAWL production path: warc-stream micro-batches
      // (2 chunks per epoch) committed through the same lineage/manifest
      // protocol as the batch job (StreamingLineage), then read back from
      // the committed table. Content-keyed staging: the stream runs once
      // per corpus content; re-runs probe the committed table. The oracle
      // replays the WARC-visible extraction contract INCLUDING the error
      // routing (errors are data in the lineage-committed table).
      "st_lineage" -> ((s, dir) => {
        // versioned by the PAGE contract, not a literal: the table's
        // bytes derive from warcStaged (a function of CorpusVersion), so
        // a corpus-version bump must re-key this artifact too. Complete =
        // every committed epoch has its run record: a table staged by a
        // writer that kept no `_metrics/` is rebuilt, not reused
        val tbl = graft.util.Staging.keyedArtifact("stlineage", dir,
          graft.fixtures.PageHtml.CorpusVersion) { p =>
          val epochs = graft.pipeline.Lineage.manifest(p.toString).epochs
          epochs.nonEmpty &&
            epochs.forall(e => java.nio.file.Files.exists(p.resolve(s"_metrics/epoch-$e.json")))
        } {
          out =>
            val warcDir = graft.queries.Extraction.warcStaged(s, dir)
            graft.pipeline.StreamingLineage.run(s, warcDir, out,
              s"$out/_checkpoint", numPids = 8, maxFilesPerTrigger = Some(2))
        }
        import org.apache.spark.sql.functions._
        graft.pipeline.StreamingLineage.docs(s, tbl)
          .select(
            element_at(split(col("url"), "/"), -1).cast("long").as("doc_id"),
            col("extracted_text"), col("error"))
          .orderBy(col("doc_id"))
      }))

  /** DuckDB-equivalent SQL per query (driver's correctness gate). Queries
    * without an entry (s_ann_ivf) get the weaker rows-only check — their
    * correctness is asserted against an in-engine baseline in QueriesSpec.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Extraction.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ TextAnalysis.oracles ++ Multimodal.oracles ++
      Curation.oracles ++ Map(
      // streaming results must equal their batch forms
      "st_events_windowed" -> Relational.oracles("q_events_windowed"),
      "st_sessions" -> Relational.oracles("q_events_sessions"),
      // streaming extraction through a durable sink = the batch
      // extraction, byte-for-byte per doc
      "st_extract" -> Extraction.oracles("x_extract"),
      // WARC ingestion through the DSv2 streaming connector = the batch
      // WARC round trip, byte-for-byte per doc
      "st_warc" -> Extraction.oracles("x_warc"),
      // the lineage-committed streaming table = the WARC-visible batch
      // extraction INCLUDING error routing: null-html pages (%20==13,
      // the validation class) produce no WARC record at all; payload/
      // unexpected rows survive as data with their reason codes
      "st_lineage" ->
        """SELECT doc_id,
          |  CASE WHEN doc_id%20 IN (3, 19) THEN NULL
          |       WHEN doc_id%20 = 7 THEN '' ELSE text END AS extracted_text,
          |  CASE WHEN doc_id%20 = 3 THEN 'unexpected'
          |       WHEN doc_id%20 = 19 THEN 'payload' END AS error
          |FROM documents WHERE doc_id%20 <> 13
          |ORDER BY doc_id""".stripMargin,
      // watermarked append mode: exactly the windows closed by
      // (global max event time − 10 min)
      // stream-static enrichment = the plain batch join
      "st_enrich" ->
        """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |ORDER BY e.event_id""".stripMargin,
      // streaming dedup of the doubled input = the original table
      "st_dedup" ->
        """SELECT event_id, user_id, event_type
          |FROM events ORDER BY event_id""".stripMargin,
      // session_window append mode: gaps-and-islands sessions (gap 30 min,
      // break at diff >= gap — Spark merges only when the next event
      // starts strictly before session end), emitted iff the session end
      // is not after the final watermark (global max event time − 10 min)
      "st_session_window" ->
        """WITH b AS (
          |  SELECT user_id, ts, event_id, value, epoch_ms(ts) AS ms,
          |    CASE WHEN lag(epoch_ms(ts)) OVER
          |        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER
          |        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
          |    THEN 1 ELSE 0 END AS brk
          |  FROM events),
          |g AS (
          |  SELECT *, sum(brk) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM b),
          |agg AS (
          |  SELECT user_id, min(ms) AS s_start_ms,
          |    max(ms) + 1800000 AS s_end_ms,
          |    count(*) AS n_events, round(sum(value), 2) AS sum_value
          |  FROM g GROUP BY user_id, sid)
          |SELECT user_id, s_start_ms, s_end_ms, n_events, sum_value
          |FROM agg
          |WHERE s_end_ms <= (SELECT epoch_ms(max(ts)) - 600000 FROM events)
          |ORDER BY s_start_ms DESC, user_id LIMIT 500""".stripMargin,
      "st_windowed_watermark" ->
        """WITH agg AS (
          |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
          |    event_type, count(*) AS n, round(sum(value),2) AS sum_value
          |  FROM events GROUP BY 1,2)
          |SELECT wstart, event_type, n, sum_value FROM agg
          |WHERE wstart + INTERVAL '5 minutes' <=
          |  (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
          |ORDER BY wstart DESC, event_type LIMIT 500""".stripMargin)
}
