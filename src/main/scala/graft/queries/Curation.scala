package graft.queries

import graft.fixtures.Corpus.documents
import graft.functions.GraftFunctions.fp60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the composition layer a training-data
  * pipeline runs on top of the per-doc analyses: deterministic
  * (salt-keyed, reproducible) dataset splitting, and the full
  * filter → dedup → split → shard curation pass that turns a raw crawl
  * table into training shards. Everything is md5-60bit arithmetic so
  * DuckDB reproduces each assignment bit-for-bit.
  *
  * Scale notes: split/shard assignment is pure map-side expression
  * (zero shuffles); the curation pass shuffles once, on md5(text)
  * (32-byte keys, map-side partial agg) for exact dedup, then projects
  * — the same shape as d_exact_canonical.
  */
object Curation {

  private def splitCol(idCol: Column): Column = {
    val b = pmod(fp60(concat(lit("split:"), idCol.cast("string"))), lit(100L))
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  private def shardCol(idCol: Column): Column =
    pmod(fp60(concat(lit("shard:"), idCol.cast("string"))), lit(8L))

  /** the t_quality keep rule (>=30 words, avg word length < 8) */
  private def qualityOk: Column =
    size(split(col("text"), " ")) >= 30 &&
      (length(col("text")) - size(split(col("text"), " ")) + 1).cast("double") /
        size(split(col("text"), " ")) < 8.0

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // deterministic, reproducible train/val/test assignment: salted
    // 60-bit hash of the stable key → 80/10/10 buckets. Map-side only —
    // the assignment never shuffles, and rerunning (or adding docs)
    // never reassigns an existing doc (the property real pipelines need
    // to keep held-out sets uncontaminated across corpus versions).
    "c_split" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        pmod(fp60(concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
          .as("bucket"),
        splitCol(col("doc_id")).as("split"))
        .orderBy(col("doc_id"))),

    // the composed curation pass: quality filter → exact dedup (keep the
    // canonical doc of each identical-text group) → split + shard
    // assignment. One shuffle total (dedup hash); filters run before it
    // so boilerplate never crosses the wire.
    "c_curate" -> ((s, dir) => {
      val good = documents(s, dir).where(qualityOk)
        .select(col("doc_id"), md5(col("text")).as("th"))
      val canon = good.groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
      canon.select(
        col("doc_id"),
        splitCol(col("doc_id")).as("split"),
        shardCol(col("doc_id")).as("shard"))
        .orderBy(col("doc_id"))
    }),

    // shard manifest: docs + bytes per (split, shard) — the balance
    // check a sharded training run does before reading anything
    "c_shard_stats" -> ((s, dir) => {
      val good = documents(s, dir).where(qualityOk)
        .select(col("doc_id"), col("text"), md5(col("text")).as("th"))
      val canon = good.groupBy(col("th"))
        .agg(min(col("doc_id")).as("doc_id"), first(length(col("text"))).as("n_chars"))
      canon.select(splitCol(col("doc_id")).as("split"),
          shardCol(col("doc_id")).as("shard"), col("n_chars"))
        .groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"), col("shard"))
    }),

    // stratified downsampling to a balanced language mixture: each lang
    // stratum keeps docs at rate min_lang_count / stratum_count via a
    // deterministic salted-hash Bernoulli draw (hash % n < m), so the
    // sample is reproducible and a rerun never swaps documents in or
    // out. The per-stratum stats table is #strata rows — broadcast by
    // construction; the draw itself is a pure map-side filter, so the
    // whole operator is one tiny agg + one narrow pass over the corpus.
    "c_sample" -> ((s, dir) => {
      val d = documents(s, dir)
      val stats = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val floorN = stats.agg(min(col("n")).as("mn"))
      d.join(broadcast(stats), "lang")
        .crossJoin(broadcast(floorN))
        .where(pmod(fp60(concat(lit("sample:"), col("doc_id").cast("string"))),
          col("n")) < col("mn"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // concatenate-then-chunk sequence packing: within each shard, docs
    // (in stable doc_id order) are laid out as one token stream and cut
    // into 512-token training sequences; each doc reports its stream
    // offset and the first/last sequence it lands in. The running sum is
    // windowed per shard, so the sort is shard-local and shards pack in
    // parallel — at 10^12 docs the parallelism is #shards, which a real
    // export sets ≫ #executors (here 8 for the oracle's sake).
    "c_pack" -> ((s, dir) => {
      val base = documents(s, dir).select(
        col("doc_id"),
        shardCol(col("doc_id")).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          (col("cum") - col("n_tok")).as("tok_offset"),
          expr("(cum - n_tok) div 512").as("first_seq"),
          expr("(cum - 1) div 512").as("last_seq"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: any training doc sharing an 8-word
    // n-gram with the held-out eval suite (here: doc_id % 41 == 3 plays
    // the benchmark) is flagged. Eval suites are small by nature, so
    // their distinct gram-hash set is explicitly broadcast; the corpus
    // side is a narrow explode → semi-join → distinct — no shuffle of
    // document text, only 8-byte gram hashes.
    "c_decontaminate" -> ((s, dir) => {
      // spread (util.Scans): the per-position 8-gram fp60 explode is the
      // heavy map stage — ~n_words hashes per doc
      val d = graft.util.Scans.spread(documents(s, dir), col("doc_id"))
      // ws is PROJECTED once per row, not an inlined Column: an inlined
      // split(text) inside the transform lambda re-splits the whole
      // document per gram index — O(len²) per doc, a hang on multi-MB
      // documents (caught by tools/SpillProbe's giant-doc case)
      val dw = d.withColumn("ws", split(col("text"), " "))
      // cached: the eval-side distinct AND the corpus-side semi-join both
      // read the gram table, so the per-position fp60 explode (the heavy
      // map) previously ran twice per action; rows are (doc_id, 8-byte
      // hash) — narrow by construction, released at the query boundary
      val grams = graft.util.CacheScope.cached(
        dw.where(size(col("ws")) >= 8).select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 7),
            i => fp60(array_join(slice(col("ws"), i, lit(8)), " ")))).as("gh")))
      val evalGrams = grams.where(col("doc_id") % 41 === 3)
        .select(col("gh")).distinct()
      val contaminated = grams.where(col("doc_id") % 41 =!= 3)
        .join(broadcast(evalGrams), Seq("gh"), "left_semi")
        .select(col("doc_id")).distinct()
      d.where(col("doc_id") % 41 =!= 3)
        .join(contaminated.withColumn("hit", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hit"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    }))

  private val fp60Duck = (k: String) => s"('0x'||substr(md5($k),1,15))::BIGINT"

  private val splitDuck =
    s"CASE WHEN ${fp60Duck("'split:'||doc_id")} % 100 < 80 THEN 'train' " +
      s"WHEN ${fp60Duck("'split:'||doc_id")} % 100 < 90 THEN 'val' ELSE 'test' END"

  private val shardDuck = s"${fp60Duck("'shard:'||doc_id")} % 8"

  private val qualityDuck =
    """len(string_split(text,' ')) >= 30
      |  AND (length(text) - len(string_split(text,' ')) + 1)*1.0
      |      / len(string_split(text,' ')) < 8.0""".stripMargin

  val oracles: Map[String, String] = Map(
    "c_split" ->
      s"""SELECT doc_id,
         |  ${fp60Duck("'split:'||doc_id")} % 100 AS bucket,
         |  $splitDuck AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "c_curate" ->
      s"""WITH good AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE $qualityDuck),
         |canon AS (
         |  SELECT min(doc_id) AS doc_id FROM good GROUP BY text)
         |SELECT doc_id, $splitDuck AS split,
         |  CAST($shardDuck AS BIGINT) AS shard
         |FROM canon ORDER BY doc_id""".stripMargin,

    "c_shard_stats" ->
      s"""WITH good AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE $qualityDuck),
         |canon AS (
         |  SELECT min(doc_id) AS doc_id, length(min_by(text, doc_id)) AS n_chars
         |  FROM good GROUP BY text)
         |SELECT $splitDuck AS split, CAST($shardDuck AS BIGINT) AS shard,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM canon GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,

    "c_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS mn FROM c)
         |SELECT d.doc_id, d.lang FROM documents d JOIN c USING (lang), m
         |WHERE ${fp60Duck("'sample:'||d.doc_id")} % c.n < m.mn
         |ORDER BY d.doc_id""".stripMargin,

    "c_pack" ->
      s"""WITH base AS (
         |  SELECT doc_id, $shardDuck AS shard,
         |    len(string_split(text, ' ')) AS n_tok FROM documents),
         |w AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM base)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
         |  CAST(cum - n_tok AS BIGINT) AS tok_offset,
         |  CAST((cum - n_tok) // 512 AS BIGINT) AS first_seq,
         |  CAST((cum - 1) // 512 AS BIGINT) AS last_seq
         |FROM w ORDER BY doc_id""".stripMargin,

    "c_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id,
         |    ${fp60Duck("array_to_string(w[i:i+7], ' ')")} AS gh
         |  FROM toks, UNNEST(CASE WHEN len(w) >= 8
         |    THEN range(1, len(w) - 6) ELSE [] END) AS t(i)),
         |ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 41 = 3),
         |contam AS (SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (gh)
         |  WHERE g.doc_id % 41 <> 3)
         |SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN contam c ON d.doc_id = c.doc_id
         |WHERE d.doc_id % 41 <> 3 ORDER BY d.doc_id""".stripMargin)
}
