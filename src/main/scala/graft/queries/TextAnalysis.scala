package graft.queries

import graft.fixtures.Corpus.documents
import graft.functions.GraftFunctions.fp60
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword-marker heuristic), quality scoring (length / word-shape /
  * stopword ratios), token counting (whitespace + regex), and document
  * fingerprinting (md5 + 60-bit numeric fp — md5 is bit-identical across
  * Spark and DuckDB, so fingerprints are oracle-checkable, unlike
  * engine-private hashes).
  */
object TextAnalysis {

  /** docs + scale-adaptive scan spread (util.Scans) — ONLY for the
    * queries whose per-row map fan-out is heavy (per-shingle/per-token
    * md5); measured a net loss on the cheap expression maps, which read
    * plain (see OPTIMIZATION_r06.md). */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.util.Scans.spread(documents(s, dir), col("doc_id"))

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "is", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  private def hitCol(lang: String, words: Seq[String]) = {
    val inList = words.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(ws, w -> w IN ($inList)))").as(s"${lang}_hits")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // language ID: marker-word counts per language, argmax with a fixed
    // preference order on ties; 'unknown' when no marker hits at all
    "t_langid" -> ((s, dir) => {
      val withHits = documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id") +: markers.map { case (l, w) => hitCol(l, w) }: _*)
      val best = greatest(markers.map(m => col(s"${m._1}_hits")): _*)
      withHits
        .withColumn("lang_pred",
          when(best === 0, lit("unknown"))
            .when(col("en_hits") === best, lit("en"))
            .when(col("de_hits") === best, lit("de"))
            .when(col("fr_hits") === best, lit("fr"))
            .otherwise(lit("es")))
        .select(col("doc_id"), col("lang_pred"), col("en_hits"), col("de_hits"),
          col("fr_hits"), col("es_hits"))
        .orderBy(col("doc_id"))
    }),

    // quality scoring: all features integer-derived → exact cross-engine
    "t_quality" -> ((s, dir) => {
      documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n_chars", length(col("text")))
        .withColumn("n_words", size(col("ws")))
        .withColumn("sw_hits", expr("size(filter(ws, w -> w IN ('the', 'a', 'of', 'is', 'and')))"))
        .select(
          col("doc_id"), col("n_chars"), col("n_words"),
          round((col("n_chars") - col("n_words") + 1).cast("double") / col("n_words"), 4)
            .as("avg_word_len"),
          round(col("sw_hits").cast("double") / col("n_words"), 4).as("stopword_ratio"),
          when(col("n_words") >= 30 &&
            (col("n_chars") - col("n_words") + 1).cast("double") / col("n_words") < 8.0, 1)
            .otherwise(0).as("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // token counting: whitespace, regex word-ish tokens, distinct count
    "t_tokens" -> ((s, dir) => {
      documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("ws")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("re_tokens"),
          size(array_distinct(col("ws"))).as("distinct_tokens"))
        .orderBy(col("doc_id"))
    }),

    // winnowing fingerprints (MOSS-style rolling-window scheme, the
    // dedup/plagiarism fingerprint family): hash every 3-word shingle,
    // keep the MIN hash in each sliding window of 4 — a document is
    // represented by a small, alignment-robust fingerprint set. Hashes
    // are md5-60bit so DuckDB reproduces them exactly.
    "t_winnow" -> ((s, dir) => {
      // MAP-SIDE rolling min: the windows are per-document and documents
      // are bounded, so the rolling min over each 4-shingle window and
      // the per-doc distinct both compute inside one array expression —
      // no Window shuffle+sort on (doc_id, pos) and no global distinct
      // exchange (distinct per doc == global distinct since doc_id is in
      // the key). Same hashes, same fingerprint set, same output.
      docsSpread(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .where(size(col("ws")) >= 3)
        .withColumn("hs", transform(sequence(lit(0), size(col("ws")) - 3),
          i => fp60(array_join(slice(col("ws"), i + 1, lit(3)), " "))))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(hs)-1)," +
            " i -> array_min(slice(hs, i+1, 4))))")).as("fingerprint"))
        .orderBy(col("doc_id"), col("fingerprint"))
    }),

    // Gopher-style repetition signals (Rae et al. 2021 §A1.1 — the
    // published corpus-filter heuristics): top-word fraction, duplicated-
    // word mass, top-2-gram fraction. Computed per doc in a typed map —
    // zero shuffles, and all outputs are INTEGER counts (numerator/
    // denominator pairs) so no float rounding can diverge cross-engine;
    // the filter threshold itself is the consumer's choice.
    "t_repetition" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val ws = text.split(' ')
          val n = ws.length
          val wc = new java.util.HashMap[String, Int]()
          var i = 0
          while (i < n) { wc.merge(ws(i), 1, Integer.sum); i += 1 }
          var topW = 0
          var dupMass = 0
          val it = wc.values().iterator()
          while (it.hasNext) {
            val c = it.next()
            if (c > topW) topW = c
            if (c > 1) dupMass += c
          }
          val gc = new java.util.HashMap[String, Int]()
          i = 0
          while (i < n - 1) { gc.merge(ws(i) + " " + ws(i + 1), 1, Integer.sum); i += 1 }
          var topG = 0
          val git = gc.values().iterator()
          while (git.hasNext) { val c = git.next(); if (c > topG) topG = c }
          (id, n.toLong, topW.toLong, dupMass.toLong,
            math.max(n - 1, 0).toLong, topG.toLong)
        }
        .toDF("doc_id", "n_words", "top_word_cnt", "dup_word_mass",
          "n_2grams", "top_2gram_cnt")
        .orderBy(col("doc_id"))
    }),

    // document fingerprinting: md5 digest + numeric 60-bit fp
    "t_fingerprint" -> ((s, dir) => {
      documents(s, dir)
        .select(
          col("doc_id"),
          md5(col("text")).as("fp_md5"),
          fp60(col("text")).as("fp60"))
        .orderBy(col("doc_id"))
    }),

    // PII detection + scrubbing — the pre-training privacy pass: count
    // email / phone matches and emit the masked text. PII instances are
    // planted deterministically (doc_id routing) so DuckDB predicts every
    // match; patterns are kept in the Java∩RE2 common regex subset so the
    // two engines match identically. Pure map-side — zero shuffles at any
    // corpus size (the orderBy is presentation-only).
    "t_pii" -> ((s, dir) => {
      val withPii = documents(s, dir).withColumn("t2",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact agent"), col("doc_id"),
              lit("@mail.example.com for details"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" now"))).otherwise(lit(""))))
      withPii.select(
          col("doc_id"),
          size(regexp_extract_all(col("t2"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0))).as("n_phones"),
          regexp_replace(regexp_replace(col("t2"), PhoneRe, "<PHONE>"),
            EmailRe, "<EMAIL>").as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization — the canonical-composition pass every
    // web pipeline runs BEFORE hashing/dedup (CCNet, C4): the same
    // accent encoded as a combining sequence vs a precomposed char, or
    // compatibility singletons like U+212B ANGSTROM vs U+00C5 Å,
    // otherwise defeat byte-equality dedup. Runs through the native
    // codegen `nfc_normalize` Expression (functions.NfcNormalize — no
    // UDF); planted denormalized suffixes (combining acute on
    // doc_id%13==2, the ANGSTROM singleton + an already-NFC ß on %13==7)
    // make the oracle discriminating: DuckDB's nfc_normalize must
    // produce byte-identical output and the codepoint delta proves the
    // combining pairs actually collapsed. Pure map-side.
    "t_normalize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val planted = documents(s, dir).withColumn("t2", concat(col("text"),
        when(col("doc_id") % 13 === 2, lit(" café résumé"))
          .when(col("doc_id") % 13 === 7, lit(" straße Å"))
          .otherwise(lit(""))))
      planted.select(col("doc_id"),
          call_function("nfc_normalize", col("t2")).as("norm_text"),
          (length(col("t2")) -
            length(call_function("nfc_normalize", col("t2"))))
            .cast("long").as("cp_delta"))
        .orderBy(col("doc_id"))
    }),

    // C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the rules
    // behind the C4 corpus): docs are chunked into 5-word lines with
    // deterministically planted defects (missing terminal punctuation on
    // (doc_id+i)%5==2, a "javascript" token on (doc_id+i)%13==3, a
    // "lorem ipsum" line appended on doc_id%29==11); the filter keeps
    // lines that end in terminal punctuation, have >= 3 words, and do
    // not mention javascript, drops the ENTIRE doc when lorem ipsum
    // appears anywhere, and marks docs with >= 3 surviving lines as
    // keepable. Runs through the Gates.c4Filter OPERATOR (user-suppliable
    // rules; the defaults ARE the C4 rule set this oracle replays). Pure
    // map-side (per-row array ops — lines are bounded, each split once);
    // the oracle replays every plant and rule in SQL.
    "t_c4_filters" -> ((s, dir) => {
      val d = documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("l0", expr(
          "transform(sequence(0, cast(ceil(size(ws)/5.0) as int)-1)," +
            " i -> concat_ws(' ', slice(ws, i*5+1, 5)))"))
        .withColumn("l1", expr(
          "transform(l0, (l, i) -> CASE WHEN (doc_id + i) % 13 = 3" +
            " THEN concat(l, ' javascript') ELSE l END)"))
        .withColumn("l2", expr(
          "transform(l1, (l, i) -> CASE WHEN (doc_id + i) % 5 = 2" +
            " THEN l ELSE concat(l, '.') END)"))
        .withColumn("lines", expr(
          "CASE WHEN doc_id % 29 = 11" +
            " THEN concat(l2, array('lorem ipsum dolor.')) ELSE l2 END"))
      graft.curation.Gates.c4Filter(d, graft.curation.Gates.C4Rules())
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("doc_keep"), col("kept_text"))
        .orderBy(col("doc_id"))
    }),

    // hashed linear quality model — the fastText-style classifier shape
    // (DCLM / FineWeb-Edu filtering): tokens hash into 64 feature
    // buckets, a broadcast weight table scores each, per-doc sum decides
    // keep/drop. Integer weights keep it bit-exact across engines; the
    // real-model swap is just a bigger weight table behind the same
    // broadcast join. Scale shape: narrow explode → 8-byte bucket ids →
    // broadcast join (weights are KBs even for 10^6 buckets) → partial
    // agg on doc_id.
    "t_model_score" -> ((s, dir) => {
      val weights = s.range(0, 64).select(col("id").as("j"),
        (pmod(col("id") * 2654435761L, lit(17L)) - 8).as("w"))
      docsSpread(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), pmod(fp60(concat(lit("w:"), col("tok"))), lit(64L)).as("j"))
        .join(broadcast(weights), "j")
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("score"), count(lit(1)).as("n_tok"))
        .select(col("doc_id"), col("score"), col("n_tok"),
          (col("score") >= 0).as("keep"))
        .orderBy(col("doc_id"))
    }))

  /** Java-regex ∩ RE2 (DuckDB) common subset — no backrefs/lookarounds. */
  private val EmailRe = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
  private val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"

  val oracles: Map[String, String] = Map(
    "t_langid" -> {
      def hits(l: String, ws: Seq[String]) =
        s"len(list_filter(string_split(text,' '), w -> w IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS ${l}_hits"
      val cols = markers.map { case (l, w) => hits(l, w) }.mkString(",\n  ")
      s"""WITH h AS (
         |  SELECT doc_id,
         |  $cols
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'unknown'
         |       WHEN en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'en'
         |       WHEN de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'de'
         |       WHEN fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  en_hits, de_hits, fr_hits, es_hits
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "t_quality" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) n_chars,
        |    len(string_split(text,' ')) n_words,
        |    len(list_filter(string_split(text,' '),
        |      w -> w IN ('the', 'a', 'of', 'is', 'and'))) sw_hits
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        |  round((n_chars - n_words + 1)*1.0/n_words, 4) AS avg_word_len,
        |  round(sw_hits*1.0/n_words, 4) AS stopword_ratio,
        |  CASE WHEN n_words >= 30
        |    AND (n_chars - n_words + 1)*1.0/n_words < 8.0 THEN 1 ELSE 0 END
        |    AS quality_ok
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
        |  len(list_distinct(string_split(text,' '))) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_winnow" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |idx AS (
        |  -- bound derived from the row itself: no silent cap on doc length
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
        |  FROM toks WHERE len(ws) >= 3),
        |sh AS (
        |  SELECT doc_id, i-1 AS pos,
        |    ('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]),1,15))::BIGINT h
        |  FROM idx),
        |wm AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
        |  FROM sh)
        |SELECT DISTINCT doc_id, fingerprint FROM wm
        |ORDER BY doc_id, fingerprint""".stripMargin,
    "t_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(ws) AS tok FROM toks),
        |wc AS (SELECT doc_id, tok, count(*) c FROM w GROUP BY 1,2),
        |wstats AS (
        |  SELECT doc_id, max(c) AS top_word_cnt,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_word_mass
        |  FROM wc GROUP BY 1),
        |gi AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i FROM toks),
        |gc AS (
        |  SELECT doc_id, ws[i]||' '||ws[i+1] AS g, count(*) c
        |  FROM gi GROUP BY 1,2),
        |gstats AS (SELECT doc_id, max(c) AS top_2gram_cnt FROM gc GROUP BY 1),
        |base AS (
        |  SELECT doc_id, len(ws) AS n_words,
        |    greatest(len(ws)-1, 0) AS n_2grams
        |  FROM toks)
        |SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
        |  CAST(w.top_word_cnt AS BIGINT) AS top_word_cnt,
        |  w.dup_word_mass,
        |  CAST(b.n_2grams AS BIGINT) AS n_2grams,
        |  CAST(coalesce(g.top_2gram_cnt, 0) AS BIGINT) AS top_2gram_cnt
        |FROM base b
        |JOIN wstats w ON b.doc_id = w.doc_id
        |LEFT JOIN gstats g ON b.doc_id = g.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
        |  ('0x'||substr(md5(text),1,15))::BIGINT AS fp60
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_pii" ->
      s"""WITH p AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id%7 = 0
         |      THEN ' contact agent' || doc_id || '@mail.example.com for details'
         |      ELSE '' END ||
         |    CASE WHEN doc_id%11 = 0
         |      THEN ' call +1-555-' || lpad(CAST(doc_id%10000 AS VARCHAR), 4, '0') || ' now'
         |      ELSE '' END AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t2, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(t2, '$PhoneRe')) AS n_phones,
         |  regexp_replace(regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g'),
         |    '$EmailRe', '<EMAIL>', 'g') AS scrubbed
         |FROM p ORDER BY doc_id""".stripMargin,

    // chr(769) = U+0301 combining acute, chr(223) = ß, chr(8491) =
    // U+212B ANGSTROM — the same planted bytes as the Spark side;
    // DuckDB's own nfc_normalize is the independent implementation
    "t_normalize" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id%13 = 2
        |      THEN ' cafe'||chr(769)||' re'||chr(769)||'sume'||chr(769)
        |         WHEN doc_id%13 = 7 THEN ' stra'||chr(223)||'e '||chr(8491)
        |         ELSE '' END AS t2
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t2) AS norm_text,
        |  CAST(length(t2) - length(nfc_normalize(t2)) AS BIGINT) AS cp_delta
        |FROM p ORDER BY doc_id""".stripMargin,

    "t_c4_filters" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |li AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(0, CAST(ceil(len(ws)/5.0) AS BIGINT)-1)) AS i
        |  FROM toks),
        |l0 AS (
        |  SELECT doc_id, i, array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS l
        |  FROM li),
        |l1 AS (
        |  SELECT doc_id, i,
        |    CASE WHEN (doc_id+i)%13 = 3 THEN l || ' javascript' ELSE l END AS l
        |  FROM l0),
        |l2 AS (
        |  SELECT doc_id, i,
        |    CASE WHEN (doc_id+i)%5 = 2 THEN l ELSE l || '.' END AS l
        |  FROM l1),
        |lall AS (
        |  SELECT doc_id, i, l FROM l2
        |  UNION ALL
        |  SELECT doc_id, 1000000 AS i, 'lorem ipsum dolor.' AS l
        |  FROM documents WHERE doc_id%29 = 11),
        |flag AS (
        |  SELECT doc_id,
        |    max(CASE WHEN l LIKE '%lorem ipsum%' THEN 1 ELSE 0 END) AS lor,
        |    count(*) AS n_lines
        |  FROM lall GROUP BY 1),
        |kept AS (
        |  SELECT doc_id, i, l FROM lall
        |  WHERE l LIKE '%.' AND len(string_split(l,' ')) >= 3
        |    AND l NOT LIKE '%javascript%'),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(l, chr(10) ORDER BY i) AS kt
        |  FROM kept GROUP BY 1)
        |SELECT f.doc_id, f.n_lines,
        |  CASE WHEN f.lor = 1 THEN 0 ELSE coalesce(a.n_kept, 0) END AS n_kept,
        |  (f.lor = 0 AND coalesce(a.n_kept, 0) >= 3) AS doc_keep,
        |  CASE WHEN f.lor = 1 THEN '' ELSE coalesce(a.kt, '') END AS kept_text
        |FROM flag f LEFT JOIN agg a ON f.doc_id = a.doc_id
        |ORDER BY f.doc_id""".stripMargin,

    "t_model_score" ->
      """WITH wt AS (
        |  SELECT j, (j * 2654435761) % 17 - 8 AS w FROM range(0, 64) t(j)),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    ('0x'||substr(md5('w:'||tok), 1, 15))::BIGINT % 64 AS j FROM tok),
        |sc AS (SELECT h.doc_id, CAST(sum(wt.w) AS BIGINT) AS score,
        |    count(*) AS n_tok
        |  FROM h JOIN wt USING (j) GROUP BY h.doc_id)
        |SELECT doc_id, score, n_tok, (score >= 0) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)
}
