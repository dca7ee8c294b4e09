package graft.queries

import graft.fixtures.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` asset columns with typed
  * metadata, decoded/feature-extracted inside a typed Dataset map (the
  * Scala analog of a batched Pandas UDF stage).
  *
  * STUB NOTICE: no image/audio codecs resolve in this offline sandbox, so
  * the codec is a deterministic fake format ("GQ" header: magic, 2-byte
  * big-endian width/height, channel byte, 16 payload bytes; "GV" video:
  * magic + 12 frames × 8 bytes). The Spark-side plumbing — binary column,
  * schema, partition-parallel decode, feature extraction — is real and
  * byte-level; only the codec itself is fake. Every derived feature is a
  * pure integer function of doc_id, so DuckDB predicts the decoded output
  * without ever seeing the bytes.
  */
object Multimodal {

  // --- fake codecs (deterministic, doc_id-keyed) -----------------------

  val PayloadLen = 16
  val NumFrames = 12
  val FrameBytes = 8

  def width(id: Long): Int = (64 + id % 192).toInt
  def height(id: Long): Int = (48 + id % 144).toInt
  def channels(id: Long): Int = (1 + id % 3).toInt

  def encodeImage(id: Long): Array[Byte] = {
    val w = width(id); val h = height(id); val c = channels(id)
    val out = new Array[Byte](7 + PayloadLen)
    out(0) = 'G'; out(1) = 'Q'
    out(2) = (w >> 8).toByte; out(3) = (w & 0xff).toByte
    out(4) = (h >> 8).toByte; out(5) = (h & 0xff).toByte
    out(6) = c.toByte
    var i = 0
    while (i < PayloadLen) { out(7 + i) = ((id * 31 + i * 7) % 251).toByte; i += 1 }
    out
  }

  val AudioSamples = 64 // fake 8-bit "waveform" samples
  val AudioWindow = 16

  def encodeAudio(id: Long): Array[Byte] = {
    val out = new Array[Byte](2 + AudioSamples)
    out(0) = 'G'; out(1) = 'A'
    var i = 0
    while (i < AudioSamples) { out(2 + i) = ((id * 17 + i * i) % 251).toByte; i += 1 }
    out
  }

  def encodeVideo(id: Long): Array[Byte] = {
    val out = new Array[Byte](2 + NumFrames * FrameBytes)
    out(0) = 'G'; out(1) = 'V'
    var f = 0
    while (f < NumFrames) {
      var j = 0
      while (j < FrameBytes) {
        out(2 + f * FrameBytes + j) = ((id * 131 + f * 17 + j) % 251).toByte
        j += 1
      }
      f += 1
    }
    out
  }

  /** real byte-level parse of the fake image format */
  def decodeImage(b: Array[Byte]): (Int, Int, Int, Double) = {
    require(b.length >= 7 + PayloadLen && b(0) == 'G' && b(1) == 'Q', "bad image magic")
    val w = ((b(2) & 0xff) << 8) | (b(3) & 0xff)
    val h = ((b(4) & 0xff) << 8) | (b(5) & 0xff)
    val c = b(6) & 0xff
    var sum = 0L
    var i = 0
    while (i < PayloadLen) { sum += (b(7 + i) & 0xff); i += 1 }
    (w, h, c, sum.toDouble / PayloadLen) // /16 → exact in binary fp
  }

  /** fake "scanned document" codec ("GS" magic + newline-separated line
    * texts): doc_id%10==5 → undecodable bytes, %10==0 → a scan with zero
    * recognized lines, else 1 + id%4 lines of one word each
    */
  def encodeScan(id: Long): Array[Byte] =
    if (id % 10 == 5) graft.fixtures.PageHtml.garbageBytes(id, 32)
    else {
      val n = if (id % 10 == 0) 0 else (1 + id % 4).toInt
      ("GS" + (0 until n).map(i => s"w${id}l$i").mkString("\n"))
        .getBytes("UTF-8")
    }

  /** decode → Some(line texts) or None on bad magic (never throws) */
  def decodeScan(b: Array[Byte]): Option[Seq[String]] =
    if (b == null || b.length < 2 || b(0) != 'G' || b(1) != 'S') None
    else {
      val body = new String(b, 2, b.length - 2, "UTF-8")
      Some(if (body.isEmpty) Nil else body.split('\n').toSeq)
    }

  // plain read: the fake-codec encode map is ~100 bytes/row — measured
  // neutral-to-negative under the scan spread (see OPTIMIZATION_r06.md)
  private def assets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.documents(s, dir)
      .select(col("doc_id")).as[Long]
      .map(id => (id, encodeImage(id), encodeVideo(id), encodeAudio(id)))
      .toDF("doc_id", "img", "vid", "aud")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // decode + feature-extract: header metadata + mean payload intensity
    "mm_image_meta" -> ((s, dir) => {
      import s.implicits._
      assets(s, dir).select(col("doc_id"), col("img"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val (w, h, c, mean) = decodeImage(b)
          (id, w, h, c, mean)
        }
        .toDF("doc_id", "width", "height", "channels", "mean_intensity")
        .orderBy(col("doc_id"))
    }),

    // metadata-level resize (aspect-preserving fit into 32×32, integer
    // arithmetic so the oracle matches exactly)
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      assets(s, dir).select(col("doc_id"), col("img"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val (w, h, _, _) = decodeImage(b)
          val m = math.max(w, h)
          (id, w, h, w * 32 / m, h * 32 / m)
        }
        .toDF("doc_id", "width", "height", "new_w", "new_h")
        .orderBy(col("doc_id"))
    }),

    // audio feature extraction: integer energy (sum of squared samples)
    // per fixed window over the fake waveform — real byte parsing
    "mm_audio_energy" -> ((s, dir) => {
      import s.implicits._
      assets(s, dir).select(col("doc_id"), col("aud"))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, b) =>
          require(b(0) == 'G' && b(1) == 'A', "bad audio magic")
          (0 until AudioSamples / AudioWindow).map { w =>
            var e = 0L
            var j = 0
            while (j < AudioWindow) {
              val v = (b(2 + w * AudioWindow + j) & 0xff).toLong
              e += v * v
              j += 1
            }
            (id, w, e)
          }
        }
        .toDF("doc_id", "win", "energy")
        .orderBy(col("doc_id"), col("win"))
    }),

    // the reference's OCR operator contract VERBATIM over a binary scan
    // column (/root/reference/src/ocr_engine.py:51-64): tolerant decode
    // (None → "" + skip, never throw), empty result → "" (both E5
    // branches), projection to line texts, " ".join fold — with the
    // single-word no-separator case (test_ocr_engine.py:114-139) landing
    // on every doc_id%4==0 scan. Codec stubbed (no OCR runtime offline),
    // byte plumbing + contract real; the oracle predicts every string.
    "mm_ocr" -> ((s, dir) => {
      import s.implicits._
      Corpus.documents(s, dir)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val text = decodeScan(encodeScan(id)) match {
            case None => ""                           // E1: undecodable
            case Some(lines) if lines.isEmpty => ""   // E5: empty result
            case Some(lines) => lines.mkString(" ")   // V2+V3 fold
          }
          (id, text)
        }
        .toDF("doc_id", "scan_text")
        .orderBy(col("doc_id"))
    }),

    // frame sampling: every 3rd frame, per-frame byte-sum digest
    "mm_frame_sample" -> ((s, dir) => {
      import s.implicits._
      assets(s, dir).select(col("doc_id"), col("vid"))
        .as[(Long, Array[Byte])]
        .flatMap { case (id, b) =>
          require(b(0) == 'G' && b(1) == 'V', "bad video magic")
          (0 until NumFrames by 3).map { f =>
            var sum = 0L
            var j = 0
            while (j < FrameBytes) { sum += (b(2 + f * FrameBytes + j) & 0xff); j += 1 }
            (id, f, sum)
          }
        }
        .toDF("doc_id", "frame_idx", "frame_digest")
        .orderBy(col("doc_id"), col("frame_idx"))
    }))

  val oracles: Map[String, String] = Map(
    "mm_image_meta" ->
      s"""SELECT doc_id,
         |  64 + doc_id % 192 AS width,
         |  48 + doc_id % 144 AS height,
         |  1 + doc_id % 3 AS channels,
         |  (SELECT sum((doc_id*31 + i*7) % 251)
         |     FROM generate_series(0, ${PayloadLen - 1}) t(i)) / ${PayloadLen}.0
         |    AS mean_intensity
         |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + doc_id % 192 AS width, 48 + doc_id % 144 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  width * 32 // greatest(width, height) AS new_w,
        |  height * 32 // greatest(width, height) AS new_h
        |FROM m ORDER BY doc_id""".stripMargin,
    "mm_audio_energy" ->
      s"""SELECT doc_id, w AS win,
         |  CAST((SELECT sum(((doc_id*17 + (w*$AudioWindow+j)*(w*$AudioWindow+j)) % 251)
         |            * ((doc_id*17 + (w*$AudioWindow+j)*(w*$AudioWindow+j)) % 251))
         |     FROM generate_series(0, ${AudioWindow - 1}) t(j)) AS BIGINT) AS energy
         |FROM documents CROSS JOIN (VALUES (0), (1), (2), (3)) v(w)
         |ORDER BY doc_id, win""".stripMargin,
    "mm_ocr" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id%10 = 5 OR doc_id%10 = 0 THEN ''
        |       ELSE array_to_string(list_transform(
        |         generate_series(0, CAST(doc_id%4 AS INT)),
        |         i -> 'w'||doc_id||'l'||i), ' ')
        |  END AS scan_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      s"""SELECT doc_id, f AS frame_idx,
         |  CAST((SELECT sum((doc_id*131 + f*17 + j) % 251)
         |     FROM generate_series(0, ${FrameBytes - 1}) t(j)) AS BIGINT)
         |    AS frame_digest
         |FROM documents CROSS JOIN (VALUES (0), (3), (6), (9)) v(f)
         |ORDER BY doc_id, frame_idx""".stripMargin)
}
