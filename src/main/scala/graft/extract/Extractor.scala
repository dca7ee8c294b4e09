package graft.extract

import graft.html.Tokenizer
import graft.model.{BadRow, ExtractedDoc}
import scala.util.control.NonFatal

/** The per-record extraction operator (op C1 in SURVEY.md §2.4) — the pure
  * composition V1 → E1 → E2 → E3 → E4 → E5 → V2 → V3 → V4, exactly one
  * record per call, mirroring the reference's `process_message`
  * (/root/reference/src/kafka_consumer.py:33-71).
  *
  * Error contract mirrors the reference's 3-way router
  * (/root/reference/src/kafka_consumer.py:135-142): validation failures,
  * payload (blob) failures, and unexpected failures each route to a
  * [[BadRow]] with a reason code; the job NEVER fails on a bad record.
  * Undecodable bytes and empty pages are NOT errors — they produce a valid
  * row with `extracted_text = ""` (/root/reference/src/ocr_engine.py:54-61).
  */
object Extractor {

  def extract(url: String, html: Array[Byte], lang: String): Either[BadRow, ExtractedDoc] = {
    // V1: strict validation — required keys present (the analog of
    // Pydantic's required-field check, /root/reference/src/kafka_models.py:6-18)
    if (url == null || url.isEmpty) return Left(BadRow(url, "validation"))
    if (html == null) return Left(BadRow(url, "validation"))
    try {
      Tokenizer.decode(html) match {
        case None =>
          // E1 tolerant route: undecodable payload → "" row, not an error
          Right(ExtractedDoc(url, "", Nil))
        case Some(s) =>
          val spans = Spans.extract(html) // may throw PayloadException → "payload"
          // fully-fused pass: string → blocks (≡ DOM build + tree walk of
          // the test-scope BlocksReference, differential-tested in
          // BlocksFusionSpec)
          val blocks = Blocks.fromHtml(s)
          val text = Classifier.extractText(blocks, lang) // "" for zero kept blocks (E5)
          Right(ExtractedDoc(url, text, spans))
      }
    } catch {
      case PayloadException(_) => Left(BadRow(url, "payload"))
      case NonFatal(_)         => Left(BadRow(url, "unexpected"))
    }
  }
}
