package graft.model

/** A located embedded payload (PDF/layout) inside the raw html bytes.
  * `start`/`end` are byte offsets of the base64 body in the raw html.
  */
final case class Span(kind: String, start: Long, end: Long, text: String)

/** Output row. Analog of `OcrOutputMessage`
  * (/root/reference/src/kafka_models.py:21-31): ids carried through,
  * `extracted_text` may be "" (empty is a valid result, see
  * /root/reference/test/test_kafka_models.py:129-137).
  */
final case class ExtractedDoc(url: String, extracted_text: String, spans: Seq[Span])

/** Error-routed row. `reason` mirrors the reference's 3-way error router
  * (/root/reference/src/kafka_consumer.py:135-142):
  * "validation" | "payload" | "unexpected".
  */
final case class BadRow(url: String, reason: String)
