package graft.tools

import graft.extract.Extractor
import graft.fixtures.GoldenCases

/** One-time golden freeze (FIXTURES.md §2): runs the engine over the
  * adversarial corpus and writes inputs + outputs as the checked-in
  * golden parquet. Re-run ONLY on a deliberate, reviewed behavior change
  * — GoldenSpec failing is the alarm, regenerating is the override.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("src/test/resources/golden/golden.parquet")
    val spark = Probe.session(2)
    import spark.implicits._

    val rows = GoldenCases.cases.map { case (url, html, lang) =>
      Extractor.extract(url, html, lang) match {
        case Right(d) => (url, html, lang, d.extracted_text,
          d.spans.map(s => (s.kind, s.start, s.end, s.text)), null: String)
        case Left(bad) => (url, html, lang, null: String,
          null: Seq[(String, Long, Long, String)], bad.reason)
      }
    }
    rows.toDF("url", "html", "lang", "expected_text", "expected_spans", "expected_error")
      .coalesce(1)
      .write.mode("overwrite").parquet(out)
    println(s"frozen ${rows.size} golden cases -> $out")
    spark.stop()
  }
}
