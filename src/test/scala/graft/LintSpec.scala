package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Style/lint gate — the analog of the reference's flake8 CI gate
  * (/root/reference/.github/workflows/ci-build.yml:14-55). No scalafmt
  * artifact is resolvable in this offline sandbox, so the invariants are
  * enforced directly; running inside `sbt test` wires the gate into the
  * same command CI runs (.github/workflows/ci.yml).
  */
class LintSpec extends AnyFunSuite {

  private val MaxLine = 120

  /** flake8 per-file-ignores analog: fixture files hold single-line HTML
    * template literals whose VALUES are frozen (splitting them is safe
    * but noisy; they are data, not code).
    */
  private val lineLengthExempt = Set("PageHtml.scala", "GoldenCases.scala")

  private def scalaSources: Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no tabs, no trailing whitespace, no CRLF, final newline") {
    val bad = scalaSources.flatMap { p =>
      val bytes = java.nio.file.Files.readAllBytes(p)
      val text = new String(bytes, "UTF-8")
      val issues = scala.collection.mutable.ListBuffer.empty[String]
      if (text.contains('\t')) issues += s"$p: tab character"
      if (text.contains('\r')) issues += s"$p: CRLF line ending"
      if (bytes.nonEmpty && bytes.last != '\n') issues += s"$p: missing final newline"
      text.linesIterator.zipWithIndex.foreach { case (l, i) =>
        if (l.nonEmpty && (l.last == ' ')) issues += s"$p:${i + 1}: trailing whitespace"
      }
      issues
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test(s"line length <= $MaxLine (fixture template files exempt)") {
    val bad = scalaSources
      .filterNot(p => lineLengthExempt.contains(p.getFileName.toString))
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        text.linesIterator.zipWithIndex.collect {
          case (l, i) if l.length > MaxLine => s"$p:${i + 1}: ${l.length} chars"
        }
      }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no stubs or deferred work markers in source") {
    // split so this file does not flag itself
    val markers = Seq("?" * 3, "TO" + "DO", "FIX" + "ME", "XX" + "X:")
    val bad = scalaSources.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      markers.filter(text.contains).map(m => s"$p: contains $m")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("one metrics listener: GraftMetricsListener is the only SparkListener, no private stream listener") {
    def mainText(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    val sparkListeners = main.flatMap(p =>
      """(extends|new)\s+([\w.]+\.)?SparkListener\b""".r.findAllIn(mainText(p)).map(_ => p.getFileName.toString))
    assert(sparkListeners == Seq("Metrics.scala"),
      s"GraftMetricsListener must be the only SparkListener in src/main: $sparkListeners")
    // the frozen bench and the dev probe read stream progress; nothing else may
    val streamListenerAllowed = Set(java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"),
      java.nio.file.Paths.get("src/main/scala/graft/tools/Probe.scala"))
    val streamListeners = main.filterNot(streamListenerAllowed)
      .filter(p => mainText(p).contains("StreamingQueryListener"))
    assert(streamListeners.isEmpty, s"StreamingQueryListener outside Bench/Probe: $streamListeners")
  }

  test("one WARC record reader and one documents reader in src/main") {
    def text(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    // Warc.scala holds the definition; the warc-stream scan is the one caller
    val recordReads = main.flatMap(p =>
      """\brecordsInFile\s*\(""".r.findAllIn(text(p)).map(_ => p.getFileName.toString)).sorted
    assert(recordReads == Seq("Warc.scala", "WarcStreamSource.scala"),
      s"Warc.recordsInFile must be called only by WarcStreamSource.scala: $recordReads")
    val documentsReads = main.filterNot(_.getFileName.toString == "Corpus.scala")
      .filter(p => """\.read\b[^;{}]{0,160}?documents\.parquet""".r.findFirstIn(text(p)).nonEmpty)
    assert(documentsReads.isEmpty, s"documents.parquet read outside fixtures.Corpus.documents: $documentsReads")
  }

  test("one JSON encoder and one md5-60bit fingerprint in src/main") {
    def text(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    // the frozen bench and correctness dump keep their own JSON
    val handJson = main.filterNot(p => Set("Bench.scala", "Verify.scala")(p.getFileName.toString))
      .filter(p => text(p).contains("def jstr") || text(p).contains("mkString(\"{\""))
    assert(handJson.isEmpty, s"hand-built JSON outside graft.pipeline.Json: $handJson")
    // Column-API uses only: comment lines are skipped, and an occurrence
    // after an odd number of quotes on its line sits inside a SQL string
    val fingerprints = main.flatMap { p =>
      text(p).linesIterator.filterNot(l => Seq("*", "/*", "//").exists(l.trim.startsWith))
        .flatMap(l => "conv\\(substring\\(md5\\(".r.findAllMatchIn(l)
        .filter(m => l.take(m.start).count(_ == '"') % 2 == 0)
        .map(_ => p.getFileName.toString))
    }
    assert(fingerprints.isEmpty,
      s"the md5-60bit fingerprint must be GraftFunctions.fp60 (HashKernel.fp60) alone: $fingerprints")
  }

  test("no udaf in src/main: aggregates are Catalyst expressions whose plans compare equal") {
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    val udafs = main.filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8").contains("udaf("))
      .map(_.getFileName.toString)
    assert(udafs.isEmpty, s"a udaf's buffer encoder never compares equal across builds: $udafs")
  }

  test("imports are not wildcard-hidden behind _root_ hacks and files declare the graft package") {
    val bad = scalaSources.filterNot { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      text.linesIterator.exists(_.startsWith("package graft"))
    }
    assert(bad.isEmpty, s"files without a graft package declaration: $bad")
  }
}
