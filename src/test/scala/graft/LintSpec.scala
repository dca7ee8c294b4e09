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

  test("one band-bucket join in src/main: every LSH path draws candidates from Dedup.bucketPairs") {
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    // a join key Seq("band", <bucket>); `.as(Seq("band", "bh"))` names the band rows' columns
    val joins = main.flatMap(p => """(?<!\.as\()Seq\("band",\s*"\w+"\)""".r
      .findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_ => p.getFileName.toString))
    assert(joins == Seq("Dedup.scala"), s"one band-bucket join (Dedup.bucketPairs) allowed in src/main: $joins")
  }

  test("one shingle-set definition and no MinHash aggregate in src/main: both are HashKernel row kernels") {
    val main = scalaSources.filter(_.startsWith(java.nio.file.Paths.get("src", "main")))
    // An index window `transform(sequence(` (Column API or Spark SQL
    // string) is allowed only at the named positional-window sites below,
    // which are not shingle sets; a site is the nearest `"<query>" ->` or
    // `def <name>` above the line. The DuckDB oracle SQL windows with
    // `range`/`generate_series`, so it never matches. `min(mix64(` is
    // allowed nowhere.
    val windowSites = Set("TextAnalysis.scala:t_winnow", "TextAnalysis.scala:t_c4_filters",
      "Dedup.scala:d_paragraph", "Dedup.scala:d_ngram_spans", "Curation.scala:c_decontaminate",
      "Probe.scala:stageDocs")
    val window = """\btransform\(\s*sequence\(""".r
    val signatureMin = """\bmin\(\s*mix64\(""".r
    val siteName = """^\s*(?:"(\w+)"\s*->|(?:[@\w\[\]]+\s+)*def\s+(\w+))""".r.unanchored
    val bad = main.flatMap { p =>
      val file = p.getFileName.toString
      var site = ""
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").linesIterator.flatMap { l =>
        l match {
          case siteName(q, d) => site = Option(q).getOrElse(d)
          case _ =>
        }
        val code = !Seq("*", "/*", "//").exists(l.trim.startsWith)
        val hit = code && (signatureMin.findFirstIn(l).nonEmpty ||
          (window.findFirstIn(l).nonEmpty && !windowSites(s"$file:$site")))
        if (hit) Some(s"$file:$site: ${l.trim}") else None
      }
    }
    assert(bad.isEmpty, s"shingle sets are HashKernel.shingleSet and signatures HashKernel.minhash alone: $bad")
  }

  test("imports are not wildcard-hidden behind _root_ hacks and files declare the graft package") {
    val bad = scalaSources.filterNot { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      text.linesIterator.exists(_.startsWith("package graft"))
    }
    assert(bad.isEmpty, s"files without a graft package declaration: $bad")
  }
}
