package graft

import graft.util.Staging
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Keyed-artifact staging: content-keyed reuse, rebuild on corpus
  * change, and stale-sibling cleanup — the lifecycle contract behind
  * d_incremental's LSH index, d_bloom_incremental's Bloom index, and
  * the x_warc chunk staging.
  */
class StagingSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("corpusKey changes when a parquet file changes, is stable otherwise") {
    val d = Files.createTempDirectory("graft-stg-key")
    val f = d.resolve("documents.parquet")
    Files.write(f, "v1".getBytes)
    val k1 = Staging.corpusKey(d.toString)
    assert(k1 == Staging.corpusKey(d.toString), "key must be deterministic")
    Files.write(f, "v2-longer".getBytes)
    assert(Staging.corpusKey(d.toString) != k1, "content change must change the key")
    // two dirs with the same basename but different paths get distinct keys
    val d2 = Files.createTempDirectory("graft-stg-other").resolve(d.getFileName.toString)
    Files.createDirectories(d2)
    Files.write(d2.resolve("documents.parquet"), "v1".getBytes)
    assert(Staging.corpusKey(d2.toString) != k1, "path must be part of the key")
    Staging.deleteRec(d)
    Staging.deleteRec(d2.getParent)
  }

  test("keyedArtifact builds once, reuses, and sweeps stale siblings on build") {
    val corpus = Files.createTempDirectory("graft-stg-corpus")
    Files.write(corpus.resolve("documents.parquet"), "data".getBytes)
    val base = corpus.getFileName.toString
    // a stale artifact from an older version/key of the SAME corpus
    val stale = Paths.get("/tmp", s"graft-stgtest-v0-deadbeef0000-$base")
    Files.createDirectories(stale)
    // an artifact of a DIFFERENT corpus must survive the sweep
    val other = Paths.get("/tmp", s"graft-stgtest-v1-cafe00000000-other-corpus")
    Files.createDirectories(other)
    var builds = 0
    def resolve(): String =
      Staging.keyedArtifact("stgtest", corpus.toString, 1)(p =>
        Files.exists(p.resolve("done")))(out => {
        builds += 1
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(out, "done"), Array.emptyByteArray)
      })
    val a1 = resolve()
    assert(builds == 1)
    assert(!Files.exists(stale), "stale sibling must be swept on build")
    assert(Files.exists(other), "other corpora's artifacts must survive")
    val a2 = resolve()
    assert(a2 == a1 && builds == 1, "second resolve must reuse, not rebuild")
    // regenerating the corpus re-keys and rebuilds; the old dir is swept
    Files.write(corpus.resolve("documents.parquet"), "regenerated!".getBytes)
    val a3 = resolve()
    assert(a3 != a1 && builds == 2, "content change must rebuild under a new key")
    assert(!Files.exists(Paths.get(a1)), "previous-key artifact must be swept")
    Seq(Paths.get(a3), other, corpus).foreach(Staging.deleteRec)
  }

  test("two corpora sharing a basename coexist: sweep is path-scoped") {
    val rootA = Files.createTempDirectory("graft-stg-a")
    val rootB = Files.createTempDirectory("graft-stg-b")
    val corpusA = rootA.resolve("sfX"); Files.createDirectories(corpusA)
    val corpusB = rootB.resolve("sfX"); Files.createDirectories(corpusB)
    Files.write(corpusA.resolve("documents.parquet"), "aaa".getBytes)
    Files.write(corpusB.resolve("documents.parquet"), "bbb".getBytes)
    var builds = 0
    def resolve(c: java.nio.file.Path): String =
      Staging.keyedArtifact("stgtest2", c.toString, 1)(p =>
        Files.exists(p.resolve("done")))(out => {
        builds += 1
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(out, "done"), Array.emptyByteArray)
      })
    val a = resolve(corpusA)
    val b = resolve(corpusB) // B's build sweeps — must NOT hit A's artifact
    assert(builds == 2 && a != b)
    assert(Files.exists(Paths.get(a, "done")), "A's artifact survives B's build")
    val a2 = resolve(corpusA)
    assert(a2 == a && builds == 2, "A still resolves without a rebuild (no thrash)")
    // regenerate B: its OWN older key is swept, A still untouched
    Files.write(corpusB.resolve("documents.parquet"), "bbb-regen".getBytes)
    val b2 = resolve(corpusB)
    assert(b2 != b && builds == 3)
    assert(!Files.exists(Paths.get(b)), "B's old-key artifact swept")
    assert(Files.exists(Paths.get(a, "done")), "A untouched by B's re-key")
    Seq(Paths.get(a), Paths.get(b2), rootA, rootB).foreach(Staging.deleteRec)
  }

  test("build runs in a private temp dir; a failed build leaves no keyed dir") {
    val corpus = Files.createTempDirectory("graft-stg-atomic")
    Files.write(corpus.resolve("documents.parquet"), "data".getBytes)
    var buildPath: String = null
    def resolve(fail: Boolean): String =
      Staging.keyedArtifact("stgtest3", corpus.toString, 1)(p =>
        Files.exists(p.resolve("done")))(out => {
        buildPath = out
        Files.createDirectories(Paths.get(out))
        if (fail) sys.error("simulated build crash")
        Files.write(Paths.get(out, "done"), Array.emptyByteArray)
      })
    val failed = intercept[RuntimeException](resolve(fail = true))
    assert(failed.getMessage.contains("simulated"))
    assert(Paths.get(buildPath).getFileName.toString.startsWith("."),
      "build must target a hidden temp dir, not the keyed name")
    assert(!Files.exists(Paths.get(buildPath)), "failed build's temp is cleaned")
    val keyed = resolve(fail = false)
    assert(buildPath != keyed, "publish renames temp into the keyed name")
    assert(Files.exists(Paths.get(keyed, "done")))
    Seq(Paths.get(keyed), corpus).foreach(Staging.deleteRec)
  }

  test("d_incremental probes a staged index: no rebuild, no temp leak on re-run") {
    def lshTemps() = {
      val s = Files.list(Paths.get("/tmp"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("graft-lsh-idx") || n.startsWith("graft-lshidx"))
          .toSet
      } finally s.close()
    }
    val q = graft.queries.Dedup.defs("d_incremental")
    val before = lshTemps()
    val r1 = q(spark, sfDir).collect()
    val after1 = lshTemps()
    assert(after1.exists(_.startsWith("graft-lshidx-v")), "index must be staged keyed")
    assert(!(after1 -- before).exists(_.startsWith("graft-lsh-idx")),
      "no new unkeyed temp dirs may appear")
    val idxDir = after1.find(_.startsWith("graft-lshidx-v")).get
    val marker = Paths.get("/tmp", idxDir, "probe-only-marker")
    Files.write(marker, Array.emptyByteArray) // vanishes if the dir is rebuilt
    val r2 = q(spark, sfDir).collect()
    assert(r2.map(_.toString).sorted.sameElements(r1.map(_.toString).sorted))
    assert(lshTemps() == after1, "re-run must not create or drop index dirs")
    assert(Files.exists(marker), "re-run must probe the existing index, not rebuild it")
    Files.deleteIfExists(marker)
  }

  test("probe work is batch-proportional: stored corpus is never re-shingled") {
    // index the even half once, then probe with a 10-doc batch: the probe
    // plan must scan the STORED band/shingle parquet (no second pass over
    // the indexed documents) and only shingle the tiny new batch
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = Files.createTempDirectory("graft-probe-plan").toString
    graft.queries.Dedup.buildBandIndex(spark, d.where(col("doc_id") % 2 === 0), idx)
    val batch = d.where(col("doc_id") % 2 === 1).limit(10)
    val probe = graft.queries.Dedup.probeBandIndex(spark, batch, idx)
    probe.collect()
    // formatted explain prints each physical node ONCE in the detail
    // section — count distinct Scan-parquet nodes by source location
    // (the raw tree string reprints AQE subtrees and cached plans)
    val fmt = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scanLocs = fmt.split("\n\\(").toSeq
      .filter(_.takeWhile(_ != '\n').contains("Scan parquet"))
      .map(b => b.linesIterator.find(_.contains("Location")).getOrElse(""))
    val docScans = scanLocs.count(_.contains("documents.parquet"))
    val idxScans = scanLocs.count(_.contains(Paths.get(idx).getFileName.toString))
    // the only corpus scan is the NEW batch's (one cached subtree feeds
    // its shingles + bands); the stored side reads index parquet only
    assert(docScans <= 2, s"probe must not rescan the indexed corpus: $docScans corpus scans")
    assert(idxScans >= 2, s"probe must read the stored bands+shingles: $idxScans index scans")
    // the shingle counts ride on the stored band rows: no doc_id-keyed
    // aggregate (a count pass) reads the stored shingle table
    import org.apache.spark.sql.execution._
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: adaptive.QueryStageExec => nodes(q.plan)
      case m: columnar.InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case r: exchange.ReusedExchangeExec => nodes(r.child)
      case o => o.children.flatMap(nodes)
    })
    def readsStoredShingles(p: SparkPlan) = nodes(p).exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.endsWith(s"$idx/shingles"))
      case _ => false
    }
    val docAggs = nodes(probe.queryExecution.executedPlan).collect {
      case a: aggregate.BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("doc_id") => a
    }
    assert(readsStoredShingles(probe.queryExecution.executedPlan), "the verify must read the stored shingles")
    assert(docAggs.nonEmpty, "the batch's MinHash aggregate must be found")
    assert(!docAggs.exists(readsStoredShingles), s"a doc_id-keyed aggregate reads the stored shingles:\n$fmt")
    Staging.deleteRec(Paths.get(idx))
  }
}
