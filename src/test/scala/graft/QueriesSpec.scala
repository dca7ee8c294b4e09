package graft

import graft.queries.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-engine cross-checks for queries whose oracle is another query
  * (approximate operators vs their exact baselines), plus smoke coverage
  * that every SparkEntry query executes and returns rows on sf0.001.
  */
class QueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("minhash-LSH recovers exactly the exact-jaccard pairs (recall=1 at j>=0.8)") {
    val exact = Dedup.defs("d_jaccard_pairs")(spark, sfDir).collect().toSet
    val lsh = Dedup.defs("d_minhash_lsh")(spark, sfDir).collect().toSet
    assert(exact.nonEmpty, "corpus must contain near-dup pairs")
    assert(lsh == exact, s"LSH pairs must equal exact pairs: missing=${exact -- lsh}, extra=${lsh -- exact}")
  }

  test("incremental dedup = full near-dup pairs minus index-internal pairs") {
    val full = Dedup.defs("d_jaccard_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.defs("d_incremental")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filterNot { case (a, b) => a % 2 == 0 && b % 2 == 0 }
    assert(inc == expected, s"missing=${expected -- inc}, extra=${inc -- expected}")
    assert(inc.size < full.size, "index-internal pairs must be excluded")
  }

  test("hyperplane-LSH embed dedup recovers exactly the all-pairs result") {
    val exact = Dedup.defs("d_embed_dups")(spark, sfDir).collect().toSet
    val lsh = Dedup.defs("d_embed_lsh")(spark, sfDir).collect().toSet
    assert(exact.nonEmpty, "corpus must contain planted embedding near-dups")
    assert(lsh == exact, s"LSH pairs must equal exact pairs: missing=${exact -- lsh}, extra=${lsh -- exact}")
  }

  test("IVF ANN reaches recall >= 0.8 of brute-force top-5") {
    val exact = Similarity.bruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall < 0.8 (|exact|=${exact.size}, hit=${(exact & ivf).size})")
  }

  test("IVF persisted-index lifecycle: build once, query from the stored index") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.buildIndex(spark, sfDir, idx)
    // index artifacts exist: tiny codebook + the vec_id→cell scan key
    assert(spark.read.parquet(s"$idx/centroids").count() == 8)
    assert(spark.read.parquet(s"$idx/cells").count() ==
      spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    // query-time recall from the STORED index (no k-means at query time)
    val exact = Similarity.bruteforce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = Similarity.queryIndex(spark, sfDir, idx).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"stored-index recall $recall < 0.8")
    // deterministic: a second query run returns the identical result
    val again = Similarity.queryIndex(spark, sfDir, idx).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again == got)
    graft.util.Staging.deleteRec(java.nio.file.Paths.get(idx))
  }

  test("LSH band-index lifecycle: build, probe the stored artifact, append, probe again") {
    import org.apache.spark.sql.functions.col
    // the continuous-crawl loop over three batches: index b0, probe b1,
    // append b1, probe b2 — each probe batch is disjoint from the index
    val idx = java.nio.file.Files.createTempDirectory("graft-band-idx").toString
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    def batch(i: Int) = d.where(col("doc_id") % 3 === i)
    Dedup.buildBandIndex(spark, batch(0), idx)
    // index artifacts exist: band rows (16/doc) + the exact-verify shingle sets
    val n0 = batch(0).count()
    assert(spark.read.parquet(s"$idx/bands").count() == n0 * 16)
    assert(spark.read.parquet(s"$idx/shingles").select("doc_id").distinct().count() == n0)
    // each band row carries n, its doc's distinct 3-word-shingle count
    val want = batch(0).select("doc_id", "text").collect().flatMap { r =>
      val ws = Option(r.getString(1)).fold(Array.empty[String])(_.split(" ", -1))
      Option.when(ws.length >= 3)(r.getLong(0) -> ws.sliding(3).map(_.mkString(" ")).toSet.size.toLong)
    }.toMap
    val got = spark.read.parquet(s"$idx/bands").select("doc_id", "n").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == want.size && got.toMap == want, "bands/ n must be each doc's distinct-shingle count")
    val full = Dedup.defs("d_jaccard_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe 1: all near-dup pairs touching b1, within b0 ∪ b1
    val probed1 = Dedup.probeBandIndex(spark, batch(1), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed1 == full.filter { case (a, b) =>
      a % 3 <= 1 && b % 3 <= 1 && (a % 3 == 1 || b % 3 == 1) })
    // append b1, then probe 2 covers pairs touching b2 across the corpus
    Dedup.appendBandIndex(spark, batch(1), idx)
    assert(spark.read.parquet(s"$idx/bands").count() == (n0 + batch(1).count()) * 16)
    val probed2 = Dedup.probeBandIndex(spark, batch(2), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed2 == full.filter { case (a, b) => a % 3 == 2 || b % 3 == 2 })
    graft.util.Staging.deleteRec(java.nio.file.Paths.get(idx))
  }

  test("every SparkEntry query executes and returns rows (sf0.001)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("approx_percentile within 2% of the exact interpolated percentile") {
    // the sketch variant of q_percentiles — at 10^12 rows the exact
    // sort-based percentile is replaced by this bounded-error call
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val r = df.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx")).head()
    val (e, a) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - e) / e <= 0.02, s"approx p50 $a vs exact $e")
  }

  test("approx_count_distinct within 5% of exact") {
    import org.apache.spark.sql.functions._
    val approx = graft.queries.Relational.defs("q_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("simhash hamming pairs cover the exact jaccard near-dup pairs") {
    val jacc = graft.queries.Dedup.defs("d_jaccard_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ham = graft.queries.Dedup.defs("d_simhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (jacc.isEmpty) 1.0 else (jacc & ham).size.toDouble / jacc.size
    assert(recall >= 0.8, s"simhash recall $recall (|jacc|=${jacc.size}, |ham|=${ham.size})")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("dup-cluster components: closure of the pair graph, min-id canonical") {
    import spark.implicits._
    val comps = Dedup.defs("d_components")(spark, sfDir)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r._2).toMap
    val pairs = Dedup.defs("d_jaccard_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // every near-dup pair lands in one cluster
    pairs.foreach { case (a, b) =>
      assert(comps(a) == comps(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the smallest member id; singletons are their own id
    val members = comps.groupBy(_._2).view.mapValues(_.keys.min)
    members.foreach { case (comp, minId) => assert(comp == minId) }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    comps.filterNot(c => inPairs(c._1)).foreach { case (id, comp) =>
      assert(id == comp, s"doc $id touches no pair but is not a singleton")
    }
  }

  /** d_components over a temp documents table where doc i is the words
    * `stride * i until stride * i + len`; returns (comp per doc, rounds)
    */
  private def chainComponents(n: Int, stride: Int, len: Int): (Map[Long, Long], Int) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chain")
    try {
      (0 until n).map(i => (i.toLong,
          (stride * i until stride * i + len).map(w => s"w$w").mkString(" "), "en"))
        .toDF("doc_id", "text", "lang").coalesce(1)
        .write.parquet(dir.resolve("documents.parquet").toString)
      val comps = Dedup.defs("d_components")(spark, dir.toString)
        .as[(Long, Long, Int)].collect().map(r => r._1 -> r._2).toMap
      (comps, Dedup.lastComponentsIters)
    } finally {
      graft.util.CacheScope.releaseAll()
      graft.util.Staging.deleteRec(dir)
    }
  }

  // every doc touches an edge, so the derived round bound is n
  private def assertOneComponent(n: Int, comps: Map[Long, Long], rounds: Int): Unit = {
    assert(comps.size == n)
    assert(comps.values.toSet == Set(0L), s"expected one component, got ${comps.values.toSet.size}")
    assert(rounds >= 2 && rounds <= n, s"$rounds rounds, bound $n")
  }

  Seq(260, 520).foreach { n =>
    test(s"d_components closes a $n-doc sliding-window chain (doc i = words i..i+37)") {
      // neighbours up to 4 apart pass jaccard 0.8: diameter about n/4
      val (comps, rounds) = chainComponents(n, 1, 38)
      assertOneComponent(n, comps, rounds)
    }
  }

  test("d_components closes a 260-doc path over several contraction rounds") {
    // doc i = words 3i..3i+47: neighbours share 43 of 49 shingles (pass),
    // docs two apart 40 of 52 (fail), so the diameter is n - 1. 16 fixed
    // shuffle partitions spread the path over many tasks per round.
    val n = 260
    val (comps, rounds) = SparkSessionTestBase.withConf(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "16") {
      chainComponents(n, 3, 48)
    }
    assertOneComponent(n, comps, rounds)
    assert(rounds >= 3, s"a 16-task path must need more than one closing round, got $rounds")
  }

  test("Bloom exact-dedup index: build, probe finds exactly the planted copies, no-dup batch empty") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-bloom-idx").toString
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    Dedup.buildExactIndex(spark, d, idx)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(idx, "bloom.bin")) > 0)
    // planted exact copies are all found with the right canonical ids
    val copies = d.select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val found = Dedup.probeExactIndex(spark, copies, idx)
      .as[(Long, Long)].collect().toMap
    val expected = Dedup.defs("d_exact_canonical")(spark, sfDir)
      .as[(Long, Long, Int)].collect().map(r => (r._1 + 5000L) -> r._2).toMap
    assert(found == expected, "probe must report every copy with its canonical id")
    // a batch of guaranteed-novel texts yields nothing (the ~1% Bloom
    // false positives are removed by the exact hash join)
    val novel = d.select((col("doc_id") + 9000L).as("doc_id"),
      concat(col("text"), lit(" zzz novel suffix")).as("text"))
    assert(Dedup.probeExactIndex(spark, novel, idx).count() == 0)
    graft.util.Staging.deleteRec(java.nio.file.Paths.get(idx))
  }

  test("paragraph dedup removes exactly the repeated boilerplate/dup paragraphs") {
    import spark.implicits._
    val out = Dedup.defs("d_paragraph")(spark, sfDir)
      .select("doc_id", "n_paras_kept", "dedup_text")
      .as[(Long, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // the planted boilerplate paragraph survives only at its FIRST
    // occurrence (smallest doc_id%6==0), and is stripped from every later one
    val boiler = "subscribe to our newsletter"
    val planted = out.filter(_._1 % 6 == 0).sortBy(_._1)
    assert(planted.head._3.startsWith(boiler), "first occurrence keeps the paragraph")
    assert(planted.tail.forall(!_._3.contains(boiler)), "later occurrences are stripped")
    // a doc with no duplicated paragraphs round-trips its text unchanged
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .as[(Long, String, String, String, Long)].collect().map(r => r._1 -> r._2).toMap
    val untouched = out.filter(r => r._1 % 6 != 0 && byId(r._1)._3 == texts(r._1))
    assert(untouched.nonEmpty, "some docs must survive verbatim")
  }

  test("PII scrub removes every planted email/phone and nothing else") {
    import spark.implicits._
    val rows = graft.queries.TextAnalysis.defs("t_pii")(spark, sfDir)
      .as[(Long, Int, Int, String)].collect()
    rows.foreach { case (id, ne, np, scrubbed) =>
      assert(!scrubbed.contains("@"), s"doc $id: unscrubbed email")
      assert(!scrubbed.contains("+1-555-"), s"doc $id: unscrubbed phone")
      assert((id % 7 == 0) == (ne == 1) && (id % 7 != 0) == (ne == 0), s"doc $id email count $ne")
      assert((id % 11 == 0) == (np == 1), s"doc $id phone count $np")
      if (id % 7 == 0) assert(scrubbed.contains("contact <EMAIL> for details"), s"doc $id mask")
      if (id % 11 == 0) assert(scrubbed.contains("call <PHONE> now"), s"doc $id mask")
    }
  }

  test("url latest-snapshot dedup: canonical groups collapse variants, latest wins") {
    import spark.implicits._
    val rows = graft.queries.Extraction.defs("d_url_latest")(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "one row per canonical url")
    assert(rows.forall(r => r._1 == r._1.toLowerCase && !r._1.contains("?") && !r._1.contains("#")),
      "canonical urls are lowercase and tracking/fragment-free")
    // doc_id%5==0 pages were re-crawled a week later: 2 crawls, else 1
    rows.foreach { case (url, nCrawls, latest) =>
      val id = url.split("/").last.toLong
      val baseTs = graft.fixtures.Corpus.EpochBaseMs / 1000L + (id % 14) * 86400L + (id % 3600)
      if (id % 5 == 0) {
        assert(nCrawls == 2L, s"$url: expected 2 crawls")
        assert(latest == baseTs + 604800L, s"$url: latest must be the re-crawl")
      } else {
        assert(nCrawls == 1L, s"$url: expected 1 crawl")
        assert(latest == baseTs, s"$url: latest is the single crawl")
      }
    }
  }

  test("host skew present: h0 carries ~half the corpus (salting fixture)") {
    val hosts = graft.queries.Extraction.defs("x_hosts_salted")(spark, sfDir).collect()
    assert(hosts.length >= 5, s"expected >=5 hosts, got ${hosts.length}")
    val total = hosts.map(_.getLong(1)).sum
    val top = hosts.head.getLong(1)
    assert(top * 3 > total, "top host must dominate (skew)")
  }

  test("ngram-span dedup: exact-dup docs fully dropped, unique docs untouched, token ledger balances") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Dedup.defs("d_ngram_spans")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet == docs.keySet)
    val textCounts = docs.values.groupBy(identity).map { case (t, v) => t -> v.size }
    out.foreach { case (id, (nKept, nDropped, clean)) =>
      val toks = docs(id).split(" ", -1)
      assert(nKept + nDropped == toks.length, s"doc $id ledger")
      // a doc with an identical twin of >= 8 words shares every 8-gram
      if (toks.length >= 8 && textCounts(docs(id)) > 1)
        assert(nKept == 0L && clean.isEmpty, s"exact-dup doc $id must drop fully")
    }
    assert(out.exists(_._2._1 == 0L), "planted exact dups must drop fully")
    assert(out.exists { case (_, (_, d, _)) => d == 0L }, "some doc must be untouched")
    // kept tokens are a subsequence rendered in order
    out.foreach { case (id, (nKept, _, clean)) =>
      if (nKept > 0) assert(clean.split(" ", -1).length == nKept, s"doc $id reassembly")
    }
  }

  test("stratified sample: deterministic, every lang stratum survives, skew flattened") {
    val d = graft.queries.Curation.defs("c_sample")(spark, sfDir)
    val a = d.collect().map(r => (r.getLong(0), r.getString(1)))
    val b = graft.queries.Curation.defs("c_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSet == b.toSet, "hash-Bernoulli sample must be reproducible")
    val orig = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
    assert(kept.keySet == orig.keySet, "every stratum must survive")
    kept.foreach { case (l, k) => assert(k <= orig(l), s"stratum $l grew") }
    assert(a.length < orig.values.sum, "skewed strata must be downsampled")
  }

  test("sequence packing: offsets are contiguous per shard and chunk math is consistent") {
    val rows = graft.queries.Curation.defs("c_pack")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    rows.groupBy(_._2).foreach { case (shard, ds) =>
      val sorted = ds.sortBy(_._1)
      sorted.foldLeft(0L) { case (expectedOff, (id, _, nTok, off, fs, ls)) =>
        assert(off == expectedOff, s"shard $shard doc $id offset gap")
        assert(fs == off / 512, s"doc $id first_seq")
        assert(ls == (off + nTok - 1) / 512, s"doc $id last_seq")
        off + nTok
      }
    }
    assert(rows.exists(r => r._5 != r._6), "some doc must span a sequence boundary")
  }

  test("decontamination flags every >=8-word exact dup of an eval doc") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val evalTexts = docs.collect {
      case (id, t) if id % 41 == 3 && t.split(" ", -1).length >= 8 => t
    }.toSet
    val flagged = graft.queries.Curation.defs("c_decontaminate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flagged.keySet == docs.collect {
      case (id, _) if id % 41 != 3 => id
    }.toSet, "output must cover exactly the training docs")
    docs.foreach { case (id, t) =>
      if (id % 41 != 3 && evalTexts.contains(t))
        assert(flagged(id), s"doc $id is an exact eval dup and must be flagged")
    }
  }

  test("model score: per-doc score equals a from-scratch Scala recomputation") {
    def fp60(sIn: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sIn.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map { r =>
        val toks = r.getString(1).split(" ", -1)
        val score = toks.map { t =>
          val j = fp60("w:" + t) % 64
          (j * 2654435761L) % 17 - 8
        }.sum
        r.getLong(0) -> ((score, toks.length.toLong))
      }.toMap
    val got = graft.queries.TextAnalysis.defs("t_model_score")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (sc, n, keep)) =>
      assert((sc, n) == expected(id), s"doc $id score/token mismatch")
      assert(keep == (sc >= 0), s"doc $id keep flag")
    }
  }
}
