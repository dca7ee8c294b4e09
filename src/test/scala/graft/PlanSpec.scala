package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite
import SparkSessionTestBase.withConf

/** Physical-plan shape assertions — the "is this the plan you'd want at
  * 100 TB" checks: broadcast joins for small dims, bucketed co-located
  * joins with zero exchanges, filter pushdown to the parquet scan.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("q03: small dimension joins via broadcast, not shuffle") {
    val plan = graft.queries.Relational.defs("q03_topk_revenue")(spark, sfDir)
      .queryExecution.sparkPlan
    val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"expected a broadcast hash join:\n$plan")
  }

  test("bucketed tables join co-located: zero shuffle exchanges") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      try {
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable("li_bucketed")
        spark.read.parquet(s"$sfDir/orders.parquet")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable("ord_bucketed")
        val j = spark.table("li_bucketed")
          .join(spark.table("ord_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).as("q"))
        j.collect() // force execution through AQE
        // AQE query stages hide subtrees from collect() — assert on the
        // final plan string instead
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
        assert(plan.contains("Bucketed: true"), s"scans must use buckets:\n$plan")
        // the ONLY exchange allowed is the groupBy's (on o_orderpriority);
        // neither join key may be re-shuffled — bucketing co-locates them
        val badExchange = plan.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") &&
            (l.contains("l_orderkey") || l.contains("o_orderkey")))
        assert(!badExchange, s"bucketed join must not shuffle either side:\n$plan")
      } finally {
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      }
    }
  }

  test("d_embed_lsh: no cartesian product / nested-loop join anywhere") {
    val plan = graft.queries.Dedup.defs("d_embed_lsh")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), s"crossJoin crept back in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join crept in:\n$plan")
  }

  test("IVF nearest-cell assignment stage has zero exchanges") {
    val corpus = graft.queries.Similarity.emb(spark, sfDir)
    val cents = (0 until 4).map(c => (c, Seq.tabulate(64)(d => (c + d % 3).toDouble)))
    val plan = graft.queries.Similarity.nearestCell(corpus, cents)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be map-side only:\n$plan")
    assert(!plan.contains("Window"), s"no window argmax:\n$plan")
  }

  test("c_split assignment is map-side only (zero exchanges except the output sort)") {
    val q = graft.queries.Curation.defs("c_split")(spark, sfDir)
    // drop the presentation orderBy — the assignment itself must not shuffle
    val plan = q.queryExecution.sparkPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    // exactly the range-partitioning exchange of the final orderBy
    assert(exchanges <= 1, s"split assignment must not shuffle:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"no hash shuffle in assignment:\n$plan")
  }

  test("c_curate shuffles only on the 32-byte dedup hash, never document text") {
    val plan = graft.queries.Curation.defs("c_curate")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!badExchange, s"document text must not be a shuffle key:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"dedup agg must have a map-side partial phase:\n$plan")
  }

  test("dedup exact-verify survives broadcast being impossible (shuffle equi-join)") {
    // force every broadcast path off: if the candidate-verify join still
    // carried a broadcast HINT it would broadcast regardless and this
    // plan would contain a BroadcastHashJoin; with plain equi-joins the
    // verify degrades to shuffle joins — the 10^12-candidate-rows shape
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val q = graft.queries.Dedup.defs("d_minhash_lsh")(spark, sfDir)
      val rows = q.collect()
      assert(rows.nonEmpty)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"verify join must not rely on a broadcast hint:\n$plan")
      // and the result is unchanged vs the exact baseline (same oracle)
      val exact = graft.queries.Dedup.defs("d_jaccard_pairs")(spark, sfDir).collect()
      assert(rows.map(_.toString).toSet == exact.map(_.toString).toSet)
    }
  }

  test("similarity top-k ranks via bounded partial aggregation, not a window") {
    val q = graft.queries.Similarity.bruteforce(spark, sfDir)
    val plan = q.queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"),
      s"final ranking must not funnel all candidates through a per-qid window:\n$plan")
    val pl = plan.toLowerCase
    assert(pl.contains("topkaggregator") && pl.contains("partial_"),
      s"expected a map-side partial top-k aggregation phase:\n$plan")
  }

  test("x_links is narrow: zero exchanges except the presentation sort") {
    val q = graft.queries.Extraction.defs("x_links")(spark, sfDir)
    val plan = q.queryExecution.sparkPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"link extraction must not shuffle:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"no hash shuffle in extraction:\n$plan")
  }

  test("d_paragraph shuffles on the 32-byte paragraph hash, never paragraph text") {
    val plan = graft.queries.Dedup.defs("d_paragraph")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("para#") || l.contains("(para,") || l.contains(" para,")))
    assert(!badExchange, s"paragraph text must not be a shuffle key:\n$plan")
    assert(plan.contains("partial_min"),
      s"first-occurrence agg must have a map-side partial phase:\n$plan")
  }

  test("d_ngram_spans: shuffle keys are gram hashes / doc ids, never the text") {
    val plan = graft.queries.Dedup.defs("d_ngram_spans")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("text#") || l.contains("tok#") || l.contains("clean_text")))
    assert(!badExchange, s"text must never be a shuffle key:\n$plan")
    assert(plan.contains("partial_count"),
      s"dup-gram count must have a map-side partial phase:\n$plan")
  }

  /** the plan and, recursively, every plan under its cache scans */
  private def withCachedPlans(p: SparkPlan): String = p.toString + p.collect {
    case a: AdaptiveSparkPlanExec => withCachedPlans(a.inputPlan)
    case m: InMemoryTableScanExec => withCachedPlans(m.relation.cachedPlan)
  }.mkString("\n")

  test("d_components edges come from the LSH band path: no all-pairs shingle self-join") {
    val top = graft.queries.Dedup.lshPairs(spark, sfDir).queryExecution.sparkPlan
    assert(top.isInstanceOf[InMemoryTableScanExec], s"the shared pair set must be cached:\n$top")
    val plan = withCachedPlans(top)
    // the all-pairs baseline shuffles both shingle tables keyed ON the
    // shingle string; the LSH path shuffles only (band, bh) and id keys
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("shingle#"))
    assert(!badExchange, s"edge generation must not shingle-self-join:\n$plan")
    assert(plan.contains("bh#"), s"expected the band-bucket join:\n$plan")
    // d_minhash_lsh reads the same cache entry (d_components reads it
    // while it builds, in its first contraction round)
    val lsh = graft.queries.Dedup.defs("d_minhash_lsh")(spark, sfDir).queryExecution.sparkPlan
    val entry = top.asInstanceOf[InMemoryTableScanExec].relation.cacheBuilder
    assert(lsh.collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }.exists(_ eq entry),
      s"d_minhash_lsh must read the cached pair set:\n$lsh")
    graft.util.CacheScope.releaseAll()
  }

  /** every cache entry the plan reads, recursively: (output names, entry) */
  private def cacheEntries(p: SparkPlan): Seq[(Seq[String], AnyRef)] = p.collect {
    case a: AdaptiveSparkPlanExec => cacheEntries(a.inputPlan)
    case m: InMemoryTableScanExec =>
      (m.relation.output.map(_.name), m.relation.cacheBuilder) +: cacheEntries(m.relation.cachedPlan)
  }.flatten

  test("rebuilt MinHash and SimHash plans compare equal and read the first build's caches") {
    graft.util.CacheScope.releaseAll()
    // (what is built, the output names of the cache entry it must share)
    val builds = Seq[(String, () => org.apache.spark.sql.DataFrame, Seq[String])](
      ("lshPairs", () => graft.queries.Dedup.lshPairs(spark, sfDir), Seq("a_id", "b_id", "jacc")),
      ("d_simhash_pairs fingerprints", () => graft.queries.Dedup.defs("d_simhash_pairs")(spark, sfDir),
        Seq("doc_id", "simhash")),
      ("probeBandIndex bNew", () => graft.queries.Dedup.defs("d_incremental")(spark, sfDir),
        Seq("doc_id", "n", "band", "bh")))
    builds.foreach { case (name, build, cols) =>
      val (a, b) = (build(), build())
      assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed), s"$name: builds differ")
      val (ea, eb) = (cacheEntries(a.queryExecution.sparkPlan), cacheEntries(b.queryExecution.sparkPlan))
      assert(ea.exists(_._1 == cols), s"$name: no cache entry with columns $cols: ${ea.map(_._1)}")
      assert(eb.nonEmpty && eb.forall(e => ea.exists(_._2 eq e._2)),
        s"$name: the second build cached anew: ${eb.map(_._1)} vs ${ea.map(_._1)}")
    }
    graft.util.CacheScope.releaseAll()
  }

  test("rebuilding d_simhash_pairs and d_incremental pins no new cache storage") {
    graft.util.CacheScope.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    def round(): Int = {
      Seq("d_simhash_pairs", "d_incremental").foreach(q => graft.queries.Dedup.defs(q)(spark, sfDir).collect())
      sc.getPersistentRDDs.size
    }
    val first = round()
    val second = round() // no releaseAll() in between
    graft.util.CacheScope.releaseAll()
    assert(first > before, s"the queries cache nothing: $before -> $first")
    assert(second == first, s"the rebuild pinned ${second - first} more cached RDDs")
  }

  test("d_components: one action per contraction round (no count action)") {
    // count ACTIONS (SQL executions), not raw scheduler jobs — parquet
    // footer reads and sort-sampling submit bookkeeping jobs that would
    // blur the signal. The convergence and vertex counts ride on
    // accumulators inside each round's localCheckpoint materialization.
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.add(s"failed:$funcName")
    }
    spark.listenerManager.register(listener)
    try {
      val rows = graft.queries.Dedup.defs("d_components")(spark, sfDir).collect()
      // listener delivery is async; wait for the stream to go quiet
      var last = -1
      var spins = 0
      while (actions.size() != last && spins < 50) {
        last = actions.size(); spins += 1; Thread.sleep(100)
      }
      assert(rows.nonEmpty)
      // AQE coalesces the small edge set into one task: round 1 closes
      // every cluster, round 2 finds the stars settled
      val rounds = graft.queries.Dedup.lastComponentsIters
      assert(rounds == 2, s"expected 2 contraction rounds on sf0.001, got $rounds")
      import scala.jdk.CollectionConverters._
      val names = actions.asScala.toList
      assert(!names.contains("count"),
        s"no per-round convergence count action may run, saw: $names")
      // one localCheckpoint per round + the final collect
      assert(names.size <= rounds + 1,
        s"${names.size} actions for $rounds rounds ($names)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("c_sample: stats broadcast, the Bernoulli draw never shuffles the corpus") {
    val plan = graft.queries.Curation.defs("c_sample")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-stratum stats must broadcast:\n$plan")
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id"))
    assert(!badExchange, s"corpus rows must not hash-shuffle for the draw:\n$plan")
  }

  test("c_decontaminate: eval gram set broadcasts into a semi-join") {
    val plan = graft.queries.Curation.defs("c_decontaminate")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"contamination probe must be a broadcast semi-join:\n$plan")
  }

  test("c_pack: one shard-keyed window, text never shuffles") {
    val plan = graft.queries.Curation.defs("c_pack")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("Window"), s"expected the per-shard prefix sum:\n$plan")
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!badExchange, s"text must not be a shuffle key:\n$plan")
  }

  test("t_model_score: weight table broadcasts, scoring agg is partial") {
    val plan = graft.queries.TextAnalysis.defs("t_model_score")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model weights must broadcast:\n$plan")
    assert(plan.contains("partial_sum"),
      s"per-doc scoring must have a map-side partial phase:\n$plan")
  }

  test("bloom probe prunes map-side before the hash join (no broadcast dependence)") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val idx = java.nio.file.Files.createTempDirectory("graft-bloom-plan").toString
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.queries.Dedup.buildExactIndex(spark, d, idx)
      val q = graft.queries.Dedup.probeExactIndex(spark, d.limit(50), idx)
      assert(q.count() == 50) // every corpus doc is its own exact dup
      val plan = q.queryExecution.executedPlan.toString
      // the typed Bloom filter stage sits UNDER the join: candidates are
      // pruned before any exchange ships them
      assert(plan.contains("MapPartitions"), s"expected the Bloom prune stage:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"probe must not depend on broadcasting the hash table:\n$plan")
      graft.util.Staging.deleteRec(java.nio.file.Paths.get(idx))
    }
  }

  test("AQE splits the skewed-host join at runtime (north-star skew handling)") {
    // h0 carries ~half the corpus (the planted Zipf skew); with broadcast
    // off and the skew thresholds scaled to the fixture, AQE must detect
    // the hot host's shuffle partition and split it at runtime — the
    // 100 TB behavior, observed on the real plan, not just configured
    val s = spark
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB") {
      // repartition(8) gives the join shuffle 8 mappers: AQE splits a
      // skewed reduce partition at map-output granularity, so a
      // single-mapper input (one parquet file) can never split — the
      // same reason real ingest keeps many input splits per executor
      val pages = graft.fixtures.Corpus.pages(s, sfDir)
        .repartition(8, col("url"))
        .select(element_at(split(col("url"), "/"), 3).as("host"), col("url"), col("text"))
      val perHost = pages.select(col("host"), col("url").as("u2"))
      val j = pages.join(perHost, Seq("host"))
      // collect() executes THIS queryExecution (foreach/.rdd would build
      // a second one and leave this plan non-final)
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE plan must be final:\n$plan")
      assert(plan.contains("skew=true"),
        s"the hot-host join must be marked skew=true after AQE replan:\n$plan")
      assert(plan.contains("skewed"),
        s"expected an AQEShuffleRead skew split:\n$plan")
    }
  }

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-push").toString
    graft.fixtures.Corpus.pages(spark, sfDir).write.mode("overwrite").parquet(tmp)
    val q = spark.read.parquet(tmp)
      .where(col("lang") === "de")
      .select(col("url"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,de)]"), scan)
    graft.util.Staging.deleteRec(java.nio.file.Paths.get(tmp))
  }
}
