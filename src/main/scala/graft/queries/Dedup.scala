package graft.queries

import graft.fixtures.Corpus.documents
import graft.functions.GraftFunctions.{fp60, hyperplaneBands, minhash, shingleSet, simhash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** Training-data deduplication operators over the `documents` table:
  * exact (hash group), n-gram Jaccard (the exact oracle), MinHash+LSH
  * (the scale path — band-bucket join instead of the all-pairs shingle
  * join), and SimHash fingerprints. Every LSH signature is one narrow
  * projection of a static `HashKernel` row kernel, and every band table
  * a projection of it: a doc's distinct shingle set and its MinHash
  * signature (FNV-1a per shingle, permuted with splitmix, `shingleSets`),
  * its SimHash (`simhashes`) and a vector's hyperplane band hashes
  * (`embedBands`). Every LSH path (MinHash, SimHash, hyperplane, the
  * persisted band-index probe) draws its candidates from one band-bucket
  * generator, `bucketPairs`. MinHash candidates are verified by exact set
  * intersection (`verifiedPairs`), so its oracle is the exact Jaccard.
  * SimHash token hashes are md5-60bit, portable to DuckDB.
  * Thresholds are integer-exact (9c >= 4(na+nb) ⟺ jaccard >= 0.8) so no
  * float boundary can diverge between engines.
  */
object Dedup {

  /** test probe: contraction rounds of the last d_components run */
  @volatile private[graft] var lastComponentsIters: Int = 0

  /** The set table (doc_id, n, sh, mh) of a documents table, one narrow
    * projection: sh the doc's distinct 3-word shingles
    * ([[graft.functions.HashKernel.shingleSet]]), n their count, mh their
    * 64-permutation MinHash signature ([[graft.functions.HashKernel.minhash]]).
    * No shingle rows, no aggregate, no exchange but the spread. A doc
    * without shingles (fewer than 3 words, or a null text) has no n > 0;
    * readers keep n > 0 after the set table's cache, since a filter above
    * the projection would be pushed under it and run the shingler twice.
    * The input scan is spread first (util.Scans — scale-adaptive, no-op on
    * well-split sources): shingling and hashing is the heavy map stage of
    * every shingle-based dedup query, and the single-row-group testdata
    * file otherwise runs it on ONE task. Cheap-map queries deliberately skip
    * the spread — measured as a net loss there (see OPTIMIZATION_r06.md).
    */
  private[graft] def shingleSets(d: DataFrame): DataFrame =
    graft.util.Scans.spread(d, col("doc_id"))
      .select(col("doc_id"), shingleSet(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"), col("sh"), minhash(col("sh")).as("mh"))

  /** (a_id, b_id, jacc) of the pairs (a_id, b_id, c, na, nb), c shared
    * shingles, whose jaccard is >= 0.8; unsorted, since d_components
    * would throw the sort away
    */
  private def jaccardAtLeast08(inter: DataFrame): DataFrame =
    inter.where(lit(9) * col("c") >= lit(4) * (col("na") + col("nb"))) // integer-exact
      .select(col("a_id"), col("b_id"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jacc"))

  /** The one exact verifier: pairs (a_id, b_id, jacc) of candidate pairs
    * (a_id, b_id, na, nb) whose jaccard is >= 0.8. Each side's shingle set
    * (doc_id, sh) joins on its id, and the shared-shingle count c is the
    * size of the two sets' intersection — a row operator, no shingle rows
    * and no aggregate. NO broadcast hint: at crawl-scale dup rates (30-50%
    * of 10^12 docs) the candidate-pair set is billions of rows — a forced
    * broadcast dies at the driver. Plain equi-joins on a_id/b_id let AQE
    * choose broadcast when the runtime size is actually under the
    * threshold, and degrade to a shuffle join when it is not.
    */
  private[graft] def verifiedPairs(sets: DataFrame, cands: DataFrame): DataFrame =
    jaccardAtLeast08(cands
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa")), Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")), Seq("b_id"))
      .withColumn("c", size(array_intersect(col("sa"), col("sb")))))

  private val Bands = 16 // r = 4 rows/band: P(miss | j=0.95) ≈ 1e-12, still ~0 at any corpus size we run

  /** (doc_id, n, band, bh) MinHash band rows of a set table, docs with
    * shingles only: 16 bands × 4 rows, each band the xxhash64 of its four
    * minima. The LSH candidate rows and the persisted index rows; n rides
    * on them so the verify needs no count pass.
    */
  private[graft] def minhashBands(sets: DataFrame): DataFrame =
    sets.where(col("n") > 0).select(col("doc_id"), col("n"), posexplode(array((0 until Bands).map { b =>
      xxhash64((4 * b until 4 * b + 4).map(i => element_at(col("mh"), i + 1)): _*)
    }: _*)).as(Seq("band", "bh")))

  /** The one band-bucket candidate generator. `rows` are bucket rows
    * (id, band, bh, carry…), id its first column; the output is every pair
    * (a_id < b_id, <c>a…, <c>b…) of rows sharing a (band, bh) bucket, once
    * per shared band, so callers filter and then `distinct`. With `stored`
    * (index rows of the same shape, ids disjoint from `rows`), each row
    * also pairs with the stored rows of its buckets; stored rows never pair
    * with each other. Shuffles only the bucket keys, ids and carried columns.
    */
  private[graft] def bucketPairs(rows: DataFrame, stored: Option[DataFrame], carry: String*): DataFrame = {
    val fields = rows.columns.head +: carry
    def name(f: String, s: String) = if (f == fields.head) s"${s}_id" else f + s
    def side(t: DataFrame, s: String, flag: Column*) =
      t.select(Seq(col("band"), col("bh")) ++ fields.map(f => col(f).as(name(f, s))) ++ flag: _*)
    val other = stored.fold(side(rows, "b"))(st =>
      side(st, "b", lit(true).as("stored")).union(side(rows, "b", lit(false).as("stored"))))
    val pairs = side(rows, "a").join(other, Seq("band", "bh"))
    val lo = col("a_id") < col("b_id")
    stored match {
      case None => pairs.where(lo).select(fields.flatMap(f => Seq(col(name(f, "a")), col(name(f, "b")))): _*)
      case Some(_) => // a row's pair with a stored row is kept in either id order, then swapped into it
        pairs.where(col("stored") || lo).select(fields.flatMap { f =>
          val (a, b) = (col(name(f, "a")), col(name(f, "b")))
          Seq(when(lo, a).otherwise(b).as(name(f, "a")), when(lo, b).otherwise(a).as(name(f, "b")))
        }: _*)
    }
  }

  /** (doc_id, simhash) of a documents table, one narrow projection
    * ([[graft.functions.HashKernel.simhash]]) behind the scan spread. A doc
    * with a null text has no words and no row; the filter sits under the
    * projection so the kernel runs once per doc.
    */
  private[graft] def simhashes(d: DataFrame): DataFrame =
    graft.util.Scans.spread(d.where(col("text").isNotNull), col("doc_id"))
      .select(col("doc_id"), simhash(col("text")).as("simhash"))

  /** base ∪ mutated embedding corpus with L2 norms (shared by the exact
    * and LSH near-dup variants — identical output contract)
    */
  private def embedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scans.spread(
        s.read.parquet(s"$dir/embeddings.parquet"), col("vec_id"))
      .select(col("vec_id").cast("long").as("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val aug = base.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(e, x -> x + 0.01d)").as("e"))
    base.union(aug)
      .withColumn("nrm", expr("sqrt(aggregate(e, 0d, (a, x) -> a + x * x))"))
  }

  /** exact cosine over a candidate-pair universe; cands carry (a_id, b_id)
    * with a_id < b_id. No broadcast hint — the candidate set scales with
    * the dup rate (billions of rows at 10^12 corpus size), so the verify
    * runs as plain equi-joins; AQE broadcasts only when actually small.
    */
  private def cosineVerified(corpus: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(corpus.select(col("vec_id").as("a_id"), col("e").as("ea"), col("nrm").as("na")), Seq("a_id"))
      .join(corpus.select(col("vec_id").as("b_id"), col("e").as("eb"), col("nrm").as("nb")), Seq("b_id"))
      .withColumn("cos_r", round(
        expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0d, (a, x) -> a + x)") /
          (col("na") * col("nb")), 3))
      .where(col("cos_r") >= 0.9)
      .select(col("a_id"), col("b_id"), col("cos_r"))
      .orderBy(col("a_id"), col("b_id"))

  /** (vec_id, band, bh) hyperplane band rows of an embedding corpus
    * (vec_id, e): one projection of the 8 band hashes
    * ([[graft.functions.HashKernel.hyperplaneBands]]); the only shuffle
    * downstream is the band-bucket join on ~8n small keys.
    */
  private[graft] def embedBands(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), posexplode(hyperplaneBands(col("e"))).as(Seq("band", "bh")))

  /** The exact-verified near-dup pairs (a_id, b_id, jacc) of the LSH
    * candidate path: the result of d_minhash_lsh and the edge list of
    * d_components. Two caches: the set table (both sides of the band
    * self-join and both verify sides read it) and the pairs, so a pass
    * that runs both queries reads the pairs the first one built (every
    * build of it is the same plan); both are released at the harness
    * query boundary like every CacheScope entry. The candidates shuffle
    * only (band, bh) keys, ids and shingle counts; no all-pairs shingle
    * join may appear anywhere in it (PlanSpec).
    */
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val sets = graft.util.CacheScope.cached(shingleSets(documents(s, dir)))
    graft.util.CacheScope.cached(verifiedPairs(sets, bucketPairs(minhashBands(sets), None, "n").distinct()))
  }

  /** One union-find contraction round of d_components over a symmetric
    * edge list (u, v), partitioned by u so a task holds all edges of the
    * vertices it owns: each local component (root = its minimum id) becomes
    * the edges (x, root), (root, x). Task state is O(vertices in the task).
    */
  private def contract(s: SparkSession, edges: DataFrame,
      unsettled: LongAccumulator, vertices: LongAccumulator): DataFrame = {
    import s.implicits._
    edges.repartition(col("u")).as[(Long, Long)].mapPartitions { rows =>
      val parent = mutable.LongMap.empty[Long]
      val lo, hi = mutable.LongMap.empty[Long] // min and max neighbour of each owned u
      def find(x0: Long): Long = { // path halving
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      rows.foreach { case (u, v) =>
        val ru = find(parent.getOrElseUpdate(u, u))
        val rv = find(parent.getOrElseUpdate(v, v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        lo(u) = math.min(lo.getOrElse(u, v), v)
        hi(u) = math.max(hi.getOrElse(u, v), v)
      }
      unsettled.add(lo.count { case (u, l) => !(l > u || (l < u && hi(u) == l)) })
      vertices.add(lo.size)
      parent.keys.toArray.iterator.flatMap { x =>
        val r = find(x)
        if (r == x) Iterator.empty else Iterator((x, r), (r, x))
      }
    }.toDF("u", "v")
  }

  /** Persisted LSH band-index lifecycle (the continuous-crawl contract,
    * mirroring Similarity.buildIndex/queryIndex): `buildBandIndex` writes
    * the index as parquet —
    *   bands/ (doc_id, n, band, bh)  the probe rows (Bands rows/doc),
    *                                 n the doc's shingle count
    *   sets/  (doc_id, sh)           the exact-verify shingle sets
    * (docs with shingles only). `probeBandIndex` answers "which stored or
    * in-batch docs near-dup the new batch" with work proportional to the
    * NEW batch (band-equality join against the stored rows — never
    * O(corpus²), no re-hash of the indexed corpus), and `appendBandIndex`
    * grows the artifact so the next batch probes against this one too.
    */
  def buildBandIndex(s: SparkSession, documents: DataFrame, indexDir: String): Unit =
    writeBandIndex(documents, indexDir, "overwrite")

  def appendBandIndex(s: SparkSession, documents: DataFrame, indexDir: String): Unit =
    writeBandIndex(documents, indexDir, "append")

  private def writeBandIndex(documents: DataFrame, indexDir: String, mode: String): Unit = {
    val sets = shingleSets(documents).cache()
    minhashBands(sets).write.mode(mode).parquet(s"$indexDir/bands")
    sets.where(col("n") > 0).select(col("doc_id"), col("sh")).write.mode(mode).parquet(s"$indexDir/sets")
    sets.unpersist()
  }

  /** All jaccard>=0.8 near-dup pairs touching `newDocs`, probing the
    * STORED index: candidates = newBands × (storedBands ∪ newBands) bucket
    * pairs, each side's shingle count read off its band rows; the verify
    * joins the stored sets ∪ the batch's sets (both shuffle equi-joins —
    * AQE broadcasts only when small). The batch's set table is cached
    * (CacheScope, released at the harness query boundary): its band rows
    * feed both sides of the candidate join and its sets the verify.
    * `newDocs` must be disjoint from the indexed corpus (probe BEFORE
    * appendBandIndex) — an id in both would verify against two sets.
    */
  def probeBandIndex(s: SparkSession, newDocs: DataFrame, indexDir: String): DataFrame = {
    val sets = graft.util.CacheScope.cached(shingleSets(newDocs))
    val cands = bucketPairs(minhashBands(sets), Some(s.read.parquet(s"$indexDir/bands")), "n").distinct()
    verifiedPairs(s.read.parquet(s"$indexDir/sets").union(sets.select(col("doc_id"), col("sh"))), cands)
      .orderBy(col("a_id"), col("b_id"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: canonical id per identical-text group. Keyed on
    // md5(text) — groupBy gets map-side partial aggregation and the
    // shuffle/sort key is 32 bytes instead of the full document text
    // (the Window.partitionBy(text) form sorts multi-KB keys at scale).
    "d_exact_canonical" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), md5(col("text")).as("th"))
      val canon = d.groupBy(col("th")).agg(min(col("doc_id")).as("canonical_id"))
      d.join(canon, Seq("th"))
        .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
        .select(col("doc_id"), col("canonical_id"), col("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // exact n-gram Jaccard near-dup pairs (all-pairs shingle join) — the
    // correctness baseline; O(pairs sharing a shingle), fine at test SF,
    // replaced by LSH at scale. Reads the set table (cached for the
    // query's lifetime, the same entry d_minhash_lsh builds): both
    // self-join sides explode its sets, each row carrying its doc's
    // shingle count n into the pair count's grouping key.
    "d_jaccard_pairs" -> ((s, dir) => {
      val sets = graft.util.CacheScope.cached(shingleSets(documents(s, dir)))
      def side(p: String) =
        sets.select(col("doc_id").as(s"${p}_id"), col("n").as(s"n$p"), explode(col("sh")).as("shingle"))
      jaccardAtLeast08(side("a").join(side("b"), Seq("shingle")).where(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"), col("na"), col("nb")).agg(count(lit(1)).as("c")))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // MinHash + LSH banding: each doc's shingle set and its 64-perm
    // signature (ONE string hash per shingle, every permutation derived
    // from it) are one row projection, 16 bands × 4 rows; candidates from
    // the band-bucket equality join (shuffles only (band, hash) keys — the
    // 10^12-scale path), then exact-verified by set intersection. Output
    // is identical to d_jaccard_pairs (same oracle): proves recall.
    "d_minhash_lsh" -> ((s, dir) => lshPairs(s, dir).orderBy(col("a_id"), col("b_id"))),

    // INCREMENTAL dedup — the continuous-crawl shape, run through the
    // REAL persisted-index lifecycle: the already-crawled corpus A (even
    // doc_ids) is indexed ONCE per corpus content (bands + shingle sets,
    // content-keyed staging — a regenerated corpus rebuilds, repeated
    // calls reuse), then the new batch B (odd doc_ids) probes the STORED
    // artifact — candidates = B×(A ∪ B) band-equality join, work
    // proportional to the NEW batch, never O(corpus²); A-internal pairs
    // are never re-examined. The query measures the PROBE, exactly what
    // each crawl increment pays at 10^12 scale; the index build is the
    // one-time backfill. Output = all near-dup pairs touching B (same
    // jaccard >= 0.8 contract as d_jaccard_pairs).
    "d_incremental" -> ((s, dir) => {
      val idxDir = graft.util.Staging.keyedArtifact("lshidx", dir, 3)(p =>
        java.nio.file.Files.exists(p.resolve("bands").resolve("_SUCCESS")) &&
          java.nio.file.Files.exists(p.resolve("sets").resolve("_SUCCESS")))(
        out => buildBandIndex(s, documents(s, dir).where(col("doc_id") % 2 === 0), out))
      probeBandIndex(s, documents(s, dir).where(col("doc_id") % 2 === 1), idxDir)
    }),

    // SimHash (60-bit, md5-based token hashes, frequency-weighted) — the
    // per-doc fingerprint, one row kernel per doc; hamming-ball search is
    // the scale variant.
    "d_simhash" -> ((s, dir) => simhashes(documents(s, dir)).orderBy(col("doc_id"))),

    // SimHash hamming-ball pairs (hd <= 3) via the band-index join: split
    // the 60-bit hash into 4 bands of 15 bits — by pigeonhole, hd <= 3
    // implies at least one band is EQUAL, so joining on (band_idx, band
    // value) is an exact (not probabilistic) candidate generator. This is
    // the 10^12-scale shape: an equality shuffle on ~n·4 keys instead of
    // an O(n²) cross join; candidates are then hamming-filtered.
    // NOTE: the testdata vocabulary is ~31 words, so ALL docs share most
    // tokens and background hamming starts at ~4 — threshold 3 isolates
    // true near-dups here; the margin is data-dependent.
    "d_simhash_pairs" -> ((s, dir) => {
      // cache the fingerprint table: both sides of the self-join read it,
      // and at scale it IS the persisted index (16 bytes/doc) — recompute
      // would re-hash every token per join side; at 10^12
      // rows this table is a written artifact, not a cache (CacheScope
      // releases it at the harnesses' query boundaries)
      val sim = graft.util.CacheScope.cached(simhashes(documents(s, dir)))
      val banded = sim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          expr(s"shiftright(simhash, ${15 * i}) & 32767")): _*)))
        .toDF("doc_id", "s", "band", "bh")
      bucketPairs(banded, None, "s")
        .select(col("a_id"), col("b_id"), expr("bit_count(sa ^ sb)").as("hamming"))
        // hamming filter BEFORE the distinct: identical rows (filter and
        // distinct commute), but the dedup exchange now carries only the
        // <=3 survivors instead of every band-collision candidate
        .where(col("hamming") <= 3).distinct()
        .orderBy(col("a_id"), col("b_id"))
    }),

    // embedding-cosine near-dup pairs over the base ∪ mutated corpus
    // (deterministic +0.01 perturbation, vec_id+100000) — finds exactly
    // the planted (i, i+100000) pairs; cosine >= 0.9 (natural max ~0.51).
    // The EXACT all-pairs BASELINE (d_embed_lsh is the scale path — same
    // output, same oracle, mirroring d_jaccard_pairs / d_minhash_lsh),
    // implemented as a distributed BLOCK-NESTED-LOOP join, the classic
    // exact-kNN shape: vectors hash into B id-blocks, each unordered
    // block pair is one task group whose members deserialize ONCE and
    // compare in a tight double-array loop. Still O(n²) compute — that
    // is the point of a baseline — but no O(n²) pair rows ever
    // materialize through a join (a naive crossJoin + interpreted
    // zip_with/aggregate was 42 s at bench scale for the same answer),
    // and no driver collect: the replicated shuffle is B× the corpus.
    "d_embed_dups" -> ((s, dir) => {
      import s.implicits._
      // B=8: each vector ships B× (replicated shuffle), pairs group into
      // B(B+1)/2 = 36 combo tasks — still ≥ the core count, at half the
      // shuffle bytes of the previous B=16 (measured 1.16 → 0.74 s)
      val B = 8
      embedCorpus(s, dir)
        .select(col("vec_id"), col("e"), col("nrm"))
        .as[(Long, Seq[Double], Double)]
        .flatMap { case (id, e, n) =>
          val b = (id % B).toInt
          val ea = e.toArray
          // one copy per combo containing this block: (k,b) k<b, (b,b), (b,k) k>b
          (0 until B).map { k =>
            (math.min(b, k) * B + math.max(b, k), id, ea, n)
          }
        }
        .groupByKey(_._1)
        .flatMapGroups { (key: Int, it: Iterator[(Int, Long, Array[Double], Double)]) =>
          val ci = key / B
          val cj = key % B
          val arr = it.toArray
          // block ids hoisted out of the O(n²) inner loop
          val blk = arr.map(t => (t._2 % B).toInt)
          val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < arr.length) {
            val (_, idA, ea, na) = arr(i)
            val bA = blk(i)
            var j = i + 1
            while (j < arr.length) {
              val bB = blk(j)
              // each unordered pair belongs to exactly ONE combo — the
              // (min,max) of its blocks; skip pairs owned elsewhere
              if (math.min(bA, bB) == ci && math.max(bA, bB) == cj) {
                val (_, idB, eb, nb) = arr(j)
                var dot = 0.0
                var d0 = 0
                while (d0 < ea.length) { dot += ea(d0) * eb(d0); d0 += 1 }
                val cos = dot / (na * nb)
                // cheap double pre-filter: any cos < 0.8994999 rounds to
                // <= 0.899 under HALF_UP, so only near-threshold survivors
                // pay the exact BigDecimal rounding (it decided EVERY pair
                // before — the O(n²) allocation hot spot of this baseline)
                if (cos >= 0.8994999) {
                  // same HALF_UP-on-decimal semantics as Spark's round():
                  // the oracle compares the rounded value exactly
                  val cosR = BigDecimal(cos)
                    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
                  if (cosR >= 0.9)
                    res += ((math.min(idA, idB), math.max(idA, idB), cosR))
                }
              }
              j += 1
            }
            i += 1
          }
          res.iterator
        }
        .toDF("a_id", "b_id", "cos_r")
        .orderBy(col("a_id"), col("b_id"))
    }),

    // the 10^12-scale embedding near-dup: random-hyperplane LSH band join
    // generates candidates (equality shuffle on ~n·8 keys, NO cross join),
    // exact cosine verifies them. Output identical to d_embed_dups —
    // the shared oracle proves recall.
    "d_embed_lsh" -> ((s, dir) => {
      // cached (CacheScope, released at the harness query boundary): the
      // corpus projection + norms feed the signature pass and both verify sides
      val corpus = graft.util.CacheScope.cached(embedCorpus(s, dir)).toDF()
      // sig cached: both self-join sides read it, so the 128-plane
      // signature (the heavy pass) would otherwise run twice per action;
      // the signature table is 8 rows/vec of 16 bytes
      val sig = graft.util.CacheScope.cached(embedBands(corpus))
      cosineVerified(corpus, bucketPairs(sig, None).distinct())
    }),

    // DUP-CLUSTER connected components: near-dup is not transitive (a~b,
    // b~c ⇏ a~c), so clusters are closed before one representative per
    // cluster is kept (DuckDB checks a recursive-CTE closure). Edges come
    // from the LSH band path: no all-pairs shingle self-join (plan-asserted).
    // Union-find contraction (`contract`), one shuffle and one eager
    // localCheckpoint per round, until a round's input was settled: every
    // vertex a star centre (all neighbours greater) or a leaf (one distinct
    // neighbour, smaller), i.e. stars around each cluster's minimum. Their
    // rows with v < u are the labels (distinct: the tasks of a leaf and of
    // its centre both emit the edge).
    // Bound: a round neither merges nor splits components. With m(x) = min
    // of x and its neighbours, y's task puts all of y's neighbours under a
    // root <= m(y), so m never grows, and the vertices of a component C not
    // adjacent to its minimum (at most |C| - 2) lose at least one member per
    // round (one of them borders a vertex that is). Then one round emits the
    // star and one finds it settled: at most |C| <= n rounds, n = the vertex
    // count of round 1 (1 without edges). A retried task only over-counts:
    // at worst one extra no-op round (a settled round adds zero), never an
    // early exit; a larger n only loosens the bound.
    // Output: (doc_id, comp = min doc_id of its cluster, is_canonical).
    "d_components" -> ((s, dir) => {
      // both directions via ONE explode: round 1 reads the edge subtree once
      var edges = lshPairs(s, dir)
        .select(explode(array(
          struct(col("a_id").as("u"), col("b_id").as("v")),
          struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val vertices = s.sparkContext.longAccumulator("graft-cc-vertices")
      var unsettled, bound = 1L
      var iters = 0
      while (unsettled > 0 && iters < bound) {
        val acc = s.sparkContext.longAccumulator("graft-cc-unsettled")
        edges = contract(s, edges, acc, vertices).localCheckpoint()
        unsettled = acc.value
        if (iters == 0) bound = math.max(vertices.value, 1L)
        iters += 1
      }
      lastComponentsIters = iters
      require(unsettled == 0, s"union-find contraction did not converge in $iters rounds")
      val labels = edges.where(col("v") < col("u"))
        .select(col("u").as("doc_id"), col("v").as("ecomp")).distinct()
      documents(s, dir).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("ecomp"), col("doc_id")).as("comp"))
        .withColumn("is_canonical", (col("doc_id") === col("comp")).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL EXACT dedup through the persisted Bloom index — the
    // continuous-crawl shape for byte-identical re-crawls (the most
    // common dup class on the web). Corpus hashes live in a stored index
    // (parquet + Bloom filter); the new batch — half planted exact copies
    // (doc_id%4==0, re-keyed +10^6), half novel texts (%4==2, +2·10^6) —
    // is pruned MAP-SIDE by the broadcast Bloom filter before the exact
    // hash join removes false positives. The index is content-keyed
    // staging: a regenerated documents table (or a different corpus
    // sharing a basename) rebuilds instead of silently reusing a stale
    // index. The oracle mirrors the full batch construction + canonical
    // join in SQL.
    "d_bloom_incremental" -> ((s, dir) => {
      val idx = graft.util.Staging.keyedArtifact("bloomidx", dir, 1)(p =>
        java.nio.file.Files.exists(p.resolve("bloom.bin")) &&
          java.nio.file.Files.exists(p.resolve("hashes").resolve("_SUCCESS")))(
        out => buildExactIndex(s, documents(s, dir), out))
      val d = documents(s, dir)
      val batch = d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .union(d.where(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" novel")).as("text")))
      probeExactIndex(s, batch, idx)
    }),

    // CCNet-style PARAGRAPH-level dedup (Wenzek et al. 2020 §3.1): chunk
    // each doc into fixed 10-word paragraphs, drop every paragraph whose
    // exact hash was already seen at a smaller (doc_id, para_idx), and
    // reassemble the surviving text — docs can shrink or vanish entirely.
    // Repeated boilerplate is planted deterministically (doc_id%6==0
    // pages share a lead paragraph) so the oracle predicts every removal.
    // Scale shape: first-occurrence = groupBy(md5) min-struct (map-side
    // partials, 32-byte shuffle keys — the same shape CCNet runs over
    // Common Crawl), join-back on the hash, reassembly one shuffle on
    // doc_id with per-doc bounded state.
    "d_paragraph" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(lit(Boilerplate + " "), col("text"))).otherwise(col("text")).as("t"))
      val paras = d
        .withColumn("ws", split(col("t"), " "))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ws)/10.0) as int)-1)," +
            " i -> concat_ws(' ', slice(ws, i*10+1, 10)))")))
        .toDF("doc_id", "para_idx", "para")
        .withColumn("h", md5(col("para")))
      val first = paras.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("para_idx"))).as("w"))
      val kept = paras.join(first,
          paras("h") === first("h") && paras("doc_id") === first("w.doc_id") &&
            paras("para_idx") === first("w.para_idx"))
        .select(paras("doc_id"), paras("para_idx"), paras("para"))
      val agg = kept.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_paras_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(para_idx, para))), x -> x.para)"))
          .as("dedup_text"))
      d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"),
          coalesce(col("dedup_text"), lit("")).as("dedup_text"))
        .orderBy(col("doc_id"))
    }),

    // duplicated-n-gram SPAN removal (Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better", §4 ExactSubstr, at the
    // token-n-gram granularity RefinedWeb ships): any 8-gram occurring in
    // more than one document marks its 8 token positions for removal in
    // EVERY document containing it; the surviving tokens are reassembled
    // in order. Shuffle ledger: gram hashes (8 bytes) to count distinct
    // docs, (doc_id, idx) ints for coverage — document text itself never
    // crosses the wire until the final per-doc reassembly groupBy, which
    // is keyed on doc_id and carries only kept tokens.
    "d_ngram_spans" -> ((s, dir) => {
      val d = documents(s, dir)
      // ws PROJECTED once per row — an inlined split(text) inside the
      // transform lambda re-splits the whole document per gram index,
      // O(len²) per doc (a hang on multi-MB documents; caught by
      // tools/SpillProbe's giant-doc case)
      val dw = d.withColumn("ws", split(col("text"), " "))
      val toks = dw.select(col("doc_id"), posexplode(col("ws")).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("idx"), col("tok"))
      val grams = dw.where(size(col("ws")) >= 8).select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("ws")) - 7),
          i => fp60(array_join(slice(col("ws"), i, lit(8)), " ")))).as(Seq("i0", "gh")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("gh"))
      val dupGrams = grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1).select(col("gh"))
      val covered = grams.join(dupGrams, Seq("gh"), "left_semi")
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + 7)).as("idx"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      val agg = kept.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(idx, tok))), x -> x.tok)"))
          .as("clean_text"))
      dw.select(col("doc_id"), size(col("ws")).cast("long").as("n_toks"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }))

  /** planted repeated lead paragraph (exactly 10 words = one chunk) */
  private val Boilerplate =
    "subscribe to our newsletter for updates and follow us online"

  // -------------------------- Bloom-filter exact-dedup index lifecycle --

  /** Build the persisted EXACT-dedup index over `documents`: the
    * (text-hash → canonical doc_id) table as parquet, plus a Bloom filter
    * over the hashes (1% fpp) as a binary artifact. At 10^12 docs the
    * Bloom filter is ~1.2 GB per 10^9 corpus docs — broadcastable to
    * executors — while the hash table stays on disk and is only ever
    * touched by the (tiny, pre-filtered) candidate join in the probe.
    */
  def buildExactIndex(s: SparkSession, documents: DataFrame, indexDir: String): Unit = {
    val hashed = documents.select(md5(col("text")).as("th"), col("doc_id"))
    val canon = hashed.groupBy(col("th")).agg(min(col("doc_id")).as("canonical_id"))
    canon.write.mode("overwrite").parquet(s"$indexDir/hashes")
    val n = math.max(canon.count(), 1L)
    val bf = hashed.stat.bloomFilter("th", n, 0.01)
    val os = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$indexDir/bloom.bin"))
    try bf.writeTo(os) finally os.close()
  }

  /** Exact duplicates of `newDocs` against the STORED index: the Bloom
    * filter (broadcast bytes, deserialized once per partition) prunes the
    * batch MAP-SIDE — only the ~1% false positives plus the true dups
    * reach the shuffle join against the hash table, which removes the
    * false positives exactly. Work ∝ |batch| + |dup candidates|, never a
    * full-corpus shuffle: the continuous-crawl shape for exact dedup.
    */
  def probeExactIndex(s: SparkSession, newDocs: DataFrame, indexDir: String): DataFrame = {
    import s.implicits._
    val bfBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$indexDir/bloom.bin"))
    val bc = s.sparkContext.broadcast(bfBytes)
    val cands = newDocs.select(col("doc_id"), md5(col("text")).as("th"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        it.filter { case (_, th) => bf.mightContainString(th) }
      }
      .toDF("doc_id", "th")
    cands.join(s.read.parquet(s"$indexDir/hashes"), Seq("th")) // exact verify: kills fps
      .select(col("doc_id"), col("canonical_id").as("dup_of"))
      .orderBy(col("doc_id"))
  }

  private def shingleSqlDuckWhere(extra: String) = shingleSqlDuck.replace(
    "WHERE 9*c >= 4*(sa.n+sb.n)", s"WHERE 9*c >= 4*(sa.n+sb.n)$extra")

  private val shingleSqlDuck =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |idx AS (
      |  -- bound derived from the row itself: no silent cap on doc length
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM toks),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS shingle
      |  FROM idx),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT a_id, b_id,
      |  round(c*1.0/(sa.n+sb.n-c), 6) AS jacc
      |FROM inter JOIN sizes sa ON a_id = sa.doc_id
      |            JOIN sizes sb ON b_id = sb.doc_id
      |WHERE 9*c >= 4*(sa.n+sb.n)
      |ORDER BY a_id, b_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_exact_canonical" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |  CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY text)
        |    THEN 1 ELSE 0 END AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d_jaccard_pairs" -> shingleSqlDuck,
    "d_paragraph" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id%6 = 0 THEN '$Boilerplate ' || text
         |         ELSE text END AS t
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split(t,' ') AS ws FROM d),
         |p AS (
         |  SELECT doc_id, ws,
         |    unnest(generate_series(0, CAST(ceil(len(ws)/10.0) AS BIGINT)-1))
         |      AS para_idx
         |  FROM toks),
         |paras AS (
         |  SELECT doc_id, para_idx,
         |    array_to_string(ws[(para_idx*10+1):(para_idx*10+10)], ' ') AS para
         |  FROM p),
         |r AS (
         |  SELECT doc_id, para_idx, para, row_number()
         |    OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
         |  FROM paras),
         |agg AS (
         |  SELECT doc_id, count(*) AS n, string_agg(para, ' ' ORDER BY para_idx) AS t
         |  FROM r WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_paras_kept,
         |  coalesce(agg.t, '') AS dedup_text
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // identical output contract: LSH must recover every >=0.8 pair
    "d_minhash_lsh" -> shingleSqlDuck,
    // incremental = every near-dup pair touching the new (odd) batch;
    // pairs internal to the indexed corpus are out of scope by contract
    "d_incremental" -> shingleSqlDuckWhere(" AND NOT (a_id % 2 = 0 AND b_id % 2 = 0)"),
    // true transitive closure, independent of the propagation algorithm
    "d_components" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |idx AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
        |  FROM toks WHERE len(ws) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS shingle
        |  FROM idx),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
        |  WHERE 9*c >= 4*(sa.n+sb.n)),
        |edges AS (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        |  WHERE e.v <> r.u),
        |mn AS (SELECT u, min(v) AS mv FROM reach GROUP BY u)
        |SELECT d.doc_id, least(d.doc_id, coalesce(mn.mv, d.doc_id)) AS comp,
        |  CASE WHEN least(d.doc_id, coalesce(mn.mv, d.doc_id)) = d.doc_id
        |    THEN 1 ELSE 0 END AS is_canonical
        |FROM documents d LEFT JOIN mn ON d.doc_id = mn.u
        |ORDER BY d.doc_id""".stripMargin,
    "d_bloom_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id%4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' novel' AS text
        |  FROM documents WHERE doc_id%4 = 2),
        |canon AS (
        |  SELECT md5(text) AS th, min(doc_id) AS canonical_id
        |  FROM documents GROUP BY 1)
        |SELECT b.doc_id, c.canonical_id AS dup_of
        |FROM batch b JOIN canon c ON md5(b.text) = c.th
        |ORDER BY b.doc_id""".stripMargin,
    "d_simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) w FROM tok GROUP BY 1,2),
        |th AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT h, w FROM tf),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) sgn
        |  FROM th CROSS JOIN generate_series(0, 59) t(j) GROUP BY 1,2),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << j) ELSE 0 END)
        |      AS BIGINT) simhash
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id a_id, b.doc_id b_id,
        |  bit_count(xor(a.simhash, b.simhash)::BIT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)::BIT) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "d_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) w FROM tok GROUP BY 1,2),
        |th AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT h, w FROM tf),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) sgn
        |  FROM th CROSS JOIN generate_series(0, 59) t(j) GROUP BY 1,2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN sgn > 0 THEN (1::BIGINT << j) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "d_embed_dups" -> embedDupsSqlDuck,

    "d_ngram_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, i AS idx, w[i] AS tok
        |  FROM toks, UNNEST(range(1, len(w) + 1)) AS t(i)),
        |grams AS (
        |  SELECT doc_id, i,
        |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gh
        |  FROM toks, UNNEST(CASE WHEN len(w) >= 8
        |    THEN range(1, len(w) - 6) ELSE [] END) AS t(i)),
        |dup AS (SELECT gh FROM grams GROUP BY gh
        |  HAVING count(DISTINCT doc_id) > 1),
        |covered AS (
        |  SELECT DISTINCT g.doc_id, g.i + o AS idx
        |  FROM grams g JOIN dup USING (gh), UNNEST(range(0, 8)) AS t(o)),
        |kept AS (
        |  SELECT t.doc_id, t.idx, t.tok FROM tok t LEFT JOIN covered c
        |  ON t.doc_id = c.doc_id AND t.idx = c.idx WHERE c.idx IS NULL),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_kept, 0) AS n_kept,
        |  len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS n_dropped,
        |  coalesce(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical output contract: hyperplane LSH must recover every pair
    "d_embed_lsh" -> embedDupsSqlDuck)

  private lazy val embedDupsSqlDuck =
      """WITH corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id+100000,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)+0.01)
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, i, e[i] v
        |  FROM corpus CROSS JOIN generate_series(1, 64) t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v*v)) nrm FROM ex GROUP BY 1),
        |d AS (
        |  SELECT a.vec_id a_id, b.vec_id b_id, sum(a.v*b.v) dot
        |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1,2),
        |c AS (
        |  SELECT a_id, b_id, round(dot/(na.nrm*nb.nrm), 3) cos_r
        |  FROM d JOIN n na ON a_id = na.vec_id JOIN n nb ON b_id = nb.vec_id)
        |SELECT a_id, b_id, cos_r FROM c WHERE cos_r >= 0.9
        |ORDER BY a_id, b_id""".stripMargin
}
