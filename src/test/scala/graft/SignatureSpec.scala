package graft

import graft.functions.{GraftFunctions, HashKernel, MinHashAggregator, SimHashAggregator}
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash and SimHash signatures of `queries.Dedup` (the
  * `HashKernel.minhash` row kernel and plain `sum` aggregates) against the
  * typed Aggregators they replaced, kept in test scope as the bit-identity
  * reference.
  */
class SignatureSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark

  // ASCII, combining and CJK code points, surrogate pairs and spaces
  private val atom = Gen.oneOf(Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("é", "ß", "ж", "中", "́", "😀", "𝄞", " "))
  private val token = Gen.frequency(1 -> Gen.const(""), 6 -> Gen.listOf(atom).map(_.take(8).mkString))
  // 40 docs of random token lists; an empty list contributes no rows
  private val corpus = Gen.listOfN(40, Gen.listOf(token).map(_.take(24)))

  private def rows(docs: List[List[String]], name: String): DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.flatMap { case (toks, id) => toks.map(t => (id.toLong, t)) }.toDF("doc_id", name)
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def check(name: String)(same: List[List[String]] => Boolean): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), Prop.forAll(corpus)(same))
    assert(res.passed, s"$name: $res")
  }

  /** (doc_id, pos, col) band rows of a signature table (doc_id, mh) */
  private def refBands(sig: DataFrame): DataFrame = sig.select(col("doc_id"), posexplode(array((0 until 16).map { b =>
      xxhash64((4 * b until 4 * b + 4).map(i => element_at(col("mh"), i + 1)): _*)
    }: _*)))

  test("MinHash signatures and band tables are bit-identical to MinHashAggregator") {
    check("minhash") { docs =>
      val toks = rows(docs, "shingle")
      // the kernel over each doc's token list, repeats kept (a minimum ignores them)
      val sig = toks.groupBy(col("doc_id")).agg(GraftFunctions.minhash(collect_list(col("shingle"))).as("mh"))
      val ref = toks.groupBy(col("doc_id")).agg(udaf(MinHashAggregator).apply(col("shingle")).as("mh"))
      // the set table of texts made of the same tokens, against the reference over its shingles
      val texts = toks.groupBy(col("doc_id")).agg(concat_ws(" ", collect_list(col("shingle"))).as("text"))
      val sets = Dedup.shingleSets(texts).where(col("n") > 0)
      val setRef = sets.select(col("doc_id"), explode(col("sh")).as("s"))
        .groupBy(col("doc_id")).agg(udaf(MinHashAggregator).apply(col("s")).as("mh"))
      rowSet(sig) == rowSet(ref) && rowSet(sets.select("doc_id", "mh")) == rowSet(setRef) &&
        rowSet(Dedup.minhashBands(sets).drop("n")) == rowSet(refBands(setRef))
    }
  }

  test("SimHash fingerprints are bit-identical to SimHashAggregator") {
    check("simhash") { docs =>
      val toks = rows(docs, "tok")
      rowSet(Dedup.simhashOf(toks)) ==
        rowSet(toks.groupBy(col("doc_id")).agg(udaf(SimHashAggregator).apply(col("tok"))))
    }
  }

  test("fp60 is bit-identical to the first 15 hex digits of Spark's md5") {
    check("fp60") { docs =>
      val toks = rows(docs, "tok").union(rows(List(List(null)), "tok"))
      rowSet(toks.select(col("tok"), GraftFunctions.fp60(col("tok")))) ==
        rowSet(toks.select(col("tok"), conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")))
    }
  }

  test("each HashKernel column builds on its own and evaluates as its kernel") {
    import spark.implicits._
    val strs = Seq("", "a b", "a b c a b c", " é 😀  中文 ", "x y z")
    val sh = GraftFunctions.shingleSet(col("s"))
    val got = strs.toDF("s").select(sh, GraftFunctions.minhash(sh), GraftFunctions.fp60(col("s")))
      .collect().map(_.toSeq).toSeq
    assert(got == strs.map { s =>
      val u = UTF8String.fromString(s)
      val set = HashKernel.shingleSet(u)
      Seq(set.toSeq[UTF8String](StringType).map(_.toString), HashKernel.minhash(set).toLongArray.toSeq,
        HashKernel.fp60(u))
    })
  }

  test("the band table is estimated near its shingle input's size, so its self-join can broadcast") {
    import spark.implicits._
    val d = Seq((0L, "a b c d e"), (1L, "x y z")).toDF("doc_id", "text")
    def est(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val (sets, bands) = (Dedup.shingleSets(d), Dedup.minhashBands(Dedup.shingleSets(d)))
    assert(est(bands) <= 2 * est(sets) && est(bands) <= 2 * est(d),
      s"band table ${est(bands)} B, set table ${est(sets)} B, documents ${est(d)} B")
  }

  test("both signatures plan as whole-stage-codegen HashAggregates") {
    // MinHash: the set table is one codegen'd projection, no Aggregate and no Exchange
    val texts = typedLit(Seq("a b c d", "é 😀 x", ""))
    val sets = Dedup.shingleSets(spark.range(3).select(col("id").as("doc_id"),
      element_at(texts, (col("id") + 1).cast("int")).as("text")))
    assert(sets.collect().length == 3)
    val setPlan = sets.queryExecution.executedPlan.toString
    assert(!setPlan.contains("Aggregate") && !setPlan.contains("Exchange"), s"the set table aggregates:\n$setPlan")
    assert("""\*\(\d+\) Project \[.*minhash""".r.findFirstIn(setPlan).nonEmpty,
      s"expected a codegen'd projection:\n$setPlan")
    // SimHash: 33 plain sums, one codegen'd HashAggregate
    val docs = List(List("a b c", "b c d"), List("é 😀", ""), Nil)
    val q = Dedup.simhashOf(rows(docs, "tok"))
    assert(q.collect().length == 2)
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate\(keys=\[doc_id""".r.findFirstIn(plan).nonEmpty,
      s"expected a codegen'd HashAggregate:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"), plan)
  }
}
