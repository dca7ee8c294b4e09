package graft

import graft.functions.{GraftFunctions, HashKernel, MinHashAggregator, SimHashAggregator}
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash and SimHash signatures of `queries.Dedup` (plain `min` and
  * `sum` aggregates) against the typed Aggregators they replaced, kept in
  * test scope as the bit-identity reference.
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

  test("MinHash signatures and band tables are bit-identical to MinHashAggregator") {
    check("minhash") { docs =>
      val sh = rows(docs, "shingle")
      val ref = sh.groupBy(col("doc_id")).agg(udaf(MinHashAggregator).apply(col("shingle")).as("mh"))
      val refBands = ref.select(col("doc_id"), posexplode(array((0 until 16).map { b =>
          xxhash64((4 * b until 4 * b + 4).map(i => element_at(col("mh"), i + 1)): _*)
        }: _*)))
      val sig = Dedup.minhash(sh)
      rowSet(sig.select("doc_id", "mh")) == rowSet(ref) &&
        rowSet(sig.select("doc_id", "n")) == rowSet(sh.groupBy(col("doc_id")).count()) &&
        rowSet(Dedup.minhashBands(sh).drop("n")) == rowSet(refBands)
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
    val strs = Seq("", "a b", "é 😀", "中文")
    val h = GraftFunctions.fnv1a64(col("s"))
    val got = strs.toDF("s").select(h, GraftFunctions.mix64(h, 7), GraftFunctions.fp60(col("s")))
      .collect().map(_.toSeq).toSeq
    assert(got == strs.map { s =>
      val u = UTF8String.fromString(s)
      Seq(HashKernel.fnv1a64(u), HashKernel.mix64(HashKernel.fnv1a64(u), 7), HashKernel.fp60(u))
    })
  }

  test("the band table is estimated near its shingle input's size, so its self-join can broadcast") {
    val sh = rows(List(List("a b c", "b c d", "c d e"), List("x y z")), "shingle")
    def est(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bands = est(Dedup.minhashBands(sh))
    assert(bands <= 2 * est(sh), s"band table $bands B, shingles ${est(sh)} B")
  }

  test("both signatures plan as whole-stage-codegen HashAggregates") {
    val docs = List(List("a b c", "b c d"), List("é 😀", ""), Nil)
    Seq(Dedup.minhash(rows(docs, "shingle")), Dedup.simhashOf(rows(docs, "tok"))).foreach { q =>
      assert(q.collect().length == 2)
      val plan = q.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) HashAggregate\(keys=\[doc_id""".r.findFirstIn(plan).nonEmpty,
        s"expected a codegen'd HashAggregate:\n$plan")
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"), plan)
    }
  }
}
