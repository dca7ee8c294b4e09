package graft

import graft.queries.{Dedup, ShingleReference}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The set table of `queries.Dedup` (`HashKernel.shingleSet`) and its
  * array-intersection verifier against the SQL-lambda shingler and the
  * exploded-shingle verifier they replaced (`ShingleReference`).
  */
class ShingleSetSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark

  // the empty word makes double, leading and trailing spaces; short lists
  // make texts of fewer than 3 words
  private def text(word: Gen[String]): Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""), 10 -> Gen.listOf(word).map(_.take(14).mkString(" ")))

  // ASCII, combining and CJK code points and surrogate pairs
  private val anyWord = Gen.frequency(2 -> Gen.const(""), 2 -> Gen.oneOf("a", "b", "é", "e\u0301", "中", "😀", "𝄞"),
    3 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar.map(_.toString), Gen.oneOf("ß", "ж", "😀"))).map(_.take(4).mkString))

  // three words, so windows repeat within and across docs
  private val fewWords = Gen.oneOf("a", "b", "c")

  private def docs(texts: List[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def check[T](name: String, gen: Gen[T])(same: T => Boolean): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), Prop.forAll(gen)(same))
    assert(res.passed, s"$name: $res")
  }

  test("shingleSet is the SQL-lambda shingler's distinct windows in first-occurrence order, n their count") {
    check("shingleSet", Gen.listOfN(30, text(anyWord))) { texts =>
      val d = docs(texts)
      val want = ShingleReference.shingleArrays(d).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val got = Dedup.shingleSets(d).collect().map(r => r.getLong(0) -> r).toMap
      got.keySet == texts.indices.map(_.toLong).toSet && got.forall { case (id, r) =>
        val sh = Option(r.getSeq[String](2)).getOrElse(Nil)
        val n = if (r.isNullAt(1)) 0L else r.getLong(1)
        sh == want.getOrElse(id, Nil) && sh.toSet.size == sh.size && math.max(n, 0L) == sh.size
      }
    }
  }

  test("the array-intersection verifier equals the exploded-shingle verifier on random candidate sets") {
    var kept = 0
    // docs 7..13 repeat docs 0..6 with one word appended: at least 4
    // shingles and one more make a pair of jaccard >= 0.8
    val cases = for {
      base <- Gen.listOfN(7, text(fewWords))
      picks <- Gen.listOfN(14 * 13 / 2, Gen.prob(0.6))
    } yield (base ++ base.map(t => if (t == null) null else t + " a"), picks)
    check("verify", cases) { case (texts, picks) =>
      import spark.implicits._
      val d = docs(texts)
      val sets = Dedup.shingleSets(d).where(col("n") > 0)
      val pairs = (for (a <- 0 until 14; b <- a + 1 until 14) yield (a.toLong, b.toLong)).zip(picks)
        .collect { case (p, true) => p }
      val cands = pairs.toDF("a_id", "b_id")
        .join(sets.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
        .join(sets.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      val got = Dedup.verifiedPairs(sets, cands).collect().map(_.toSeq).toSet
      kept += got.size
      got == ShingleReference.verifiedPairs(ShingleReference.shingles(d), cands).collect().map(_.toSeq).toSet
    }
    assert(kept > 0, "no candidate pair reached jaccard 0.8: the property compared empty sets only")
  }
}
