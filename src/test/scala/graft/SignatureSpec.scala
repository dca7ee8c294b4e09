package graft

import graft.functions.{GraftFunctions, HashKernel, MinHashAggregator, SimHashAggregator}
import graft.queries.{Dedup, HyperplaneReference}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The LSH signatures of `queries.Dedup`, each a `HashKernel` row kernel
  * (`minhash`, `simhash`, `hyperplaneBands`), against the typed
  * Aggregators and the typed `flatMap` they replaced, kept in test scope as
  * the bit-identity references.
  */
class SignatureSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark

  // ASCII, combining and CJK code points, surrogate pairs and spaces
  private val atom = Gen.oneOf(Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("é", "ß", "ж", "中", "́", "😀", "𝄞", " "))
  private val token = Gen.frequency(1 -> Gen.const(""), 6 -> Gen.listOf(atom).map(_.take(8).mkString))
  // 40 docs of random token lists; an empty list contributes no rows
  private val corpus = Gen.listOfN(40, Gen.listOf(token).map(_.take(24)))
  // 40 texts of those tokens: double, leading and trailing spaces, "" and null
  private val texts = Gen.listOfN(40, Gen.frequency(1 -> Gen.const(null: String), 1 -> Gen.const(""),
    8 -> Gen.listOf(token).map(_.take(24).mkString(" "))))
  // 24 vectors of 1-96 dims: zeros of both signs and ±1, ±0.5 components
  // (so dot products tie at 0), and arbitrary doubles
  private val vectors = Gen.listOfN(24, Gen.choose(1, 96).flatMap(n => Gen.listOfN(n,
    Gen.frequency(3 -> Gen.oneOf(0.0, -0.0, 1.0, -1.0, 0.5, -0.5), 1 -> Gen.choose(-1e3, 1e3)))))

  private def rows(docs: List[List[String]], name: String): DataFrame = {
    import spark.implicits._
    docs.zipWithIndex.flatMap { case (toks, id) => toks.map(t => (id.toLong, t)) }.toDF("doc_id", name)
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def check[T](name: String, gen: Gen[T] = corpus)(same: T => Boolean): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), Prop.forAll(gen)(same))
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
    import spark.implicits._
    check("simhash", texts) { ts =>
      val d = ts.zipWithIndex.map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
      // the reference over each text's word occurrences; a null text has none, so no row
      rowSet(Dedup.simhashes(d)) == rowSet(d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id")).agg(udaf(SimHashAggregator).apply(col("tok"))))
    }
  }

  test("hyperplane band rows are bit-identical to the typed flatMap they replaced") {
    import spark.implicits._
    // fixed ties: every dot product of a zero vector is ±0, and [1, ±1] ties on half the planes
    val fixed = List(List(0.0), List(-0.0, -0.0), List(1.0, 1.0), List(1.0, -1.0))
    check("hyperplane", vectors) { vs =>
      val corpus = (fixed ++ vs).zipWithIndex.map { case (v, id) => (id.toLong, v) }.toDF("vec_id", "e")
      rowSet(Dedup.embedBands(corpus)) == rowSet(HyperplaneReference.hyperplaneBands(spark, corpus))
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
    val vec = array(size(split(col("s"), " ")).cast("double"), lit(-0.5))
    val got = strs.toDF("s").select(sh, GraftFunctions.minhash(sh), GraftFunctions.fp60(col("s")),
      GraftFunctions.simhash(col("s")), GraftFunctions.hyperplaneBands(vec)).collect().map(_.toSeq).toSeq
    assert(got == strs.map { s =>
      val u = UTF8String.fromString(s)
      val set = HashKernel.shingleSet(u)
      Seq(set.toSeq[UTF8String](StringType).map(_.toString), HashKernel.minhash(set).toLongArray.toSeq,
        HashKernel.fp60(u), HashKernel.simhash(u),
        HashKernel.hyperplaneBands(new GenericArrayData(Array[Any](s.split(" ", -1).length.toDouble, -0.5)))
          .toIntArray.toSeq)
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

  test("every signature table plans as a codegen'd projection: no aggregate, typed round trip or exchange") {
    val texts = typedLit(Seq("a b c d", "é 😀 x", ""))
    val d = spark.range(3).select(col("id").as("doc_id"), element_at(texts, (col("id") + 1).cast("int")).as("text"))
    val corpus = spark.range(3).select(col("id").as("vec_id"), array(col("id").cast("double"), lit(-1.0)).as("e"))
    // the tables are under the spread's size floor, so no exchange at all
    val tables = Seq("minhash" -> Dedup.shingleSets(d), "simhash" -> Dedup.simhashes(d),
      "hyperplaneBands" -> Dedup.embedBands(corpus))
    tables.foreach { case (kernel, table) =>
      assert(table.collect().nonEmpty)
      val plan = table.queryExecution.executedPlan.toString
      Seq("Aggregate", "DeserializeToObject", "MapPartitions", "SerializeFromObject", "Exchange")
        .foreach(op => assert(!plan.contains(op), s"the $kernel table plans a $op:\n$plan"))
      assert(("""\*\(\d+\) (Project|Generate) .*static_invoke\(graft\.functions\.HashKernel\.""" + kernel + """\(""")
          .r.findFirstIn(plan).nonEmpty,
        s"expected a codegen'd projection of $kernel:\n$plan")
    }
  }
}
