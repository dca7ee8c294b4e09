package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions deployment route: a session created with
  * `--conf spark.sql.extensions=graft.GraftExtensions` can call
  * `extract_content` from pure SQL with no programmatic registration —
  * the config string is the whole cluster rollout.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("extract_content injected via spark.sql.extensions, pure-SQL call") {
    SparkSessionTestBase.spark // ensure the shared SparkContext exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // spark.sql.extensions is a STATIC conf read from the SparkContext at
      // startup; this JVM's context already exists (shared test fixture),
      // so inject through the equivalent public builder API — on a real
      // cluster the --conf string and withExtensions run the same injector.
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val para = Seq.fill(20)("w").mkString(" ")
      val out = s2.sql(
        s"SELECT extract_content('https://x/sql', CAST('<p>$para</p>' AS BINARY), 'en').extracted_text AS t")
        .head().getString(0)
      assert(out == para, s"pure-SQL extraction must round-trip: got '$out'")
      // error routing reachable from SQL too
      val err = s2.sql(
        "SELECT extract_content('', CAST('<p>x</p>' AS BINARY), 'en').error AS e")
        .head().getString(0)
      assert(err == "validation")
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("register() route checks arity like the extensions route") {
    val spark = SparkSessionTestBase.spark
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT extract_content('u')").collect())
    assert(e.getMessage.contains("extract_content requires exactly 3 arguments"), e.getMessage)
  }
}
