package graft

import graft.util.Scans
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Scans.spread` repartitions only an under-partitioned batch relation
  * of at least 512 KB; the three no-op cases return the frame itself.
  * A `range` of n longs has a plan size of exactly 8n bytes.
  */
class ScansSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark
  private def target = spark.sparkContext.defaultParallelism
  private val Floor = 512 * 1024 / 8 // longs in 512 KB

  test("spread: a streaming frame is returned unchanged") {
    val df = spark.readStream.format("rate").load()
    assert(Scans.spread(df, col("value")) eq df)
  }

  test("spread: a relation under the 512 KB floor is returned unchanged") {
    val df = spark.range(0, Floor - 1, 1, 1).toDF()
    assert(Scans.spread(df, col("id")) eq df)
  }

  test("spread: a source split wider than half of defaultParallelism is returned unchanged") {
    val df = spark.range(0, Floor * 4, 1, target / 2 + 1).toDF()
    assert(Scans.spread(df, col("id")) eq df)
  }

  test("spread: an under-partitioned relation at the floor is hash-repartitioned") {
    val df = spark.range(0, Floor, 1, math.max(target / 2, 1)).toDF()
    val out = Scans.spread(df, col("id"))
    assert(out ne df)
    assert(out.rdd.getNumPartitions == target)
    assert(out.count() == Floor)
  }
}
