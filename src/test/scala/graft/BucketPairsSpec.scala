package graft

import graft.queries.{BucketJoinReference, Dedup}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.bucketPairs`, the one band-bucket candidate generator, against
  * the self-join and the probe join it replaced (`BucketJoinReference`)
  * and a driver-side enumeration of every bucket, over random bucket
  * tables with one hot bucket of at least 40 ids.
  */
class BucketPairsSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionTestBase.spark

  private type Row4 = (Long, Long, Int, Long) // (doc_id, n, band, bh)

  /** batch rows (even ids) and id-disjoint stored rows (odd ids): one row
    * per (doc, band) over 4 bands, bh one of 7 values so buckets collide;
    * band 0 of the first `hot` batch docs and `hotStored` stored docs sits
    * in one bucket, bh 99. n is a per-doc value, as a shingle count is.
    */
  private val tables: Gen[(Seq[Row4], Seq[Row4])] = for {
    nRows <- Gen.choose(40, 64)
    nStored <- Gen.choose(0, 40)
    hot <- Gen.choose(40, nRows)
    hotStored <- Gen.choose(0, nStored)
    bhs <- Gen.listOfN(4 * (nRows + nStored), Gen.choose(0L, 6L))
    ns <- Gen.listOfN(nRows + nStored, Gen.choose(1L, 60L))
  } yield {
    def docs(ids: Seq[Long], nHot: Int, off: Int): Seq[Row4] = ids.zipWithIndex.flatMap { case (id, i) =>
      (0 until 4).map(b => (id, ns(off + i), b, if (b == 0 && i < nHot) 99L else bhs(4 * (off + i) + b)))
    }
    (docs((0 until nRows).map(2L * _), hot, 0), docs((0 until nStored).map(2L * _ + 1), hotStored, nRows))
  }

  private def df(rows: Seq[Row4]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "n", "band", "bh")
  }

  private def sorted(d: DataFrame): Seq[(Long, Long, Long, Long)] =
    d.select("a_id", "b_id", "na", "nb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  /** every (a_id < b_id, na, nb) pair per shared bucket: batch × batch and
    * batch × stored, never stored × stored
    */
  private def enumerate(rows: Seq[Row4], stored: Seq[Row4]): Seq[(Long, Long, Long, Long)] = {
    val byBucket = (rows.map(_ -> true) ++ stored.map(_ -> false)).groupBy { case (r, _) => (r._3, r._4) }
    byBucket.values.toSeq.flatMap { members =>
      for {
        ((x, xNew), i) <- members.zipWithIndex
        ((y, yNew), j) <- members.zipWithIndex
        if i < j && (xNew || yNew)
        (a, b) = if (x._1 < y._1) (x, y) else (y, x)
      } yield (a._1, b._1, a._2, b._2)
    }.sorted
  }

  private def check(name: String)(same: ((Seq[Row4], Seq[Row4])) => Boolean): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), Prop.forAll(tables)(same))
    assert(res.passed, s"$name: $res")
  }

  test("self mode equals the a_id < b_id band self-join, pair for pair, hot bucket included") {
    check("self") { case (rows, _) =>
      val got = sorted(Dedup.bucketPairs(df(rows), None, "n"))
      got == sorted(BucketJoinReference.selfJoin(df(rows))) && got == enumerate(rows, Nil)
    }
  }

  test("probe mode equals the x_id != y_id band join plus the count join; stored rows never pair") {
    check("probe") { case (rows, stored) =>
      val got = Dedup.bucketPairs(df(rows), Some(df(stored)), "n")
      val counts = df(rows ++ stored).select("doc_id", "n").distinct()
      sorted(got) == enumerate(rows, stored) &&
        sorted(got.distinct()) == sorted(BucketJoinReference.probe(df(rows), df(stored), counts))
    }
  }
}
