package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Paired scaling measurement: the sandbox host has noisy neighbors with
  * multi-minute drift, so unpaired per-config medians confound host load
  * with parallelism. This tool alternates parallelism levels WITHIN each
  * round (one JVM, sequential sessions minutes apart at most), computes a
  * per-round N→4N efficiency, and reports all rounds — the paired ratio
  * cancels slow drift that an unpaired design absorbs into one config.
  *
  * Usage: ScalingBench <stagedCorpusDir> [rounds] [reps]
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val staged = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 4
    val reps = if (args.length > 2) args(2).toInt else 2
    val levels: Seq[Int] =
      if (args.length > 3) args(3).split(",").map(_.toInt).toSeq else Seq(4, 8, 16, 32)

    // self-stage when pointed at a dir that doesn't exist yet: amplified
    // page corpus at 256 partitions (fine-grained enough that every
    // parallelism level schedules >= 16 waves — tail imbalance stays
    // small relative to total, which matters for the paired ratio)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(staged, "_SUCCESS"))) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val amplify = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "2048").toInt
      val s = Probe.session(32)
      graft.fixtures.Corpus.pagesAmplified(s, sfDir, amplify)
        .repartition(256)
        .write.mode("overwrite").parquet(staged)
      s.stop()
    }

    def bestOf(spark: SparkSession, n: Int): Double = {
      def run(): Double = {
        val pages = spark.read.parquet(staged)
        val t0 = System.nanoTime()
        pages.select(col("url"),
            coalesce(length(col("html")).cast("long"), lit(0L)).as("in_bytes"),
            call_function("extract_content", col("url"), col("html"), col("lang")).as("r"))
          .agg(count(lit(1)), sum(col("in_bytes")), sum(length(col("r.extracted_text"))))
          .head()
        (System.nanoTime() - t0) / 1e9
      }
      (1 to n).map(_ => run()).min
    }

    // JVM/codegen warmup on the smallest config
    { val s = Probe.session(4); bestOf(s, 1); s.stop() }

    val results = (1 to rounds).map { r =>
      val times = levels.map { n =>
        val s = Probe.session(n)
        val t = bestOf(s, reps)
        s.stop()
        n -> t
      }.toMap
      val e416 = if (times.contains(4) && times.contains(16)) times(4) / times(16) / 4.0 else Double.NaN
      val e832 = if (times.contains(8) && times.contains(32)) times(8) / times(32) / 4.0 else Double.NaN
      println(f"[round $r] " + levels.map(n => f"t$n=${times(n)}%.2fs").mkString(" ") +
        f" eff(4→16)=$e416%.3f eff(8→32)=$e832%.3f")
      (times, e416, e832)
    }
    // NaN-safe: a custom levels list may omit a pair — report n/a rather
    // than letting NaN sort into the median
    // true median: average the two middle elements for even-length
    // samples (picking sorted(size/2) reports the upper median)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def med(xs: Seq[Double]): String = {
      val v = xs.filterNot(_.isNaN)
      if (v.isEmpty) "n/a" else f"${medianOf(v)}%.3f"
    }
    def medT(n: Int) = medianOf(results.map(_._1(n)))
    println(f"[paired-median] " + levels.map(n => f"t$n=${medT(n)}%.2fs").mkString(" ") +
      s" eff(4→16)=${med(results.map(_._2))} eff(8→32)=${med(results.map(_._3))}")
  }
}
