package graft.tools

import graft.extract.Extractor
import graft.fixtures.PageHtml

/** Dev micro-benchmark: single-threaded extraction kernel throughput,
  * no Spark — isolates the per-document cost of decode → fused blocks →
  * classifier → spans from scheduling/GC/scan effects.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val giant = args.contains("giant")
    val nDocs = if (giant) args.filterNot(_ == "giant").headOption.map(_.toInt).getOrElse(8)
                else args.headOption.map(_.toInt).getOrElse(20000)
    val words = ("the quick brown fox jumps over a lazy dog while data " +
      "flows through spark pipelines at scale with filters joins windows").split(' ')
    val docs: Array[(String, Array[Byte])] = (0 until nDocs).map { i =>
      // giant mode: ~10 MB pages (the reference pins a 1 MiB blob case,
      // test/test_s3_client.py:85-103 — crawls contain larger) — measures
      // the scan/classifier at multi-MB single-document size
      val n = if (giant) 1600000 else 40 + i % 120
      val text = Array.tabulate(n)(j => words((i + j * 7) % words.length)).mkString(" ")
      (s"https://h${i % 7}.example.org/doc/$i",
        PageHtml.build(i.toLong, text, "en", withPayload = i % 10 == 0).getBytes("UTF-8"))
    }.toArray
    val totalBytes = docs.map(_._2.length.toLong).sum

    def run(): Long = {
      var acc = 0L
      var i = 0
      while (i < docs.length) {
        val (u, h) = docs(i)
        Extractor.extract(u, h, "en") match {
          case Right(d) => acc += d.extracted_text.length
          case Left(_)  => acc += 1
        }
        i += 1
      }
      acc
    }
    run(); run() // warm-up
    val reps = 5
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val acc = run()
      val s = (System.nanoTime() - t0) / 1e9
      (s, acc)
    }
    val best = times.map(_._1).min
    println(f"docs=$nDocs bytes=${totalBytes / 1e6}%.1fMB best=${best}%.3fs " +
      f"docs/s=${nDocs / best}%.0f MB/s=${totalBytes / 1e6 / best}%.1f acc=${times.head._2}")
  }
}
