package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.zip.{CRC32, Deflater, Inflater}

/** WARC source/sink — the Common-Crawl container format, so the engine
  * can ingest the crawl's native artifacts directly instead of requiring
  * a pre-converted parquet table.
  *
  * Read path (the `warc-stream` DSv2 table, batch and micro-batch, see
  * WarcStreamSource): Hadoop FileSystem listing → one task per chunk file →
  * STREAMING member-by-member gzip decode (shared Inflater, 64 KB input
  * buffer) → lazy record parse → Page-shaped rows (url, warc_ts, html,
  * lang, http_status, mime). Peak memory per task is O(largest single
  * record), never O(chunk): a ~1 GB compressed / ~5 GB inflated
  * Common-Crawl chunk streams through the 64 KB window one record at a
  * time. One WARC chunk file = one task, which matches how Common Crawl
  * shards its corpus into ~1 GB `*.warc.gz` chunk files — parallelism
  * comes from the file count, exactly as on the real corpus. The parser
  * is TOLERANT (the E1 contract): junk between records, truncated
  * tails, unknown record types and malformed HTTP blocks are skipped,
  * never thrown; a corrupt gzip member ends that file's stream after
  * the records already decoded.
  *
  * Write path: hash-partitioned `foreachPartition` streaming writer over
  * the Hadoop FileSystem API (works on file:// here, hdfs:///s3a:// on a
  * cluster), one `part-NNNNN.warc[.gz]` per task, records sorted by url
  * inside a file so output bytes are deterministic. Gzip mode writes one
  * gzip MEMBER per record — the actual Common Crawl layout (readers can
  * seek to a record offset and inflate a single member) — through ONE
  * shared Deflater per task (reset per member, ended in the task's
  * finally: no native-memory churn from a Deflater per record). Each
  * task writes to a temp name and commits with an atomic rename, so a
  * speculative or retried task can never interleave bytes with a
  * concurrent attempt's file.
  *
  * The reference consumes payloads one keyed blob at a time
  * (/root/reference/src/s3_client.py:26-59); a crawl-scale corpus stores
  * those blobs embedded in WARC chunks — this operator is the bulk form
  * of that fetch seam, carrying the same (key → bytes) contract per
  * record with ids (urls) threaded through.
  */
object Warc {

  private val CRLF = "\r\n"

  /** Driver-side snapshot of the session's effective Hadoop conf as a
    * plain serializable map, rebuilt per task: spark.hadoop.* settings
    * (s3a credentials, endpoints, timeouts) must reach executor-side
    * FileSystem.get calls or hdfs///s3a// deployments break.
    * (Spark's SerializableConfiguration is private[spark].)
    */
  private[sources] def hadoopConfMap(spark: SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
  }

  private[sources] def confFrom(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** language header real Common-Crawl responses carry (since CC-MAIN-2018-39) */
  private val LangHeader = "WARC-Identified-Content-Language"

  // ---------------------------------------------------------------- write

  /** Serialize one response record (headers ASCII, body raw bytes). */
  private[sources] def recordBytes(url: String, tsMs: Long, lang: String,
                                   html: Array[Byte]): Array[Byte] = {
    val http = new ByteArrayOutputStream(html.length + 128)
    val httpHead = new StringBuilder(128)
      .append("HTTP/1.1 200 OK").append(CRLF)
      .append("Content-Type: text/html; charset=UTF-8").append(CRLF)
      .append("Content-Length: ").append(html.length).append(CRLF)
      .append(CRLF)
    http.write(httpHead.toString.getBytes(StandardCharsets.US_ASCII))
    http.write(html)
    val httpBytes = http.toByteArray

    val head = new StringBuilder(256)
      .append("WARC/1.0").append(CRLF)
      .append("WARC-Type: response").append(CRLF)
      .append("WARC-Target-URI: ").append(url).append(CRLF)
      .append("WARC-Date: ").append(Instant.ofEpochMilli(tsMs).toString).append(CRLF)
      // deterministic record id (the spec requires one; no wall clock/UUID)
      .append("WARC-Record-ID: <urn:graft:").append(md5Hex(url)).append(">").append(CRLF)
      .append(LangHeader).append(": ").append(lang).append(CRLF)
      .append("Content-Type: application/http; msgtype=response").append(CRLF)
      .append("Content-Length: ").append(httpBytes.length).append(CRLF)
      .append(CRLF)
    val out = new ByteArrayOutputStream(httpBytes.length + 256)
    out.write(head.toString.getBytes(StandardCharsets.US_ASCII))
    out.write(httpBytes)
    out.write(CRLF.getBytes(StandardCharsets.US_ASCII))
    out.write(CRLF.getBytes(StandardCharsets.US_ASCII))
    out.toByteArray
  }

  /** fixed deterministic gzip member header: CM=deflate, no flags,
    * MTIME=0 (no wall clock in output bytes), XFL=0, OS=0
    */
  private val GzipMemberHeader =
    Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)

  /** One-member-per-record gzip writer sharing a single Deflater/CRC32
    * across all records of a task; `end()` releases the native Deflater.
    */
  private final class GzipMemberWriter(os: java.io.OutputStream) {
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private val crc = new CRC32
    private val buf = new Array[Byte](64 * 1024)
    def writeMember(rec: Array[Byte]): Unit = {
      os.write(GzipMemberHeader)
      deflater.reset()
      deflater.setInput(rec)
      deflater.finish()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        if (n > 0) os.write(buf, 0, n)
      }
      crc.reset()
      crc.update(rec)
      writeIntLE(crc.getValue.toInt)
      writeIntLE(rec.length)
    }
    private def writeIntLE(v: Int): Unit = {
      os.write(v & 0xff); os.write((v >>> 8) & 0xff)
      os.write((v >>> 16) & 0xff); os.write((v >>> 24) & 0xff)
    }
    def end(): Unit = deflater.end()
  }

  /** Write `pages` (url, warc_ts, html, lang) as `numFiles` WARC chunk
    * files under `dir` (plus `_SUCCESS`). Null-html rows are dropped — a
    * fetch that returned nothing produces no response record, exactly as
    * on the real crawl. Deterministic: hash partitioning on url + in-file
    * url sort, a fixed gzip member header (MTIME=0), no randomness in
    * the bytes. Task-retry-safe: each attempt writes `_tmp-…-<attempt>`
    * and commits via rename; the first attempt to commit wins and later
    * attempts discard their temp file.
    */
  def write(spark: SparkSession, pages: DataFrame, dir: String,
            numFiles: Int = 8, gzip: Boolean = true): Unit = {
    import spark.implicits._
    val ext = if (gzip) ".warc.gz" else ".warc"
    val confMap = hadoopConfMap(spark)
    pages
      .select(col("url"), col("warc_ts").cast("timestamp"), col("html"),
        coalesce(col("lang"), lit("")).as("lang"))
      .where(col("html").isNotNull)
      .repartition(numFiles, col("url"))
      .sortWithinPartitions(col("url"))
      .as[(String, java.sql.Timestamp, Array[Byte], String)]
      .foreachPartition { (it: Iterator[(String, java.sql.Timestamp, Array[Byte], String)]) =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val attempt = if (tc == null) 0L else tc.taskAttemptId()
        val conf = confFrom(confMap)
        val dest = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d$ext")
        // no ".warc" in the temp name: invisible to the reader's filter
        val tmp = new org.apache.hadoop.fs.Path(dir, f"_tmp-part-$pid%05d-$attempt")
        val fs = dest.getFileSystem(conf)
        val os = fs.create(tmp, true)
        val gz = if (gzip) new GzipMemberWriter(os) else null
        try {
          try it.foreach { case (url, ts, html, lang) =>
            val rec = recordBytes(url, ts.getTime, lang, html)
            if (gzip) gz.writeMember(rec) else os.write(rec)
          } finally {
            if (gz != null) gz.end()
            os.close()
          }
          // commit: ATOMIC overwrite rename (FileContext.Rename.OVERWRITE
          // — atomic on HDFS and posix), so there is never a window with
          // no dest file: a concurrent reader sees old-or-new complete
          // bytes, and a speculative attempt killed mid-commit cannot
          // lose a chunk. Retry-safe because partition bytes are
          // DETERMINISTIC (url sort + fixed headers): attempts swap in
          // equal bytes. Schemes without FileContext fall back to
          // delete+rename (non-atomic, still retry-correct).
          try {
            org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri, conf)
              .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          } catch {
            case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              if (fs.exists(dest)) fs.delete(dest, false)
              if (!fs.rename(tmp, dest)) {
                if (fs.exists(dest)) fs.delete(tmp, false) // lost the race to a
                // concurrent attempt that committed equal bytes — clean our temp
                else sys.error(s"commit failed: cannot rename $tmp to $dest")
              }
          }
          ()
        } catch { case e: Throwable => fs.delete(tmp, false); throw e }
      }
    // sweep chunks a previous export left behind under OTHER names (a
    // re-export with smaller numFiles or a different gzip flag would
    // otherwise leave stale part files the reader silently mixes in),
    // plus any _tmp- leftovers from crashed attempts — all before
    // _SUCCESS marks the dir complete
    val root = new org.apache.hadoop.fs.Path(dir)
    val dfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val expected = (0 until numFiles).map(i => f"part-$i%05d$ext").toSet
    dfs.listStatus(root).toSeq.filter(_.isFile).map(_.getPath).foreach { p =>
      val n = p.getName
      val stale =
        (n.endsWith(".warc") || n.endsWith(".warc.gz")) && !expected.contains(n)
      if (stale || n.startsWith("_tmp-")) dfs.delete(p, false)
    }
    val succ = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    dfs.create(succ, true).close()
  }

  // ----------------------------------------------------------------- read

  final case class WarcDoc(url: String, warc_ts: java.sql.Timestamp,
                           html: Array[Byte], lang: String,
                           http_status: Int, mime: String)

  /** Lazily parse every response record in one decoded byte block (a
    * gzip member, or a whole plain `.warc` file). Tolerant: skips junk,
    * truncated tails, non-response records, and malformed headers; NEVER
    * throws. Lazy so the gz path holds one record at a time.
    * `wantHtml = false` (the column-pruned scan) still walks and frames
    * every record — the stream is sequential — but never COPIES a body:
    * `html` comes back null and the per-record allocation drops from
    * O(body) to O(headers).
    */
  private[sources] def parseChunk(bytes: Array[Byte],
                                  wantHtml: Boolean = true): Iterator[WarcDoc] =
    new scala.collection.AbstractIterator[WarcDoc] {
      private var i = if (bytes == null) -1 else indexOfAscii(bytes, "WARC/", 0)
      private var nextDoc: WarcDoc = null
      advance()
      private def advance(): Unit = {
        nextDoc = null
        while (nextDoc == null && i >= 0 && i < bytes.length) {
          val (next, doc) =
            try parseRecord(bytes, i, wantHtml)
            catch { case _: Exception => (-1, None) } // malformed → rescan below
          doc.foreach(nextDoc = _)
          i =
            if (next > i) indexOfAscii(bytes, "WARC/", next)
            else indexOfAscii(bytes, "WARC/", i + 5) // skip the bad marker
        }
      }
      def hasNext: Boolean = nextDoc != null
      def next(): WarcDoc = {
        if (nextDoc == null) throw new NoSuchElementException("exhausted WARC chunk")
        val d = nextDoc
        advance()
        d
      }
    }

  /** Parse one record at `start` (bytes[start..] begins "WARC/"): the
    * offset just past the record body (or -1 when framing is
    * unrecoverable here) and the parsed doc when it is a well-formed
    * response.
    */
  private def parseRecord(bytes: Array[Byte], start: Int,
                          wantHtml: Boolean = true): (Int, Option[WarcDoc]) = {
    val n = bytes.length
    val headerEnd = indexOfAscii(bytes, "\r\n\r\n", start)
    if (headerEnd < 0) return (-1, None)
    val headerText = new String(bytes, start, headerEnd - start, StandardCharsets.UTF_8)
    val headers = parseHeaders(headerText)
    val len = headers.get("content-length").flatMap(v => v.toLongOption).getOrElse(-1L)
    if (len < 0) return (-1, None)
    val bodyStart = headerEnd + 4
    val bodyEnd = math.min(bodyStart + len, n.toLong).toInt // truncation-tolerant
    val isResponse = headers.get("warc-type").contains("response") &&
      headers.get("content-type").exists(_.startsWith("application/http"))
    if (isResponse && bodyEnd > bodyStart) {
      val url = headers.getOrElse("warc-target-uri", "")
      val ts = headers.get("warc-date").flatMap { d =>
        try Some(new java.sql.Timestamp(Instant.parse(d).toEpochMilli))
        catch { case _: Exception => None }
      }.getOrElse(new java.sql.Timestamp(0L))
      val lang = headers.getOrElse(LangHeader.toLowerCase, "")
      val doc = parseHttp(bytes, bodyStart, bodyEnd, wantHtml).collect {
        case (status, mime, html) if url.nonEmpty =>
          WarcDoc(url, ts, html, lang, status, mime)
      }
      (bodyEnd, doc)
    } else (bodyEnd, None)
  }

  /** HTTP response block → (status, mime, body bytes); None if malformed.
    * `wantBody = false` skips the body copy (null body).
    */
  private def parseHttp(bytes: Array[Byte], start: Int, end: Int,
                        wantBody: Boolean = true): Option[(Int, String, Array[Byte])] = {
    val headEnd = indexOfAscii(bytes, "\r\n\r\n", start)
    if (headEnd < 0 || headEnd >= end) return None
    val head = new String(bytes, start, headEnd - start, StandardCharsets.UTF_8)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return None
    val status = lines(0).split(" ") match {
      case parts if parts.length >= 2 => parts(1).toIntOption.getOrElse(0)
      case _ => 0
    }
    val hs = parseHeaders(head) // parseHeaders skips the status line itself
    val mime = hs.getOrElse("content-type", "").split(";")(0).trim
    val bodyStart = headEnd + 4
    // honor HTTP Content-Length when present and sane; else take the rest
    val bodyEnd = hs.get("content-length").flatMap(_.toLongOption) match {
      case Some(l) if l >= 0 && bodyStart + l <= end => (bodyStart + l).toInt
      case _ => end
    }
    Some((status, mime,
      if (wantBody) java.util.Arrays.copyOfRange(bytes, bodyStart, bodyEnd)
      else null))
  }

  /** case-insensitive name → value over a header block whose FIRST line
    * is the version/status line (skipped); malformed lines ignored
    */
  private def parseHeaders(text: String): Map[String, String] =
    text.split("\r\n", -1).iterator.drop(1).flatMap { line =>
      val c = line.indexOf(':')
      if (c <= 0) None
      else Some(line.substring(0, c).trim.toLowerCase -> line.substring(c + 1).trim)
    }.toMap

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  private def indexOfAscii(bytes: Array[Byte], needle: String, from: Int): Int = {
    val nb = needle.getBytes(StandardCharsets.US_ASCII)
    val n = bytes.length - nb.length
    var i = math.max(from, 0)
    while (i <= n) {
      var k = 0
      while (k < nb.length && bytes(i + k) == nb(k)) k += 1
      if (k == nb.length) return i
      i += 1
    }
    -1
  }

  /** test/metrics hook: observes the size of every inflated gzip member
    * the reader materializes (the reader's peak per-record allocation)
    */
  @volatile private[sources] var memberSizeProbe: Int => Unit = _ => ()

  /** Streaming member-by-member gzip decode over an InputStream: yields
    * one INFLATED member at a time through a fixed 64 KB input window
    * and a single shared Inflater — peak memory O(largest member), never
    * O(stream). Tolerant to CONTENT corruption: a malformed header,
    * truncated member, or corrupt deflate stream ends the iteration
    * (records already decoded stand); but a transport-level IOException
    * from the underlying stream PROPAGATES so the task fails and Spark
    * retries (see recordsInFile's failure contract). `close()` is
    * idempotent and also runs on exhaustion.
    */
  private[sources] final class GzipMemberReader(in: java.io.InputStream)
      extends scala.collection.AbstractIterator[Array[Byte]] with AutoCloseable {
    private val ibuf = new Array[Byte](64 * 1024)
    private var ipos = 0
    private var ilen = 0
    private val inflater = new Inflater(true) // nowrap: we frame members ourselves
    private var nextMember: Array[Byte] = null
    private var closed = false
    advance()

    def hasNext: Boolean = nextMember != null
    def next(): Array[Byte] = {
      val m = nextMember
      advance()
      m
    }

    override def close(): Unit = if (!closed) {
      closed = true
      inflater.end()
      try in.close() catch { case _: Exception => () }
    }

    private def advance(): Unit = {
      nextMember = null
      if (closed) return
      try {
        if (parseHeader()) {
          nextMember = inflateMember()
          memberSizeProbe(nextMember.length)
          skip(8) // CRC32 + ISIZE trailer (best-effort; EOF here is fine)
        }
      } catch {
        // content corruption → end of usable stream, keep decoded records
        case _: java.io.EOFException => nextMember = null
        case _: java.util.zip.ZipException => nextMember = null
        case _: java.util.zip.DataFormatException => nextMember = null
        // transport errors (fs read) propagate → task failure → retry
        case e: java.io.IOException => close(); throw e
        case _: Exception => nextMember = null
      }
      if (nextMember == null) close()
    }

    /** refill so at least one byte is readable; false at EOF */
    private def fill(): Boolean = {
      if (ipos < ilen) return true
      ilen = in.read(ibuf)
      ipos = 0
      ilen > 0
    }

    private def readByte(): Int = if (fill()) { val b = ibuf(ipos) & 0xff; ipos += 1; b } else -1

    private def skip(n: Int): Unit = {
      var k = 0
      while (k < n && readByte() >= 0) k += 1
    }

    private def skipZeroTerminated(): Unit = {
      var b = readByte()
      while (b > 0) b = readByte()
    }

    /** gzip member header (RFC 1952); false = clean EOF or junk → stop */
    private def parseHeader(): Boolean = {
      val b0 = readByte()
      if (b0 < 0) return false // clean end of stream
      val b1 = readByte()
      if (b0 != 0x1f || b1 != 0x8b) return false
      if (readByte() != 8) return false // CM must be deflate
      val flg = readByte()
      if (flg < 0) return false
      skip(6) // MTIME(4) XFL OS
      if ((flg & 4) != 0) { // FEXTRA
        val xl = readByte() | (readByte() << 8)
        if (xl < 0) return false
        skip(xl)
      }
      if ((flg & 8) != 0) skipZeroTerminated() // FNAME
      if ((flg & 16) != 0) skipZeroTerminated() // FCOMMENT
      if ((flg & 2) != 0) skip(2) // FHCRC
      true
    }

    private def inflateMember(): Array[Byte] = {
      val out = new ByteArrayOutputStream(64 * 1024)
      val obuf = new Array[Byte](64 * 1024)
      inflater.reset()
      while (!inflater.finished()) {
        if (inflater.needsInput()) {
          if (!fill()) throw new java.io.EOFException("truncated gzip member")
          inflater.setInput(ibuf, ipos, ilen - ipos)
          ipos = ilen // reclaimed below via getRemaining
        }
        val n = inflater.inflate(obuf)
        if (n > 0) out.write(obuf, 0, n)
        else if (inflater.needsDictionary()) // content-level: unsupported stream shape
          throw new java.util.zip.ZipException("preset dictionary")
      }
      ipos -= inflater.getRemaining // hand unconsumed bytes back to the window
      out.toByteArray
    }
  }

  /** Stream every response record of one chunk file; peak memory is one
    * record (gz) or one file (plain .warc — the test-scale path).
    * Closeable so the DSv2 PartitionReader ([[WarcChunkReader]], its one
    * consumer; Spark calls close()) releases the stream/Inflater
    * deterministically; close is idempotent and also runs on exhaustion.
    *
    * Failure contract: CONTENT-level problems (malformed records, corrupt
    * gzip members, truncated tails) are absorbed by the parsers — they
    * yield fewer rows, never a task failure (E1 tolerance). But IO-level
    * failures here — fs.open / read on a listed file — PROPAGATE: a
    * transient HDFS/S3 error must fail the task so Spark retries it,
    * because in the streaming connector a swallowed open() would commit
    * the micro-batch offset past a chunk that produced zero rows and
    * silently drop ~1 GB of crawl forever.
    */
  private[sources] def recordsInFile(pathStr: String, confMap: Map[String, String],
                                     wantHtml: Boolean): Iterator[WarcDoc] with AutoCloseable = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(confFrom(confMap))
    // decoded blocks: one gzip member at a time, or the whole plain file
    val (blocks, release): (Iterator[Array[Byte]], AutoCloseable) =
      if (pathStr.endsWith(".gz")) {
        val reader = new GzipMemberReader(
          new java.io.BufferedInputStream(fs.open(p), 256 * 1024))
        (reader, reader)
      } else {
        val in = fs.open(p)
        (Iterator.single(try in.readAllBytes() finally in.close()), () => ())
      }
    new scala.collection.AbstractIterator[WarcDoc] with AutoCloseable {
      private val it = blocks.flatMap(parseChunk(_, wantHtml))
      def hasNext: Boolean = it.hasNext
      def next(): WarcDoc = it.next()
      def close(): Unit = release.close()
    }
  }

  /** Every `*.warc` / `*.warc.gz` chunk under `dir` as the Page-shaped
    * table (url, warc_ts, html, lang, http_status, mime): the batch scan
    * of the `warc-stream` DSv2 table, one task per chunk file. Spark's
    * required-column pushdown reaches the parser: when no consumer needs
    * `html` (a url count, a status/mime histogram) the parser never
    * copies a body — the scan still walks every record (the container is
    * sequential) but per-record allocation drops from O(body) to
    * O(headers). Per-record errors are absorbed by the parser
    * (tolerance); IO errors fail the task (see recordsInFile). A missing
    * `dir` reads as no rows.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("warc-stream").load(dir)

  /** Projected read: only `columns` (any subset/order of the schema). */
  def read(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame =
    read(spark, dir).select(columns.map(col): _*)
}
