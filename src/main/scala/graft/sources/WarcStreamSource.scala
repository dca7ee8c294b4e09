package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util

/** The one reader of WARC chunk directories, as a DataSource V2 table:
  * `spark.read.format("warc-stream").load(dir)` (batch, what
  * [[Warc.read]] returns) and `spark.readStream.format("warc-stream")
  * .load(dir)` (micro-batch). Both modes plan one InputPartition per
  * chunk file and share one reader factory. The stream implements the
  * interface surface a Kafka connector implements (TableProvider →
  * MicroBatchStream with serialized offsets, checkpoint replay,
  * AvailableNow support). The Kafka jar itself cannot ship in this
  * offline sandbox; this connector is the executable proof that the
  * engine's streaming seam is the standard DSv2 contract, not a
  * file-source convenience: swap `format("warc-stream")` for
  * `format("kafka")` and nothing downstream changes.
  *
  * Semantics: the source watches a directory of `*.warc`/`*.warc.gz`
  * chunk files under the APPEND-ONLY-BY-NAME contract of a real crawl
  * store (Common Crawl chunk names are lexically increasing and never
  * rewritten — the analog of Kafka's monotone per-partition offsets).
  * The streaming Offset is the highest file name processed PLUS the
  * count of files at-or-below it; each micro-batch plans one
  * InputPartition per newly-arrived chunk file, and each partition
  * streams records through the member-by-member gzip reader (peak
  * memory one record). Exactly-once delivery follows from the offset
  * log: a restarted query replans only files lexically above the
  * committed watermark. A file that violates the
  * contract — arriving BELOW the committed watermark — cannot be
  * attributed (processed vs late) from a bounded offset, so the count
  * invariant detects it and FAILS the query loudly instead of
  * silently dropping data.
  *
  * Mirrors the reference's continuous Kafka drain
  * (/root/reference/src/kafka_consumer.py:111-134) with chunk files in
  * place of partitions/offsets.
  */
final class WarcStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcStreamSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcStreamTable(properties.get("path"))
}

object WarcStreamSource {
  val Schema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("lang", StringType),
    StructField("http_status", IntegerType),
    StructField("mime", StringType)))

  /** chunk files under `dir`, sorted by full path (names are the offset
    * axis); the one listing/filter of batch scans and micro-batches
    */
  private[sources] def listChunks(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filter { f =>
        val n = f.substring(f.lastIndexOf('/') + 1)
        (n.endsWith(".warc") || n.endsWith(".warc.gz")) &&
          !n.startsWith("_") && !n.startsWith(".")
      }
      .sorted
  }

  /** the session conf at driver-side planning points */
  private[sources] def driverConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  /** test hook: observes the (possibly pruned) schema each reader
    * factory is created with — the pushdown assertion point
    */
  @volatile private[sources] var readSchemaProbe: StructType => Unit = _ => ()
}

private final class WarcStreamTable(path: String) extends Table with SupportsRead {
  require(path != null, "warc-stream requires a path (.load(dir))")
  override def name(): String = s"warc-stream:$path"
  override def schema(): StructType = WarcStreamSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // admission control (the Kafka maxOffsetsPerTrigger analog): at most
    // N chunk files per micro-batch — bounds batch size/latency on a big
    // backlog and gives restart tests real multi-batch offset logs
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
    new WarcScan(path, maxFiles)
  }
}

/** The scan of both read modes, and the required-column pushdown surface.
  * Batch: Spark's `V2ScanRelationPushDown` calls `pruneColumns`, then
  * `toBatch` plans one partition per chunk file. Micro-batch: Spark
  * prunes no streaming scan, so [[WarcStreamPruning]] narrows `required`
  * during each batch's optimization. Either way readSchema() reflects
  * the pruned columns, partitions emit rows in exactly that shape, and
  * when `html` is pruned the record parser never copies a body — a
  * url-count over TB of chunks stops materializing page bytes (the scan
  * cost at crawl scale).
  */
private[sources] final class WarcScan(path: String,
                                      val maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns {
  @volatile private[sources] var required: StructType = WarcStreamSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    WarcStreamSource.listChunks(path, WarcStreamSource.driverConf())
      .map(f => WarcChunkPartition(f): InputPartition).toArray

  // one conf snapshot per scan, captured at planning time on the driver
  // and shipped ONCE via the reader factory (embedding it per partition
  // would serialize the whole Hadoop conf numFiles times)
  private lazy val confMap: Map[String, String] =
    Warc.hadoopConfMap(org.apache.spark.sql.SparkSession.active)

  override def createReaderFactory(): PartitionReaderFactory = {
    val cm = confMap // driver-side capture, serialized once with the factory
    // read the CURRENT required schema: a micro-batch's pruning rule runs
    // during that batch's optimization, i.e. before this call
    val req = required
    WarcStreamSource.readSchemaProbe(req)
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new WarcChunkReader(partition.asInstanceOf[WarcChunkPartition].file, cm, req)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // streaming scans never see Catalyst's batch pushdown rule (it
    // matches DataSourceV2Relation only), so the stream self-registers
    // the per-micro-batch pruning rule on the active session — zero user
    // config (GraftExtensions also injects it for spark.sql.extensions
    // deployments); a batch read leaves the optimizer list as it is
    WarcStreamPruning.install(org.apache.spark.sql.SparkSession.active)
    new WarcMicroBatchStream(path, this)
  }
}

/** Offset = highest chunk-file path ingested + how many files sit at or
  * below it ("" / 0 = nothing yet; n = -1 when recovered from a
  * count-less legacy offset — the contract check is skipped once). The
  * count detects append-only-contract violations: a late file below
  * the watermark changes the count without changing the watermark.
  */
private final case class WarcOffset(watermark: String, n: Int) extends Offset {
  override def json(): String = s"$n|$watermark"
}

private object WarcOffset {
  private[sources] def parse(json: String): WarcOffset = {
    val cut = json.indexOf('|')
    if (cut < 0) WarcOffset(json, -1) // legacy bare-watermark checkpoint
    else WarcOffset(json.substring(cut + 1), json.substring(0, cut).toInt)
  }
}

private final class WarcMicroBatchStream(dir: String, scan: WarcScan)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // the listing every offset was computed FROM, so planInputPartitions
  // can use the exact same snapshot — a file landing between
  // latestOffset() and planning can neither sneak into the batch
  // uncounted nor trip the guard for data that actually was processed
  @volatile private var lastSnapshot: Option[(WarcOffset, Seq[String])] = None

  private def currentOffset(): WarcOffset = {
    val fs = WarcStreamSource.listChunks(dir, WarcStreamSource.driverConf())
    val off = WarcOffset(fs.lastOption.getOrElse(""), fs.size)
    lastSnapshot = Some((off, fs))
    off
  }

  // AvailableNow: freeze the file horizon at prepare time so the query
  // drains exactly what existed when it started, then stops
  @volatile private var frozenLatest: Option[WarcOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenLatest = Some(currentOffset())

  override def initialOffset(): Offset = WarcOffset("", 0)
  override def deserializeOffset(json: String): Offset = WarcOffset.parse(json)
  override def latestOffset(): Offset = frozenLatest.getOrElse(currentOffset())
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): with
  // maxFilesPerTrigger set, each batch admits at most that many files
  // above `start` (AvailableNow keeps running batches until the frozen
  // horizon is reached); without it, every batch takes the full horizon
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val horizon = frozenLatest.getOrElse(currentOffset())
    scan.maxFilesPerTrigger match {
      case None => horizon
      case Some(m) =>
        val lo = start.asInstanceOf[WarcOffset]
        val files = lastSnapshot match {
          case Some((off, fs)) if off == horizon => fs
          case _ => WarcStreamSource.listChunks(dir, WarcStreamSource.driverConf())
        }
        val inHorizon = files.filter(_ <= horizon.watermark)
        val pending = inHorizon.filter(_ > lo.watermark)
        if (pending.isEmpty) horizon
        else {
          val admitted = pending.take(m)
          val off = WarcOffset(admitted.last,
            inHorizon.count(_ <= admitted.last))
          // planInputPartitions must see the listing this offset came from
          lastSnapshot = Some((off, files))
          off
        }
    }
  }
  override def commit(end: Offset): Unit = () // offset log is the ledger
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[WarcOffset]
    val hi = end.asInstanceOf[WarcOffset]
    val files = lastSnapshot match {
      case Some((off, fs)) if off == hi => fs // same snapshot the offset came from
      case _ => WarcStreamSource.listChunks(dir, WarcStreamSource.driverConf())
    }
    val below = files.count(_ <= lo.watermark)
    if (lo.n >= 0 && below != lo.n) throw new IllegalStateException(
      s"warc-stream contract violation: $below chunk files at or below committed " +
        s"watermark '${lo.watermark}' but the offset recorded ${lo.n} — a file " +
        "arrived below the watermark (names must be append-only increasing) and " +
        "was never processed; failing instead of silently dropping it")
    val batch = files.filter(f => f > lo.watermark && f <= hi.watermark)
    if (hi.n >= 0 && lo.n >= 0 && batch.size != hi.n - lo.n)
      throw new IllegalStateException(
        s"warc-stream contract violation: batch (${lo.watermark}, ${hi.watermark}] " +
          s"now holds ${batch.size} files but the offsets recorded ${hi.n - lo.n} — " +
          "the directory changed under a committed batch (recovery cannot " +
          "reconstruct it exactly)")
    batch.map(f => WarcChunkPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
}

private final case class WarcChunkPartition(file: String) extends InputPartition

/** Streams one chunk file's records as InternalRows (one gzip member at
  * a time), shaped to the PRUNED schema: only requested fields are
  * converted, and a pruned `html` is never even copied out of the
  * inflate buffer.
  */
private final class WarcChunkReader(file: String, confMap: Map[String, String],
                                    required: StructType)
    extends PartitionReader[InternalRow] {
  private val wantHtml = required.fieldNames.contains("html")
  private val docs = Warc.recordsInFile(file, confMap, wantHtml)
  private var current: Warc.WarcDoc = _
  private val getters: Array[Warc.WarcDoc => Any] =
    required.fieldNames.map[Warc.WarcDoc => Any] {
      case "url" => d => UTF8String.fromString(d.url)
      case "warc_ts" => d => d.warc_ts.getTime * 1000L // epoch micros
      case "html" => d => d.html
      case "lang" => d => UTF8String.fromString(d.lang)
      case "http_status" => d => d.http_status
      case "mime" => d => UTF8String.fromString(d.mime)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
  override def next(): Boolean =
    if (docs.hasNext) { current = docs.next(); true } else false
  override def get(): InternalRow =
    new GenericInternalRow(getters.map(_(current)))
  override def close(): Unit = docs.close()
}
