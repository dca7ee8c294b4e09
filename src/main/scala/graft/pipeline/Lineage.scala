package graft.pipeline

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Checkpointed per-partition lineage + snapshot-style atomic commit
  * (op L1, SURVEY.md §4.2): the Iceberg-snapshot stand-in (no iceberg jar
  * ships offline — the seam is documented; a real Iceberg catalog replaces
  * the manifest file with a table commit).
  *
  * Commit protocol:
  *   1. results are written `partitionBy("pid")` with dynamic partition
  *      overwrite (idempotent per pid — rerunning an uncommitted pid
  *      replaces, never duplicates); the same write stage sums each pid's
  *      lineage ([[LineageSums]]);
  *   2. lineage rows (pid, offset=snapshot, rows, bytes, digest) are
  *      written by the driver, no Spark job, as one parquet file under
  *      `_lineage/data/offset=<snapshot>`;
  *   3. the manifest (committed pid set + snapshot counter) is rewritten
  *      via temp file + atomic rename ([[publish]]) — a crash anywhere
  *      before (3) leaves the previous manifest intact and the
  *      interrupted pids uncommitted.
  *
  * Resume = anti-filter on the committed pid set: any rerun processes
  * exactly the complement, at partition granularity (north_star). This is
  * the semantic heir of the reference's reconnect-and-replay loop
  * (/root/reference/src/kafka_consumer.py:101-130): restart-ability
  * without reprocessing acknowledged work.
  */
object Lineage {

  private val BaseCols = Seq("partition_id", "rows", "bytes", "digest")

  private def manifestPath(outputDir: String): Path = Paths.get(outputDir, "_lineage", "manifest.json")

  /** Full manifest state. `epochs` tracks streaming micro-batches already
    * committed (the foreachBatch replay-dedup axis — Spark's checkpoint
    * can replay the last batch after a crash between our commit and its
    * offset-log write); `schemas` records the WRITER column list per
    * snapshot (the Iceberg schema-evolution analog: readers union by
    * name, with nulls for columns a snapshot predates).
    */
  final case class Manifest(snapshot: Long, pids: Set[Int], epochs: Set[Long],
                            schemas: Map[Long, Seq[String]])

  /** The committed manifest: empty when there is none, or when its bytes
    * are not JSON (a safe full reprocess). Fields are read by name, so
    * field order never matters, and legacy manifests (snapshot and pids
    * only) read with empty epochs/schemas.
    */
  def manifest(outputDir: String): Manifest = {
    val p = manifestPath(outputDir)
    val n = if (!Files.exists(p)) MissingNode.getInstance()
      else try Json.mapper.readTree(Files.readAllBytes(p))
      catch { case _: JsonProcessingException => MissingNode.getInstance() }
    def longs(field: String): Set[Long] = n.path(field).elements().asScala.map(_.asLong).toSet
    val schemas = n.path("schemas").properties().asScala.map { e =>
      e.getKey.toLong -> e.getValue.elements().asScala.map(_.asText).toSeq
    }.toMap
    Manifest(n.path("snapshot").asLong(0L), longs("committed_pids").map(_.toInt), longs("epochs"), schemas)
  }

  private def writeManifest(outputDir: String, m: Manifest): Unit = {
    val json = Json.write(ListMap(
      "snapshot" -> m.snapshot,
      "committed_pids" -> m.pids.toSeq.sorted,
      "epochs" -> m.epochs.toSeq.sorted,
      "schemas" -> ListMap.from(m.schemas.toSeq.sortBy(_._1).map { case (k, cols) => k.toString -> cols })))
    publish(manifestPath(outputDir), json.getBytes("UTF-8"))
  }

  /** Writes `bytes` to a hidden temp sibling of `target` and renames it
    * over `target` atomically: readers see the previous file or the whole
    * new one, never a torn write. The manifest and the `_metrics` records
    * are published through it.
    */
  private[pipeline] def publish(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Single-writer enforcement: the commit protocol (dynamic partition
    * overwrite + manifest rename) is crash-safe but NOT multi-writer-safe
    * — two concurrent jobs on one output dir could each union a stale
    * committed-pid set and lose the other's pids. The lock file is
    * created atomically (`Files.createFile` throws if present), so an
    * accidental double-submit fails fast instead of corrupting lineage.
    * A crashed run leaves the lock behind; `takeover = true` (CLI
    * `--takeover true`) deletes it first — safe because every step of an
    * interrupted run is idempotent (per-pid overwrite, snapshot-keyed
    * lineage dirs, atomic manifest).
    */
  def acquireWriterLock(outputDir: String, takeover: Boolean): Path = {
    val dir = Paths.get(outputDir, "_lineage")
    Files.createDirectories(dir)
    val lock = dir.resolve("writer.lock")
    if (takeover) Files.deleteIfExists(lock)
    // owner token written into the lock: release only deletes OUR lock,
    // so a takeover that races a still-live writer cannot be followed by
    // that writer's finally-block freeing the new owner's lock. (The
    // takeover-against-a-live-writer hazard itself is inherent to
    // advisory file locks — takeover is for verified-dead runs.)
    val token = s"${java.util.UUID.randomUUID()} pid=${ProcessHandle.current().pid()} " +
      s"acquired=${java.time.Instant.now()}"
    try Files.write(lock, token.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val holder = try new String(Files.readAllBytes(lock), "UTF-8") catch { case _: Exception => "?" }
        throw new IllegalStateException(
          s"another writer holds $lock [$holder] (or a previous run crashed) — " +
            "rerun with --takeover true to steal the lock")
    }
    lockTokens.put(lock, token)
    lock
  }

  private val lockTokens = new java.util.concurrent.ConcurrentHashMap[Path, String]()

  def releaseWriterLock(lock: Path): Unit = {
    val token = lockTokens.remove(lock)
    val mine = token != null && Files.exists(lock) &&
      (try new String(Files.readAllBytes(lock), "UTF-8") == token
       catch { case _: Exception => false })
    if (mine) Files.deleteIfExists(lock)
  }

  /** Write the snapshot's lineage rows and atomically publish the new
    * manifest; returns the new snapshot. `lineage` is collected once: the
    * collected rows are both what is written and where the committed pids
    * come from, so the manifest can never diverge from the rows on disk.
    * Rows go to a SNAPSHOT-KEYED subdirectory (`data/offset=N`, replaced
    * whole): a crash between the data write and the manifest rename
    * leaves an orphan directory that (a) readers never see —
    * table()/tableAt() bound reads by the COMMITTED snapshot — and (b)
    * the retry replaces, so no duplicate rows can ever accumulate.
    *
    * A streaming micro-batch passes its `epoch`, which the manifest
    * records: a foreachBatch REPLAY of an already-committed batch (crash
    * between our commit and Spark's offset-log write) writes nothing and
    * returns None — no duplicate lineage rows, no double-counted docs.
    *
    * SCHEMA EVOLUTION: the written columns are the four base lineage
    * fields plus any EXTRA columns the caller's frame carries; the
    * column list is recorded in the manifest under the new snapshot
    * (the Iceberg writer-schema analog). Readers union snapshots by
    * name — a column added in snapshot K reads as null for rows of
    * snapshots < K — so a 100-TB table never rewrites history to add a
    * field.
    */
  def commit(spark: SparkSession, outputDir: String, lineage: DataFrame,
             epoch: Option[Long] = None): Option[Long] = {
    val cols = BaseCols ++ lineage.columns.filterNot(BaseCols.contains)
    val stamped = lineage.select(cols.head, cols.tail: _*)
    commitRows(spark, outputDir, stamped.schema, stamped.collect().toSeq, epoch)
  }

  /** [[commit]] of rows already on the driver, whose `schema` starts with
    * the four base columns: the extraction tail's commit, no Spark job.
    */
  private[pipeline] def commitRows(spark: SparkSession, outputDir: String, schema: StructType,
      rows: Seq[Row], epoch: Option[Long]): Option[Long] = {
    val m = manifest(outputDir)
    if (epoch.exists(m.epochs)) return None
    // guard against the pre-snapshot layout (flat parquet with an offset
    // COLUMN directly under data/): mixing it with offset=N partition
    // dirs breaks Spark's partition discovery at read time — fail the
    // commit with a clear message instead
    val dataDir = Paths.get(outputDir, "_lineage", "data")
    if (Files.isDirectory(dataDir)) {
      val legacy = Files.list(dataDir)
      try {
        val it = legacy.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
            throw new IllegalStateException(
              s"legacy flat lineage layout detected at $dataDir ($p); " +
                "move existing files into data/offset=<n>/ subdirectories before resuming")
        }
      } finally legacy.close()
    }
    val newSnap = m.snapshot + 1
    val snapDir = dataDir.resolve(s"offset=$newSnap")
    graft.util.Staging.deleteRec(snapDir)
    Files.createDirectories(snapDir)
    writeParquet(spark, snapDir, schema, rows)
    writeManifest(outputDir, Manifest(
      snapshot = newSnap,
      pids = m.pids ++ rows.map(_.getInt(0)),
      epochs = m.epochs ++ epoch,
      schemas = m.schemas + (newSnap -> schema.fieldNames.toSeq)))
    Some(newSnap)
  }

  /** `rows` as one parquet file in `dir`, written on the driver with the
    * session's parquet writer (`ParquetWriteSupport`, so Spark's schema
    * metadata and codec) — at most a few hundred rows, not worth a job.
    * Written under a hidden name that file listings skip, then renamed:
    * a crash mid-write leaves no torn file for a `mergeSchema` read to
    * trip on.
    */
  private def writeParquet(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(conf, job, schema, new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val parent = new HPath(dir.toUri)
    val tmp = new HPath(parent, s".$name.tmp")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = factory.newInstance(tmp.toString, schema, ctx)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    if (!tmp.getFileSystem(job.getConfiguration).rename(tmp, new HPath(parent, name)))
      throw new java.io.IOException(s"could not rename $tmp into $dir")
  }

  /** The lineage table as a DataFrame (latest snapshot per pid). */
  def table(spark: SparkSession, outputDir: String): DataFrame =
    tableAt(spark, outputDir, Long.MaxValue)

  /** Snapshot time travel (the Iceberg-snapshot analog): lineage as of
    * snapshot `snap` — latest row per pid with offset <= snap. Reads are
    * bounded by the committed manifest snapshot, so orphan data from a
    * crashed commit is invisible (only manifest-referenced snapshots
    * exist to readers). The `offset` column is the partition directory —
    * Spark prunes un-read snapshots at the file listing.
    *
    * Schema evolution (manifest `schemas`): snapshots may carry
    * different writer schemas; `mergeSchema` unions them BY NAME, so a
    * column added in a later snapshot reads as null on earlier rows —
    * exactly Iceberg's add-column semantics, with the per-snapshot
    * writer schema auditable via [[manifest]].
    */
  def tableAt(spark: SparkSession, outputDir: String, snap: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val bound = math.min(snap, manifest(outputDir).snapshot)
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(s"$outputDir/_lineage/data")
      .where(col("offset") <= bound)
    val w = Window.partitionBy(col("partition_id")).orderBy(col("offset").desc)
    raw.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }
}
