package graft.sources

import graft.cdc._
import graft.streaming.CdcPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** DataSource V2 micro-batch source for CDC chunk streams (SURVEY §2.a
  * rows 23-24: `activate()` + the pull loop as a *source*, not a flatMap).
  *
  * The reference's consumption model maps onto Spark's source contract:
  *
  *  - smart-blob chunk arrivals (`ifx_lo_read`, ec:2339-2346) → chunk files
  *    appearing in a directory; each file is one or more complete frames
  *    opening with its TABSCHEM (in-band schema rediscovery per segment);
  *  - `max_records` server batching (ec:45, 1965-1967) → admission control:
  *    `maxFilesPerTrigger` bounds each micro-batch
  *    ([[SupportsAdmissionControl]]/[[ReadMaxFiles]]);
  *  - savepoint restart (`cdc_activatesess(sess, seq)`, ec:2196-2198) → the
  *    offset log: an offset is the NAME of the last chunk file consumed (a
  *    watermark over the name-sorted listing), checkpointed atomically with
  *    each batch — replays after a crash re-read exactly the uncommitted
  *    suffix. A name watermark (unlike a file count) survives concurrent
  *    arrivals: a late file that sorts before the watermark cannot shift
  *    the mapping of committed offsets onto different files. Source
  *    contract (as for log segments): chunk names must be assigned in
  *    monotonically increasing order — a late file sorting below the
  *    watermark is deterministically skipped, never silently re-read;
  *  - the `startingSeq` option → frames with `seq_number < startingSeq`
  *    are dropped at decode, the `discard_candidate` semantic
  *    (ec:1459-1461) applied inside the source.
  *
  * Rows come out in [[CdcPipeline.Envelope]] shape — the one ingestion
  * path every CDC consumer (txn assembly → merge sink, the windowed and
  * joined streams, the maintained MV/histogram/bloom) reads.
  *
  * Usage: [[CdcChunkSource.stream]]`(spark, dir)`.
  */
class CdcChunkSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcChunkSource.EnvelopeSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdcChunkTable(properties.get("path"))
}

object CdcChunkSource {

  /** The chunk stream as envelope rows: the chunk files under `chunkDir`,
    * at most `maxFilesPerTrigger` per micro-batch, frames below
    * `startingSeq` discarded at decode; `tabnames` (tabid → name) are the
    * captured tables registered beyond the fixture default. */
  def stream(spark: SparkSession, chunkDir: String,
      maxFilesPerTrigger: Int = 3, startingSeq: Long = 0L,
      tabnames: Map[Int, String] = Map.empty): DataFrame = {
    val reader = spark.readStream
      .format("graft.sources.CdcChunkSource")
      .option("path", chunkDir)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("startingSeq", startingSeq.toString)
    if (tabnames.nonEmpty)
      reader.option("tabnames",
        tabnames.map { case (id, n) => s"$id:$n" }.mkString(","))
    reader.load()
  }

  /** Flat record envelope (CdcPipeline.Envelope as a row schema). */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("recordType", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("txid", IntegerType, nullable = false),
    StructField("key", LongType, nullable = true),
    StructField("v", DoubleType, nullable = true),
    StructField("etype", StringType, nullable = true)))

  /** List chunk files in deterministic (name) order. */
  private[sources] def listChunks(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".bin"))
      .map(_.getPath.toString)
      .sortBy(name)
  }

  /** Offset-comparable chunk name (files live in one flat directory, so
    * basename order == listing order). */
  private[sources] def name(file: String): String = new Path(file).getName
}

class CdcChunkTable(path: String) extends Table with SupportsRead {
  require(path != null, "CdcChunkSource requires .option(\"path\", dir)")
  override def name(): String = s"cdc_chunks($path)"
  override def schema(): StructType = CdcChunkSource.EnvelopeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcChunkScan(path, options)
    }
}

class CdcChunkScan(path: String, options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = CdcChunkSource.EnvelopeSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcChunkMicroBatchStream(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("startingSeq")).map(_.toLong).getOrElse(0L),
      Option(options.get("tabnames")))
}

/** Offset = name of the last chunk file consumed ("" before any). JSON is
  * the plain name, so offset logs are human-readable, and the watermark
  * stays pinned to a concrete file even if later-arriving names sort
  * before it (a count offset would re-map committed indices onto
  * different files — replay corruption). */
case class ChunkOffset(lastFile: String) extends Offset {
  override def json(): String = lastFile
}

class CdcChunkMicroBatchStream(path: String, maxFilesPerTrigger: Option[Int],
                               startingSeq: Long,
                               tabnames: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def chunks: Seq[String] = CdcChunkSource.listChunks(path)
  private def lastName(files: Seq[String]): String =
    files.lastOption.map(CdcChunkSource.name).getOrElse("")

  /** Trigger.AvailableNow: snapshot the end of the stream at query start;
    * batches (each bounded by admission control) drain up to the snapshot,
    * then the query stops — files arriving mid-run wait for the next run. */
  private var availableSnapshot: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableSnapshot = Some(lastName(chunks))

  override def initialOffset(): Offset = ChunkOffset("")
  override def deserializeOffset(json: String): Offset = ChunkOffset(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def latestOffset(): Offset = ChunkOffset(lastName(chunks))

  /** Admission control: the `max_records` batching knob (ec:45) — cap how
    * many chunk files one micro-batch admits. Only the ENGINE-PASSED limit
    * applies here: Trigger.AvailableNow snapshots the end offset by calling
    * this with ReadLimit.allAvailable(), and capping that snapshot would
    * silently truncate the run to one batch's worth of files. The
    * per-batch cap enters through [[getDefaultReadLimit]] instead. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChunkOffset].lastFile
    val available = availableSnapshot.getOrElse(lastName(chunks))
    val pending = chunks.map(CdcChunkSource.name)
      .filter(n => n > from && n <= available)
    val admitted = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles())
      case _ => pending
    }
    ChunkOffset(admitted.lastOption.getOrElse(from))
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ChunkOffset].lastFile
    val to = end.asInstanceOf[ChunkOffset].lastFile
    // One partition per chunk file: decode parallelism = arrival
    // granularity. The (from, to] name range maps committed offsets onto
    // the SAME files on every replay, regardless of what else has arrived
    // in the directory since.
    chunks.filter { f =>
      val n = CdcChunkSource.name(f)
      n > from && n <= to
    }.map(f => ChunkInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChunkReaderFactory(startingSeq, tabnames)
}

case class ChunkInputPartition(file: String) extends InputPartition

class ChunkReaderFactory(startingSeq: Long, tabnames: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChunkPartitionReader(partition.asInstanceOf[ChunkInputPartition].file,
      startingSeq, tabnames)
}

/** Reads one chunk file, walks its frames through [[FrameBuffer]] (in-band
  * TABSCHEM first, the reference's segment layout), and emits envelope
  * rows. Frames below `startingSeq` are dropped here — the source-side
  * discard of already-consumed history (ec:1459-1461). */
class ChunkPartitionReader(file: String, startingSeq: Long,
                           tabnames: Option[String] = None)
    extends PartitionReader[InternalRow] {

  /** tabid → tabname from the `tabnames` option ("1:a,2:b"; the enable()
    * registrations, ec:2061-2062), defaulting to the fixture stream table. */
  private def names: Map[Int, String] = tabnames match {
    case Some(txt) => txt.split(',').iterator.map { kv =>
      val Array(id, name) = kv.split(":", 2)
      id.trim.toInt -> name.trim
    }.toMap
    case None => Map(CdcPipeline.StreamTabid -> CdcPipeline.StreamTabname)
  }

  private val (records: Iterator[CdcRecord], schemas: SchemaRegistry) = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    val in = fs.open(p)
    val bytes = try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
    val fb = new FrameBuffer(SchemaRegistry(names))
    val recs = fb.append(bytes)
    require(fb.pendingBytes == 0, s"$file ends mid-frame")
    // Each chunk opens with its TABSCHEM (segment layout), so after the
    // walk the registry holds every schema the chunk's row images used.
    (recs.iterator, fb.registry)
  }

  private var current: InternalRow = _

  /** Envelope projection, derived from the registered schema rather than
    * fixed positions/types — delegates to the ONE shared implementation
    * ([[graft.streaming.CdcPipeline.envelopeCols]]); this wrapper only
    * converts to InternalRow-friendly values (UTF8String, boxed-or-null). */
  private def envelopeCols(img: RowImage): (Any, Any, Any) = {
    val (k, v, e) = graft.streaming.CdcPipeline.envelopeCols(img, schemas)
    (k.map(java.lang.Long.valueOf).orNull,
      v.map(java.lang.Double.valueOf).orNull,
      e.map(UTF8String.fromString).orNull)
  }

  private def toRow(r: CdcRecord): Option[InternalRow] = {
    def row(recordType: String, seq: Long, txid: Int, key: Any = null,
            v: Any = null, etype: Any = null): InternalRow =
      InternalRow(UTF8String.fromString(recordType), seq, txid, key, v, etype)
    r match {
      case img: RowImage if img.seqNumber >= startingSeq =>
        val (k, v, et) = envelopeCols(img)
        Some(row(img.recordType, img.seqNumber, img.transactionId, k, v, et))
      case b: BeginTx if b.seqNumber >= startingSeq =>
        Some(row(b.recordType, b.seqNumber, b.transactionId))
      case c: CommitTx if c.seqNumber >= startingSeq =>
        Some(row(c.recordType, c.seqNumber, c.transactionId))
      case rb: RollbackTx if rb.seqNumber >= startingSeq =>
        Some(row(rb.recordType, rb.seqNumber, rb.transactionId))
      case d: DiscardTx if d.seqNumber >= startingSeq =>
        Some(row(d.recordType, d.seqNumber, d.transactionId))
      case t: TruncateTab if t.seqNumber >= startingSeq =>
        Some(row(t.recordType, t.seqNumber, t.transactionId))
      case t: TimeoutBeat =>
        // Heartbeats surface as envelope rows (txid 0, no image): they
        // carry the stream position (ec:1403-1428) so an event-time
        // watermark can advance without data. Never start-seq-filtered —
        // a heartbeat is progress, not history.
        Some(row(t.recordType, t.seqNumber, 0))
      case _ => None // TABSCHEM consumed by the registry; below-start dropped
    }
  }

  override def next(): Boolean = {
    while (records.hasNext) {
      toRow(records.next()) match {
        case Some(r) => current = r; return true
        case None =>
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
