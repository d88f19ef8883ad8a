package graft.streaming

import graft.Tables
import graft.cdc._
import graft.sources.CdcChunkSource
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** `s_cdc_pipeline` (SURVEY.md §2.b, M2): the reference's pull loop +
  * savepoint semantics (ec:2228-2368) as a Structured Streaming pipeline:
  *
  * {{{
  * CdcChunkSource.stream                    (chunk files → FrameBuffer
  *                                             decode, in-band TABSCHEM;
  *                                             LSN offsets, admission)
  *   → flatMapGroupsWithState keyed by txid   (open-txn state, ec:581-771)
  *   → Maintainer.start idempotent merge sink (latest-per-key + monotonic
  *                                             LSN guard, ec:735-771)
  * }}}
  *
  * Mapping of the reference's moving parts:
  *  - the smart-blob byte stream → a directory of binary chunk files; each
  *    chunk opens with its TABSCHEM frame (schema is re-announced per
  *    segment, the in-band discovery path of ec:1722-1804) and ends with a
  *    TIMEOUT heartbeat (ec:1403-1428);
  *  - `informixcdc_opntxns` (open transactions) → `GroupState[TxnBuf]` per
  *    txid: BEGIN/rows buffer (upsert_opntxns, ec:663-700), COMMIT emits the
  *    buffered images downstream and clears (delete_opntxns + upsert_lsttxn
  *    atomically, ec:2269-2299), ROLLBACK clears without emitting
  *    (ec:2301-2308), DISCARD drops the tail after its seq (ec:1617-1655);
  *  - `informixcdc_lsttxn` + exactly-once restart → the streaming
  *    checkpoint (offset log) plus an idempotent merge sink: re-delivering
  *    a batch cannot change the materialized table, so foreachBatch retries
  *    and checkpoint-restart replays are safe (SURVEY §7.4.2);
  *  - restart-LSN decision table → [[graft.cdc.Restart.resolveStartSeq]]
  *    (checkpoint recovery makes the offset decision in Spark; the pure
  *    function is the unit-testable contract).
  *
  * Scale: chunks decode in parallel (one task per chunk file), transaction
  * assembly shuffles once on txid into the state store, and the sink
  * appends each batch as one `batch=` run that tiered folds merge with one
  * window over (key) — the same shape as batch `q_latest_per_key`. At
  * 100 TB the chunk directory becomes a real queue
  * (Kafka/object-store log) and the sink a transactional table format; both
  * swaps are config, not code, because every stage is declarative.
  */
object CdcPipeline {

  /** Captured-table schema for the streamed fixture (key, value, type). */
  val StreamDdl = "k bigint, v float, etype varchar(32)"
  val StreamTabid = 1
  val StreamTabname = "cdc_stream"
  private def streamSchema = DdlParser.parse(StreamTabid, StreamTabname, StreamDdl)

  /** Flat record envelope for the streaming plan (flat nullable fields beat
    * a true union for Encoder friendliness — SURVEY §1.5). */
  final case class Envelope(recordType: String, seq: Long, txid: Int,
                            key: Option[Long], v: Option[Double],
                            etype: Option[String])

  /** One buffered row image in open-txn state; `kind` is the record type
    * tag so before-images can be paired at commit time. `v`/`etype` are
    * None when the captured table has no fractional / string column (the
    * envelope contract) — the KEY is the one required shape, since the
    * sink merge is keyed on it. */
  final case class Image(seq: Long, key: Long, v: Option[Double],
                         etype: Option[String], kind: String)

  /** Open-transaction state: buffered images + terminal markers seen.
    * `truncSeq` is the highest in-transaction TRUNCATE position
    * (ec:1657-1720) — applied only if the transaction commits. */
  final case class TxnBuf(images: List[Image], commitSeq: Option[Long],
                          rolledBack: Boolean, discardAfter: Option[Long],
                          truncSeq: Option[Long] = None)

  /** A committed change ready for materialization; `old_v` is the paired
    * before-image value for updates (null for inserts). `op` is the
    * materialization verb:
    *  - `upsert` — INSERT/UPDAFT image; latest per key wins;
    *  - `delete` — DELETE image (full before-image, rec 41): a TOMBSTONE.
    *    Kept in the table (not physically dropped) so a lower-LSN upsert
    *    arriving in a later batch of a non-monotonic stream cannot
    *    resurrect the key; reads filter tombstones out;
    *  - `truncate` — table-level wipe at `last_seq` (rec 119): stored on
    *    the [[TruncateKey]] sentinel as the truncate high-water mark, so
    *    later batches keep dropping rows at or below it. */
  final case class Committed(k: Long, last_seq: Long, v: Option[Double],
                             old_v: Option[Double], etype: Option[String],
                             op: String = "upsert")

  /** Sentinel key holding the truncate high-water row in the materialized
    * table (real keys are non-negative in every fixture and capture). */
  val TruncateKey: Long = Long.MinValue

  // ------------------------------------------------------------- fixture

  /** Deterministic fixture change-log derived from `events.parquet` — the
    * analog of the reference's record mode (`write_testing_sblob`,
    * ec:201-217), which captured a live stream into a replayable file.
    * Test-harness tooling, not an operator: the bounded collect here builds
    * fixture files; the pipeline that CONSUMES them is fully distributed.
    *
    * Mapping (also encoded in the DuckDB oracle for `s_cdc_pipeline`):
    *  - txid = event_id / 20 (integer division) — 20-change transactions;
    *  - each event becomes an INSERT image with seq = event_id * 4 + 2,
    *    key = user_id, v = value, etype = event_type — EXCEPT 'purchase'
    *    events, which become an UPDBEF (v - 1.0) at seq - 1 followed by an
    *    UPDAFT (v) at seq: separate adjacent records, exactly how the
    *    reference delivers updates (rec 42/43, ec:1848-1856);
    *  - BEGIN at min(image seq) - 1; txns with txid % 13 == 5 ROLL BACK at
    *    max + 1, all others COMMIT at max + 1;
    *  - a txn lives in chunk (txid % numChunks), except every third txn's
    *    terminal record lands one chunk later — transactions spanning
    *    micro-batches, exercising cross-batch state.
    *
    * `ordered = true` instead assigns contiguous txid ranges to chunks (and
    * keeps terminals in-chunk), making the stream globally LSN-ordered
    * across chunk files like a real transaction log — the precondition for
    * savepoint-style restart ([[startFromSavepoint]]).
    */
  def recordFixture(spark: SparkSession, sfDir: String, outDir: String,
                    numChunks: Int = 8, ordered: Boolean = false): Unit = {
    val schema = streamSchema
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .orderBy(col("event_id"))
      .collect()

    val chunks = Array.fill(numChunks)(new java.io.ByteArrayOutputStream())
    val chunkMaxSeq = new Array[Long](numChunks)
    chunks.foreach { out =>
      out.write(CdcCodec.encodeFrame(TabSchema(StreamTabid, 0,
        8 + 8, 2, 1, StreamDdl)))
    }
    val byTxid = events.groupBy(r => (r.getLong(0) / 20).toInt).toSeq.sortBy(_._1)
    val nTx = byTxid.length
    byTxid.zipWithIndex
      .foreach { case ((txid, rows), txIdx) =>
        val seqs = rows.map(_.getLong(0) * 4 + 2)
        val chunk = if (ordered) txIdx * numChunks / nTx else txid % numChunks
        val lateTerminal = !ordered && txid % 3 == 0
        val terminalChunk = math.min(chunk + (if (lateTerminal) 1 else 0), numChunks - 1)
        chunks(chunk).write(CdcCodec.encodeFrame(
          BeginTx(seqs.min - 1, txid, startTime = seqs.min, userId = 0)))
        rows.foreach { r =>
          val seq = r.getLong(0) * 4 + 2
          val (k, v, et) = (r.getLong(1), r.getDouble(2), r.getString(3))
          if (et == "purchase") {
            chunks(chunk).write(CdcCodec.encodeRowFrame(CdcRecords.UPDBEF,
              schema, seq - 1, txid, 0, IndexedSeq(k, v - 1.0, et)))
            chunks(chunk).write(CdcCodec.encodeRowFrame(CdcRecords.UPDAFT,
              schema, seq, txid, 0, IndexedSeq(k, v, et)))
          } else {
            chunks(chunk).write(CdcCodec.encodeRowFrame(CdcRecords.INSERT,
              schema, seq, txid, 0, IndexedSeq(k, v, et)))
          }
        }
        val terminal =
          if (txid % 13 == 5) CdcCodec.encodeFrame(RollbackTx(seqs.max + 1, txid))
          else CdcCodec.encodeFrame(CommitTx(seqs.max + 1, txid, commitTime = seqs.max))
        chunks(terminalChunk).write(terminal)
        chunkMaxSeq(chunk) = math.max(chunkMaxSeq(chunk), seqs.max + 1)
        chunkMaxSeq(terminalChunk) = math.max(chunkMaxSeq(terminalChunk), seqs.max + 1)
      }
    // Per-chunk TIMEOUT heartbeat carrying the chunk's high-water LSN —
    // the reference's semantics (seq = current stream position,
    // ec:1403-1428), which lets a watermark advance without data. The last
    // chunk closes with a beat well past the log tail so every pending
    // event-time window can flush at end of stream.
    chunks.zipWithIndex.foreach { case (out, i) =>
      out.write(CdcCodec.encodeFrame(TimeoutBeat(chunkMaxSeq(i))))
    }
    chunks.last.write(CdcCodec.encodeFrame(TimeoutBeat(chunkMaxSeq.max + 10000000L)))

    val dir = new java.io.File(outDir)
    dir.mkdirs()
    chunks.zipWithIndex.foreach { case (out, i) =>
      val f = new java.io.File(dir, f"chunk-$i%03d.bin")
      java.nio.file.Files.write(f.toPath, out.toByteArray)
      // File-source ordering is by modification time; make it chunk order.
      f.setLastModified(1700000000000L + i * 60000L)
    }
    java.nio.file.Files.write(new java.io.File(dir, FixtureMarker).toPath,
      Array.emptyByteArray)
  }

  /** The recording-complete marker, version-stamped: bump the suffix on
    * ANY fixture format change, so stale recordings (and derived files
    * keyed to this marker, like `sChangelogDedup`'s replay chunk) can
    * never serve a new reader. */
  private[streaming] val FixtureMarker = "_RECORDED_v2"

  /** Record the fixture unless an identical one is already on disk — the
    * content is a pure function of (sfDir, numChunks, ordered), so a
    * completed recording (marked by [[FixtureMarker]]) is reusable across
    * runs; the driver-side collect+encode is the dominant fixed cost of
    * the streaming queries in the bench loop. */
  def recordFixtureCached(spark: SparkSession, sfDir: String, outDir: String,
                          numChunks: Int = 8, ordered: Boolean = false): Unit = {
    if (!new java.io.File(outDir, FixtureMarker).isFile)
      recordFixture(spark, sfDir, outDir, numChunks, ordered)
  }

  // -------------------------------------------------------------- pipeline

  /** Envelope projection — the one the V2 source's reader applies
    * ([[graft.sources.ChunkPartitionReader]]) — derived from the chunk's
    * in-band TABSCHEM registry rather than fixed positions/types: `key` =
    * the table's first integral column (widened to long), `v` = its first
    * fractional column (as double), `etype` = its first string column —
    * None when the table has no such column. Decoded host values are
    * coerced by their actual runtime type, so a captured table of ANY
    * shape streams through without ClassCastException. */
  private[graft] def envelopeCols(img: RowImage, schemas: SchemaRegistry)
      : (Option[Long], Option[Double], Option[String]) = {
    import org.apache.spark.sql.types._
    val specs = schemas.tables.get(img.tabid).map(_.cols)
    def pick(wanted: DataType => Boolean): Option[Any] = specs.flatMap { cols =>
      val i = cols.indexWhere(c => wanted(c.colType.sparkType))
      if (i < 0 || i >= img.columns.length) None
      else Option(img.columns(i).value)
    }
    val k = pick(t => t == LongType || t == IntegerType || t == ShortType)
      .collect {
        case x: Long => x
        case x: Int => x.toLong
        case x: Short => x.toLong
      }
    val v = pick(t => t == DoubleType || t == FloatType ||
        t.isInstanceOf[DecimalType])
      .collect {
        case x: Double => x
        case x: Float => x.toDouble
        case x: java.math.BigDecimal => x.doubleValue
        case x: BigDecimal => x.toDouble
      }
    val e = pick(_ == StringType).map {
      case s: String => s
      case other => other.toString
    }
    (k, v, e)
  }

  /** Open-transaction assembly (the savepoint hooks of ec:2259-2319 as
    * group state): buffer row images per txid; COMMIT releases them
    * downstream in seq order; ROLLBACK drops them; DISCARD trims the tail
    * after its seq. Emits nothing for still-open transactions — their
    * state persists into the next micro-batch (exactly the opntxns rows).
    *
    * UPDBEF/UPDAFT arrive as SEPARATE records (ec:1848-1856); they pair
    * here, inside the per-transaction state, by (txid, seq) adjacency —
    * SURVEY §7.4.5: pairing with windows downstream would be fragile under
    * reordering, in state it's exact. */
  private def assemble(txid: Int, records: Iterator[Envelope],
                       state: GroupState[TxnBuf]): Iterator[Committed] = {
    var buf = state.getOption.getOrElse(TxnBuf(Nil, None, rolledBack = false, None))
    records.foreach { r =>
      r.recordType match {
        case t @ ("CDC_REC_INSERT" | "CDC_REC_UPDAFT" | "CDC_REC_UPDBEF" |
                  "CDC_REC_DELETE") =>
          buf = buf.copy(images =
            Image(r.seq, r.key.get, r.v, r.etype, t) :: buf.images)
        case "CDC_REC_COMMTX" => buf = buf.copy(commitSeq = Some(r.seq))
        case "CDC_REC_RBTX" => buf = buf.copy(rolledBack = true)
        case "CDC_REC_DISCARD" => buf = buf.copy(discardAfter = Some(r.seq))
        case "CDC_REC_TRUNCATE" =>
          buf = buf.copy(truncSeq = Some(buf.truncSeq.fold(r.seq)(math.max(_, r.seq))))
        case _ => // BEGIN opens the buffer; nothing to record beyond its existence
      }
    }
    if (buf.rolledBack) {
      state.remove() // delete_opntxns on ROLLBACK (ec:2301-2308)
      Iterator.empty
    } else if (buf.commitSeq.isDefined) {
      state.remove() // delete_opntxns + upsert_lsttxn on COMMIT (ec:2269-2299)
      val kept = buf.discardAfter.fold(buf.images)(d => buf.images.filter(_.seq <= d))
      // An in-transaction TRUNCATE wipes the txn's own earlier images too.
      val surviving = buf.truncSeq.fold(kept)(t => kept.filter(_.seq > t))
      val bySeq = surviving.sortBy(_.seq)
      val befores = bySeq.iterator
        .filter(_.kind == "CDC_REC_UPDBEF").map(i => (i.seq, i.key) -> i.v).toMap
      val marker = buf.truncSeq.iterator
        .map(t => Committed(TruncateKey, t, Some(0.0), None, Some(""),
          op = "truncate"))
      marker ++ bySeq.iterator
        .filter(_.kind != "CDC_REC_UPDBEF")
        .map(i => Committed(i.key, i.seq, i.v,
          befores.get((i.seq - 1, i.key)).flatten, i.etype,
          op = if (i.kind == "CDC_REC_DELETE") "delete" else "upsert"))
    } else {
      state.update(buf) // upsert_opntxns: still open (ec:663-700)
      Iterator.empty
    }
  }

  /** The sink's fold of a set of rows: the newest row of each `k` (the
    * monotonic guard of ec:747, as a max over `last_seq`), minus every
    * row at or below the truncate high-water of `rows` itself — except
    * the marker row on [[TruncateKey]], which carries that high-water
    * into later reads and folds. Delete tombstones are kept, so a stale
    * lower-LSN upsert in a later run still loses to them.
    *
    * It is the `transform` of the sink's tiered folds and, filtered to
    * live rows, the read ([[readMaterialized]]). It is not row-local,
    * yet a fold over any SUBSET of the runs is sound. Latest-per-key is
    * a max per key, and a max commutes with the union the read takes:
    * the newest row of `fold(S) ∪ rest` is the newest row of `S ∪ rest`.
    * The subset's high-water is at most the table's, so a row the fold
    * drops is one the read hides anyway, and so is any older row of the
    * same key that the drop brings forward. */
  private[streaming] def latestPerKey(rows: DataFrame): DataFrame = {
    val truncT = rows
      .agg(max(when(col("op") === "truncate", col("last_seq"))).as("_trunc_t"))
    rows
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("last_seq").desc)))
      .filter(col("_rn") === 1)
      .crossJoin(broadcast(truncT))
      .filter(col("_trunc_t").isNull || col("op") === "truncate" ||
        col("last_seq") > col("_trunc_t"))
      .drop("_rn", "_trunc_t")
  }

  /** Fail loudly on anything at the table root that is not a `batch=`
    * run (hidden `_`/`.` entries, such as a fold's manifest, aside): the
    * root-level part files or `bucket=` directories of an older sink
    * layout. No path reads that layout, and treating it as an empty
    * table would silently fork the table's history. */
  private def requireRunLayout(fs: FileSystem, out: Path): Unit =
    if (fs.exists(out)) fs.listStatus(out).map(_.getPath.getName)
      .find(n => !n.startsWith("_") && !n.startsWith(".") &&
        !n.startsWith("batch="))
      .foreach { n =>
        throw new IllegalStateException(
          s"the materialized table at $out holds '$n', which is not a " +
            "batch= run (a legacy sink layout); no path reads that " +
            "layout — re-materialize into a fresh directory")
      }

  /** The `_SUCCESS`-committed runs of the table, as one frame (with no
    * `batch` column); None when there is no committed run. */
  private def committedRows(spark: SparkSession, outDir: String)
      : Option[DataFrame] = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireRunLayout(fs, out)
    val runs = IndexCompaction.committedDirs(fs, out)
    if (runs.isEmpty) None
    else Some(spark.read.option("basePath", outDir)
      .parquet(runs.map(r => new Path(out, r).toString): _*).drop("batch"))
  }

  /** Idempotent latest-per-key merge into the "materialized table" — the
    * lsttxn-style sink with the monotonic guard (ec:747): a key's visible
    * row is its highest-seq change, so replaying a batch (foreachBatch
    * retry, checkpoint restart, a re-delivered chunk) changes nothing.
    *
    * Layout: the table is the maintainers' store — a set of `batch=<id>`
    * runs, each written whole and committed by its `_SUCCESS` marker —
    * and [[IndexCompaction]] is the only code that swaps or folds runs.
    * A merge appends the batch's own rows as ONE new run and then lets
    * [[IndexCompaction.compactTiered]] fold runs with [[latestPerKey]],
    * so the ingest cost is O(|batch|) plus folds of at most `fanIn`
    * similar-sized runs at a time — never a rewrite of the table (the
    * savepoint design's aim, ec:2104-2194). Reads take the latest row per
    * key over the committed runs.
    *
    * The run id is fresh — 1 + the largest non-negative id present — and
    * never the stream's batch id: a savepoint restart or a new checkpoint
    * starts batch ids at 0 again, and direct callers have none. Duplicate
    * rows are harmless under latest-per-key, so a replayed batch simply
    * adds a run, and the folds need no protected newest run.
    *
    * Crash safety, for the ONE writer (foreachBatch serializes batches):
    * a run without `_SUCCESS` is a crashed attempt — readers and folds
    * never see it, and the next merge deletes it before writing, after
    * [[IndexCompaction.recover]] has finished or undone any crashed fold.
    * The streaming checkpoint then replays the batch. */
  def mergeLatest(changes: DataFrame, outDir: String): Unit = {
    val spark = changes.sparkSession
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recover BEFORE choosing the id: a crashed fold's manifest names
    // runs that may sit in its backup, and a fresh id must not reuse one.
    IndexCompaction.recover(spark, outDir)
    requireRunLayout(fs, out)
    val runs =
      if (!fs.exists(out)) Seq.empty[Path]
      else fs.listStatus(out).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
    runs.filterNot(r => fs.exists(new Path(r, "_SUCCESS")))
      .foreach(fs.delete(_, true))
    val id = 1L + runs.map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(-1L)(math.max)
    // Accept op-less frames (plain upsert streams) for compatibility.
    val withOp =
      if (changes.columns.contains("op")) changes
      else changes.withColumn("op", lit("upsert"))
    // One file per run: the batch's rows are bounded by the micro-batch,
    // and a run written per partition landed as up to 8 small files that
    // every reader lists and opens until a fold merges them.
    withOp.coalesce(1).write.parquet(new Path(out, s"batch=$id").toString)
    IndexCompaction.compactTiered(spark, outDir, transform = latestPerKey): Unit
  }

  /** Read the materialized table as its USERS see it: the latest row per
    * key over the committed runs, live rows only — delete tombstones, the
    * truncate marker and rows at or below the truncate high-water are
    * sink bookkeeping ([[Committed]], [[latestPerKey]]), not data. An
    * absent table reads as an empty one. */
  def readMaterialized(spark: SparkSession, outDir: String): DataFrame =
    committedRows(spark, outDir) match {
      case Some(rows) =>
        latestPerKey(rows).filter(col("op") === "upsert").drop("op")
      case None =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          Encoders.product[Committed].schema).drop("op")
    }

  /** The shared downstream: txn assembly + idempotent merge sink.
    * Heartbeats (V2 source) advance source progress but carry no change —
    * drop them before keying state, or txid 0 accrues an empty buffer. */
  private def runPipeline(envelopes: Dataset[Envelope], checkpointDir: String,
                          outDir: String) = {
    import envelopes.sparkSession.implicits._
    val committed = envelopes
      .filter(_.recordType != "CDC_REC_TIMEOUT")
      .groupByKey(_.txid)
      .flatMapGroupsWithState[TxnBuf, Committed](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(assemble)
    Maintainer.start(committed, checkpointDir)((batch, _) =>
      mergeLatest(batch.toDF(), outDir))
  }

  /** The `informixcdc_lsttxn` savepoint analog: the highest committed LSN
    * in the materialized table's committed runs (0 when nothing is
    * materialized — the NOTFOUND → 0 rule, ec:642-644). A fold that
    * crashed mid-swap can hide runs until the next merge recovers it;
    * the value then reads low, which only re-delivers history that the
    * latest-per-key merge absorbs. */
  def lastCommittedSeq(spark: SparkSession, outDir: String): Long =
    committedRows(spark, outDir).fold(0L)(
      _.agg(coalesce(max(col("last_seq")), lit(0L))).head().getLong(0))

  /** Restart WITHOUT a checkpoint — the reference's savepoint path: resolve
    * the activation LSN from persisted state via the ec:2172-2194 decision
    * table ([[Restart.resolveStartSeq]]) and let the source discard
    * already-committed history. With no open-txn record (the sink only
    * stores committed rows), the rule resolves to `last committed + 1`;
    * changes already in the table survive because the merge is monotonic.
    *
    * Precondition (as for the reference's log): the stream is globally
    * LSN-ordered across chunk files — otherwise an unprocessed transaction
    * with seqs below the high-water mark would be skipped. */
  def startFromSavepoint(spark: SparkSession, chunkDir: String,
                         freshCheckpointDir: String, outDir: String) = {
    val startSeq = Restart.resolveStartSeq(
      requested = -1L, useSavepoints = true, minOpenTxn = None,
      lastCommitted = lastCommittedSeq(spark, outDir))
    startV2(spark, chunkDir, freshCheckpointDir, outDir, startingSeq = startSeq)
  }

  /** Build and start the streaming query over the DataSource V2 source
    * ([[graft.sources.CdcChunkSource]]): LSN-aware offsets, admission
    * control (`None` admits every pending chunk per batch), and
    * source-side discard of pre-`startingSeq` history; caller awaits
    * termination. */
  def startV2(spark: SparkSession, chunkDir: String, checkpointDir: String,
              outDir: String, maxFilesPerTrigger: Option[Int] = Some(3),
              startingSeq: Long = 0L) = {
    import spark.implicits._
    val envelopes = CdcChunkSource.stream(spark, chunkDir,
      maxFilesPerTrigger.getOrElse(Int.MaxValue), startingSeq)
    runPipeline(envelopes.as[Envelope], checkpointDir, outDir)
  }

  /** Streaming windowed aggregation with a watermark over the CDC stream
    * (`s_commit_windows`): commits per 1 ms event-time window, event time
    * derived from the LSN (`timestamp_micros(seq)` — the log's total order
    * IS the stream's clock). The watermark advances on every envelope
    * INCLUDING heartbeats — the reference's TIMEOUT semantic (progress
    * without data, ec:1403-1428): each chunk's closing beat carries its
    * high-water LSN, and the fixture's final beat sits past the log tail,
    * flushing every pending window in the eviction batch. Append mode +
    * the file sink give exactly-once window emission under restart (same
    * checkpoint machinery as the merge pipeline).
    *
    * Scale: one shuffle on the window key with partial aggregation
    * upstream; state holds only open windows (bounded by watermark lag),
    * not the stream. */
  def commitWindows(spark: SparkSession, chunkDir: String,
                    checkpointDir: String, outDir: String) = {
    val env = CdcChunkSource.stream(spark, chunkDir)
    // Conditional aggregates instead of a pre-filter: a `filter(recordType
    // = COMMTX)` above the watermark gets PUSHED BELOW EventTimeWatermark
    // by Catalyst (the predicate doesn't touch the event-time column), and
    // then heartbeats never reach the max-event-time tracker — exactly the
    // progress signal they exist to provide. Aggregating every envelope
    // row and dropping empty windows AFTER the agg keeps the plan
    // un-pushable and the watermark heartbeat-driven.
    val isCommit = col("recordType") === "CDC_REC_COMMTX"
    env
      .select(col("recordType"), col("seq"),
        timestamp_micros(col("seq")).as("ts"))
      .withWatermark("ts", "1 millisecond")
      .groupBy(window(col("ts"), "1 millisecond"))
      .agg(sum(when(isCommit, 1L).otherwise(0L)).as("n_commits"),
        min(when(isCommit, col("seq"))).as("min_seq"),
        max(when(isCommit, col("seq"))).as("max_seq"))
      .filter(col("n_commits") > 0)
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n_commits"), col("min_seq"), col("max_seq"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** State-store partition count for the driver-checked streaming runs.
    *
    * A stateful operator's partitioning is captured from
    * `spark.sql.shuffle.partitions` at the query's FIRST micro-batch and
    * persisted in the checkpoint; every batch then commits one state-store
    * delta PER PARTITION per stateful operator, so the fixed per-batch
    * overhead scales with the partition count whether or not a partition
    * holds state. Batch shuffle width and streaming state width are
    * therefore different knobs: batch shuffles size to the DATA (32 here),
    * state stores size to the STATEFUL LOAD — open transactions / open
    * windows / in-flight join rows, which the watermark bounds to a tiny
    * fraction of the stream. On a 1000-executor cluster ingesting a real
    * firehose you'd raise this (state volume grows with open-txn count,
    * and more partitions = more parallel state commits); at the bench's
    * micro-batch cadence 8 cuts the per-batch fixed cost ~3× with zero
    * semantic change (measured: 10.8→4.0 s stream join, 6.2→3.4 s merge
    * pipeline, 3.5→2.1 s commit windows at sf0.1, local[32]).
    *
    * BENCH_r08 recorded 7.5 s for the merge pipeline, apparently
    * contradicting the 3.4 s above — both numbers were real: the bench
    * ran ~580 query executions in one JVM without releasing
    * localCheckpoint/persist blocks, and the accumulated block-manager
    * pressure penalized the streaming queries most (they re-plan every
    * micro-batch). In a fresh JVM (graft.tools.ProfileQ) the same build
    * ran 3.0-3.5 s. Fixed in [[graft.Bench]] by unpersisting + GC'ing
    * between queries; the r9 bench reads 3.0 s. */
  val StreamStatePartitions = 8

  /** Scopes `spark.sql.shuffle.partitions` to [[StreamStatePartitions]]
    * for the duration of `body` (a start + awaitTermination pair — the
    * conf must stay scoped until the stream FINISHES, because the value is
    * read when the first micro-batch is planned, asynchronously to
    * `start()`), then restores the session's batch setting.
    *
    * SERIAL-HARNESS ASSUMPTION (r8 advice): the setting is session-global
    * while `body` runs — a concurrent batch query on the same session
    * would plan with [[StreamStatePartitions]] shuffle partitions, and
    * two overlapping calls would restore the wrong saved value. The
    * driver's Verify/Bench harness runs queries strictly serially, which
    * is why this is safe here; a concurrent deployment should isolate
    * the stream on `SparkSession.newSession()` (own conf, shared
    * catalog/state) instead of scoping the shared conf. */
  private[streaming] def withStatePartitions[A](s: SparkSession)(body: => A): A = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    try body finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Watermarked STREAM-STREAM join (`s_stream_join`): each committed row
    * image joined to ITS transaction's COMMIT record on (txid, event-time
    * range) — commit-LSN enrichment as Spark's symmetric hash join instead
    * of [[runPipeline]]'s explicit per-txn `flatMapGroupsWithState`. The
    * two sides are filtered branches of ONE source stream (a streaming
    * self-join): row images (INSERT/UPDAFT — the apply images) on the
    * left, COMMTX markers on the right. An inner join makes rollback
    * filtering structural — rolled-back transactions HAVE no commit
    * record, so their images simply never match (the reference's
    * delete-on-rollback, ec:1566-1615, with no state code at all).
    *
    * Both sides carry watermarks and the join condition bounds commit
    * time to (image time, image time + `maxTxnSpanMicros`] — the bound
    * MUST cover the longest transaction's (first image → commit)
    * event-time span, because an image whose commit lands outside it
    * silently never matches and its rows are DROPPED (r8 advice #1: this
    * was a hardcoded fixture constant; it is now the knob a caller sizes
    * to their source's transaction horizon, like any stream-stream join
    * range condition). The default 100 µs covers the driver fixture's
    * < 80 µs transactions (20 events × 4 seq units on the LSN clock).
    * That bound is what lets Spark evict join state as the watermark
    * advances: buffered images older than watermark − `maxTxnSpanMicros`
    * can never match a future commit and are dropped — state is O(open
    * transactions), never O(stream); a larger bound trades state size
    * for transaction-length tolerance. Append mode emits each match
    * exactly once; the checkpoint + file sink make restarts and replays
    * no-ops (same exactly-once machinery as the merge pipeline). */
  def commitJoin(spark: SparkSession, chunkDir: String,
                 checkpointDir: String, outDir: String,
                 maxFilesPerTrigger: Int = 3,
                 maxTxnSpanMicros: Long = 100L) = {
    def env = CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
    val images = env
      .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
      .select(col("seq"), col("txid"), col("key").as("k"),
        timestamp_micros(col("seq")).as("img_ts"))
      .withWatermark("img_ts", "1 millisecond")
    val commits = env
      .filter(col("recordType") === "CDC_REC_COMMTX")
      .select(col("seq").as("commit_seq"), col("txid").as("c_txid"),
        timestamp_micros(col("seq")).as("c_ts"))
      .withWatermark("c_ts", "1 millisecond")
    require(maxTxnSpanMicros > 0,
      s"maxTxnSpanMicros must be positive, got $maxTxnSpanMicros")
    images.join(commits,
        col("txid") === col("c_txid") &&
          col("c_ts") > col("img_ts") &&
          col("c_ts") <= col("img_ts") +
            expr(s"INTERVAL $maxTxnSpanMicros MICROSECONDS"))
      .select(col("seq"), col("k"), col("txid"), col("commit_seq"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Driver-checked: run [[commitJoin]] over the globally LSN-ordered
    * fixture and return the joined rows. The DuckDB oracle recomputes the
    * join relationally from `events` (committed transactions only). */
  def sStreamJoin(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_join", d)
    StreamFixture.reset(root, "checkpoint", "joined")
    val chunkDir = new java.io.File(root, "chunks")
    recordFixtureCached(s, d, chunkDir.getAbsolutePath, ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "joined").getAbsolutePath
    withStatePartitions(s) {
      commitJoin(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    }
    s.read.parquet(out).orderBy(col("seq"))
  }

  /** Watermarked streaming DEDUPLICATION (`s_changelog_dedup`): the
    * at-least-once → exactly-once repair. The reference's stream is
    * at-least-once across reconnects — after a restart it can re-deliver
    * records at or before the resume LSN, which is why it carries
    * `discard_candidate` flags (ec:1459-1461, 1527-1529) and why the
    * restart table resolves a resume point rather than trusting delivery
    * (ec:2172-2194). Here the repair is declarative:
    * `dropDuplicatesWithinWatermark` keyed by the LSN — a re-delivered
    * record's seq is already in dedup state (same micro-batch or later)
    * or is older than the watermark (late data, dropped outright);
    * either way it emits exactly once. State is watermark-bounded: only
    * the in-flight window's seqs are remembered, never the stream. */
  def changelogDedup(spark: SparkSession, chunkDir: String,
                     checkpointDir: String, outDir: String,
                     maxFilesPerTrigger: Int = 3) = {
    CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
      .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
      .select(col("seq"), col("txid"), col("key").as("k"), col("v"),
        col("etype"), timestamp_micros(col("seq")).as("ts"))
      .withWatermark("ts", "1 millisecond")
      .dropDuplicatesWithinWatermark("seq")
      .select(col("seq"), col("txid"), col("k"), col("v"), col("etype"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming SESSION windows over the change stream
    * (`s_session_window`): per-key activity sessions that close after a
    * 10 ms event-time gap (seq micros — the log's total order is the
    * clock, as in [[commitWindows]]) — the streaming twin of the batch
    * `q_session_window`, on Spark's native `session_window` state
    * (merging windows, watermark-driven emission) instead of batch
    * gaps-and-islands.
    *
    * The watermark trap, session edition: a recordType PRE-filter would
    * be pushed below EventTimeWatermark (the predicate doesn't touch
    * `ts`) and heartbeats would stop advancing the clock — so instead
    * the key is MASKED before the watermark: non-image records flow
    * through the watermark tracker with `k = null` and pool in null-key
    * sessions that the post-agg `n_rows > 0` filter (an aggregate
    * result — unpushable) discards. Real keys' sessions therefore
    * contain image rows only, so their extents can't be stretched by a
    * same-key BEGIN/UPDBEF marker. State = open sessions only, bounded
    * by the watermark; the final heartbeat past the log tail flushes
    * every pending session. */
  def sessionWindows(spark: SparkSession, chunkDir: String,
                     checkpointDir: String, outDir: String) = {
    val isImage = col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT")
    CdcChunkSource.stream(spark, chunkDir)
      .select(col("seq"),
        when(isImage, col("key")).as("k"),
        when(isImage, lit(1L)).otherwise(lit(0L)).as("is_img"),
        timestamp_micros(col("seq")).as("ts"))
      .withWatermark("ts", "1 millisecond")
      .groupBy(session_window(col("ts"), "10 milliseconds").as("w"), col("k"))
      .agg(sum(col("is_img")).as("n_rows"),
        min(when(col("is_img") === 1, col("seq"))).as("first_seq"),
        max(when(col("is_img") === 1, col("seq"))).as("last_seq"))
      .filter(col("n_rows") > 0)
      .select(col("k"), unix_micros(col("w.start")).as("sess_start_us"),
        col("n_rows"), col("first_seq"), col("last_seq"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Driver-checked: [[sessionWindows]] over the ordered fixture. */
  def sSessionWindow(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_sess", d)
    StreamFixture.reset(root, "checkpoint", "sessions")
    val chunkDir = new java.io.File(root, "chunks")
    recordFixtureCached(s, d, chunkDir.getAbsolutePath, ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "sessions").getAbsolutePath
    withStatePartitions(s) {
      sessionWindows(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    }
    s.read.parquet(out).orderBy(col("k"), col("sess_start_us"))
  }

  /** Driver-checked: record the ordered fixture, then RE-DELIVER one
    * middle chunk verbatim (a copy that lists right after the original —
    * the reconnect-replay shape), run [[changelogDedup]], and return the
    * deduped rows. The oracle is the duplicate-free mapping from
    * `events`, so any double emission breaks the row count AND the hash. */
  def sChangelogDedup(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_dedup", d)
    StreamFixture.reset(root, "checkpoint", "deduped")
    val chunkDir = new java.io.File(root, "chunks")
    // r8 advice #4: the replay copy is keyed to the SAME version marker
    // as the recording — a re-recorded fixture (marker bump) re-derives
    // the replay chunk instead of leaving a stale-encoding copy in the
    // chunks dir to corrupt the stream input.
    val freshlyRecorded =
      !new java.io.File(chunkDir, FixtureMarker).isFile
    recordFixtureCached(s, d, chunkDir.getAbsolutePath, ordered = true)
    val orig = new java.io.File(chunkDir, "chunk-003.bin")
    val replay = new java.io.File(chunkDir, "chunk-003x.bin")
    if (freshlyRecorded || !replay.isFile) {
      replay.delete()
      java.nio.file.Files.copy(orig.toPath, replay.toPath)
      replay.setLastModified(orig.lastModified() + 1000L)
    }
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "deduped").getAbsolutePath
    withStatePartitions(s) {
      changelogDedup(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    }
    s.read.parquet(out).orderBy(col("seq"))
  }

  /** Driver-checked: run [[commitWindows]] over a globally LSN-ordered
    * fixture (the real transaction-log shape — the monotonic-watermark
    * precondition) and return the emitted windows. */
  def sCommitWindows(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_win", d)
    StreamFixture.reset(root, "checkpoint", "windows")
    val chunkDir = new java.io.File(root, "chunks")
    recordFixtureCached(s, d, chunkDir.getAbsolutePath, ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "windows").getAbsolutePath
    withStatePartitions(s) {
      commitWindows(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    }
    s.read.parquet(out).orderBy(col("win_start_us"))
  }

  /** The driver-checked entry: record the fixture, run the pipeline to
    * completion from a clean checkpoint, return the materialized table.
    * The DuckDB oracle recomputes the same result relationally from
    * `events` (the fixture mapping is deterministic), so the whole
    * decode → txn-state → merge path is hash-checked. */
  def sCdcPipeline(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream", d)
    val chunkDir = new java.io.File(root, "chunks")
    val checkpoint = new java.io.File(root, "checkpoint")
    val outDir = new java.io.File(root, "materialized")
    // Fresh deterministic run: clear all STATE (the checkpoint and the
    // table's runs); the recorded chunk fixture is content-addressed by
    // its inputs and reused.
    StreamFixture.reset(root, "checkpoint", "materialized")
    recordFixtureCached(s, d, chunkDir.getAbsolutePath)
    withStatePartitions(s) {
      startV2(s, chunkDir.getAbsolutePath, checkpoint.getAbsolutePath,
        outDir.getAbsolutePath).awaitTermination()
    }
    readMaterialized(s, outDir.getAbsolutePath)
      .select(col("k"), col("last_seq"), col("v"), col("old_v"), col("etype"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_cdc_pipeline" -> (sCdcPipeline _),
    "s_commit_windows" -> (sCommitWindows _),
    "s_stream_join" -> (sStreamJoin _),
    "s_changelog_dedup" -> (sChangelogDedup _),
    "s_session_window" -> (sSessionWindow _),
    "s_mv_delta" -> (MvStream.sMvDelta _)
  )

  val oracle: Map[String, String] = Map(
    "s_cdc_pipeline" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value, event_type,
        |         CAST(event_id // 20 AS integer) AS txid
        |  FROM events),
        |keep AS (SELECT * FROM ev WHERE txid % 13 != 5)
        |SELECT user_id AS k, event_id * 4 + 2 AS last_seq, value AS v,
        |       CASE WHEN event_type = 'purchase' THEN value - 1.0 END AS old_v,
        |       event_type AS etype
        |FROM keep
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |                           ORDER BY event_id DESC) = 1
        |ORDER BY k""".stripMargin,
    "s_commit_windows" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(event_id // 20 AS integer) AS txid FROM events),
        |tx AS (
        |  SELECT txid, max(event_id * 4 + 2) + 1 AS commit_seq
        |  FROM ev GROUP BY txid),
        |c AS (SELECT commit_seq FROM tx WHERE txid % 13 != 5)
        |SELECT (commit_seq // 1000) * 1000 AS win_start_us,
        |       count(*) AS n_commits,
        |       min(commit_seq) AS min_seq, max(commit_seq) AS max_seq
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "s_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |         CAST(event_id // 20 AS integer) AS txid FROM events),
        |tx AS (
        |  SELECT txid, max(event_id * 4 + 2) + 1 AS commit_seq
        |  FROM ev GROUP BY txid),
        |c AS (SELECT txid, commit_seq FROM tx WHERE txid % 13 != 5)
        |SELECT ev.event_id * 4 + 2 AS seq, ev.user_id AS k, ev.txid,
        |       c.commit_seq
        |FROM ev JOIN c USING (txid)
        |ORDER BY seq""".stripMargin,
    "s_changelog_dedup" ->
      """SELECT event_id * 4 + 2 AS seq,
        |       CAST(event_id // 20 AS integer) AS txid,
        |       user_id AS k, value AS v, event_type AS etype
        |FROM events ORDER BY seq""".stripMargin,
    // Session windows: gaps-and-islands over the image seqs (every event
    // maps to one image at event_id*4+2). Spark's session is half-open
    // [start, last+gap), so a gap of EXACTLY 10000 us starts a new
    // session — hence `>=`.
    "s_session_window" ->
      """WITH im AS (
        |  SELECT user_id AS k, event_id * 4 + 2 AS seq FROM events),
        |marked AS (
        |  SELECT k, seq,
        |         CASE WHEN lag(seq) OVER (PARTITION BY k ORDER BY seq) IS NULL
        |              OR seq - lag(seq) OVER (PARTITION BY k ORDER BY seq) >= 10000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM im),
        |sess AS (
        |  SELECT k, seq,
        |         sum(new_s) OVER (PARTITION BY k ORDER BY seq
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT k, min(seq) AS sess_start_us, count(*) AS n_rows,
        |       min(seq) AS first_seq, max(seq) AS last_seq
        |FROM sess GROUP BY k, sid
        |ORDER BY k, sess_start_us""".stripMargin,
    // The streaming IVM invariant: the stream-maintained MV must equal
    // the full recompute over the log. Every event contributes exactly
    // one INSERT/UPDAFT image (purchases' UPDBEF is filtered out), so
    // the recompute is a plain per-key aggregate of `events`.
    "s_mv_delta" ->
      """SELECT user_id AS k, count(*) AS n_rows,
        |       cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value,
        |       max(event_id * 4 + 2) AS last_seq
        |FROM events GROUP BY user_id ORDER BY k""".stripMargin
  )
}
