package graft.streaming

import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** Streaming sequence-continuity monitor (`s_seq_gaps`): the r12 batch
  * gap audit ([[graft.operators.AuditOps.seqGaps]]) run AS the stream
  * arrives — per event type, a tiny `flatMapGroupsWithState` keeps the
  * last id seen and emits each missing range the moment the first id
  * after it shows up. This is the reference's own liveness contract
  * (contiguous LSNs; restart bookkeeping ec:581-661, monotonic guards
  * ec:747) turned into an online alert instead of a day-later batch
  * finding: a capture hole pages AS it happens.
  *
  * Stream ≡ batch by construction: the fixture delivers in LSN order, so
  * per type the ids arrive as an ascending subsequence (each batch group
  * is additionally sorted — micro-batch shuffles don't preserve source
  * order); consecutive-seen-pairs discovered online are exactly the
  * lead-pairs the batch window sees, and GapStreamSuite pins the
  * equality. State is ONE long per type — bounded by |types|, not the
  * stream; out-of-order production sources would instead buffer a
  * watermark-deep window before declaring a hole (the s_commit_windows
  * machinery), trading alert latency for reorder tolerance.
  *
  * Exactly-once: append mode + checkpoint + file sink (the CdcPipeline
  * sink discipline) — a replayed micro-batch reruns on the same state
  * snapshot and overwrites the same files, so a gap is reported once. */
object GapStream {

  /** Start the monitor over the chunk stream: apply images only (one per
    * source event), id recovered from the fixture's seq mapping
    * (`seq = id·4 + 2`), gaps emitted as (event_type, gap_start,
    * gap_end). */
  def monitor(spark: SparkSession, chunkDir: String, checkpointDir: String,
              outDir: String, maxFilesPerTrigger: Int = 3) = {
    import spark.implicits._
    val ids = CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
      .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
      .select(col("etype"), expr("seq div 4").as("id"))
      .as[(String, Long)]
    val gaps = ids
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state) =>
          var last = state.getOption.getOrElse(-1L)
          val found = Seq.newBuilder[(String, Long, Long)]
          it.map(_._2).toSeq.sorted.foreach { id =>
            if (last >= 0 && id > last + 1) found += ((key, last + 1, id - 1))
            if (id > last) last = id
          }
          state.update(last)
          found.result().iterator
      }
      .toDF("event_type", "gap_start", "gap_end")
    gaps.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The streamed gap rows, totally ordered — shared by the driver query
    * and the suite's batch-parity check. */
  private[streaming] def streamedGaps(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_gaps", d)
    StreamFixture.reset(root, "checkpoint", "gaps")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "gaps").getAbsolutePath
    monitor(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    s.read.parquet(out)
  }

  /** Driver-checked: the online-discovered gaps aggregated to the SAME
    * report as the batch `q_seq_gaps` (count, total missing, largest gap
    * + earliest start) — one oracle text serves both forms. */
  def sSeqGaps(s: SparkSession, d: String): DataFrame =
    streamedGaps(s, d)
      .withColumn("_gl", col("gap_end") - col("gap_start") + 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("_gl")).as("missing_total"),
        max(struct(col("_gl").as("l"), (-col("gap_start")).as("ns")))
          .as("_m"))
      .select(col("event_type"), col("n_gaps"), col("missing_total"),
        col("_m.l").as("max_gap_len"), (-col("_m.ns")).as("max_gap_start"))
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_seq_gaps" -> (sSeqGaps _))

  val oracle: Map[String, String] = Map(
    "s_seq_gaps" -> graft.operators.AuditOps.oracle("q_seq_gaps"))
}
