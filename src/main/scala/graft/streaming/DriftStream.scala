package graft.streaming

import graft.operators.ScaleOps
import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming drift monitoring (`s_drift`): the per-(segment, bucket) value
  * HISTOGRAM kept current by the change stream, with the PSI score read
  * from the maintained counts — how a production data-quality monitor
  * actually works (the alert reads a maintained aggregate; it never
  * replays the log). The streaming twin of `q_drift_psi`, and the second
  * consumer of the [[MvStream]] versioned-snapshot exactly-once machinery:
  * histogram counts are an additive monoid exactly like the MV's
  * count/sum, so a replayed micro-batch must be DETECTED (per-bucket
  * version skip), not absorbed — latest-wins idempotence would
  * double-count.
  *
  * The maintained key is `etype ':' value-bucket` — the (segment, bucket)
  * grid cell; the bucket derives in exact integer cents (the q_drift_psi
  * rule), computed identically on the stream's float-carried value (a
  * 2-dp value under ~1e5 round-trips float with error < 0.5 cent, so the
  * cent integer — and therefore the bucket — is bit-identical to the
  * batch form's). The PSI tail runs [[ScaleOps.driftPsiFromCounts]] over
  * the grid — the SAME windowed-totals + nano-nat fold as the batch
  * query, on |segments| × nBuckets rows of maintained state.
  *
  * The oracle is `q_drift_psi`'s, verbatim ([[ScaleOps.driftPsiOracle]]):
  * the streaming IVM invariant — stream-maintained histogram ≡ batch
  * recompute over the whole log — checked to the nano-nat.
  *
  * Scale: per micro-batch the work is O(|batch| + touched grid cells);
  * the maintained state is the |segments| × nBuckets grid (bounded, tiny),
  * untouched buckets are never read, and the monitor read scans only the
  * latest complete snapshots. At 100 TB the log is never re-scanned —
  * that is the entire point.
  */
object DriftStream {

  /** Maintain the (segment, bucket) histogram from the CDC chunk stream.
    * Every delivered row image counts once (INSERT + UPDAFT — the
    * [[MvStream.maintain]] filter), keyed by its grid cell. */
  def maintain(spark: SparkSession, chunkDir: String, checkpointDir: String,
      mvDir: String, maxFilesPerTrigger: Int = 3): StreamingQuery =
    Maintainer.start(
      CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
        .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
        .select(
          concat(col("etype"), lit(":"),
            expr("least(cast(9 as bigint), cast(round(cast(v AS double) * 100) as bigint) div 5000)"))
            .as("k"),
          lit(1L).as("n_rows"),
          lit(null).cast("decimal(18,2)").as("sum_dec"),
          col("seq").as("last_seq")),
      checkpointDir)(MvStream.processBatch(_, _, mvDir))

  /** Driver-checked: maintain the histogram over the recorded fixture
    * stream, then read the monitor. Oracle = the batch `q_drift_psi`
    * recompute (the streaming IVM invariant). */
  def sDrift(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_drift", d)
    StreamFixture.reset(root, "checkpoint", "mv")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val mv = new java.io.File(root, "mv").getAbsolutePath
    maintain(s, chunkDir.getAbsolutePath, ck, mv).awaitTermination()
    val counts = MvStream.readMv(s, mv)
      .selectExpr(
        "substring_index(k, ':', 1) AS seg",
        "cast(substring_index(k, ':', -1) AS bigint) AS b",
        "n_rows AS c")
    ScaleOps.driftPsiFromCounts(graft.operators.Materialize(counts), 10)
      .select(col("seg").as("event_type"), col("n_events"), col("psi"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_drift" -> (sDrift _))

  val oracle: Map[String, String] = Map(
    "s_drift" -> ScaleOps.driftPsiOracle)
}
