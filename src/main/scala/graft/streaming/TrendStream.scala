package graft.streaming

import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Continuous trending top-k — the dashboard staple over a change
  * stream: per tumbling event-time window, which keys changed most? The
  * stream maintains the per-(window, key) counts (the expensive,
  * data-scaled half); the top-k cut is a serving-layer read over each
  * CLOSED window's counts (windows are final once the watermark passes —
  * ranking inside the streaming query would re-rank on every update and
  * is not expressible in append mode anyway).
  *
  * Watermark discipline: the q_session_window key-masking form —
  * non-image records flow through the watermark tracker with a null key
  * (heartbeats keep the clock advancing) and pool in null-key groups
  * that the post-aggregation `n > 0` filter (unpushable) discards.
  *
  * 100 TB shape: streaming state = open windows × active keys within
  * them, watermark-bounded; the emitted counts table is windows ×
  * distinct-keys-per-window — already aggregated, so the serving top-k
  * runs WindowGroupLimit over per-window groups, never re-reading the
  * log. Exactly-once: append-mode parquet sink + checkpoint (replays
  * rewrite the same files).
  */
object TrendStream {

  /** Maintain per-(10 ms window, key) image counts from the chunk
    * stream; windows emit when the watermark closes them. */
  def trendingCounts(spark: SparkSession, chunkDir: String,
                     checkpointDir: String, outDir: String): StreamingQuery = {
    val isImage = col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT")
    CdcChunkSource.stream(spark, chunkDir)
      .select(when(isImage, col("key")).as("k"),
        when(isImage, lit(1L)).otherwise(lit(0L)).as("is_img"),
        timestamp_micros(col("seq")).as("ts"))
      .withWatermark("ts", "1 millisecond")
      .groupBy(window(col("ts"), "10 milliseconds").as("w"), col("k"))
      .agg(sum(col("is_img")).as("n"))
      .filter(col("n") > 0)
      .select(unix_micros(col("w.start")).as("win_start_us"), col("k"),
        col("n"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Serving-side cut: top-k keys per closed window, (n DESC, k) total
    * order so the cut is deterministic. */
  def topkPerWindow(counts: DataFrame, k: Int): DataFrame =
    counts
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("win_start_us"))
        .orderBy(col("n").desc, col("k"))))
      .filter(col("rnk") <= k)

  /** Driver-checked (`s_topk`): maintain the windowed counts from the
    * ordered fixture, then serve top-3 per window. */
  def sTopk(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_trend", d)
    StreamFixture.reset(root, "checkpoint", "counts")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "counts").getAbsolutePath
    CdcPipeline.withStatePartitions(s) {
      trendingCounts(s, chunkDir.getAbsolutePath, ck, out).awaitTermination()
    }
    topkPerWindow(s.read.parquet(out), 3)
      .orderBy(col("win_start_us"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_topk" -> (sTopk _))

  val oracle: Map[String, String] = Map(
    // Every event maps to one image at seq = event_id*4+2; Spark's
    // 10 ms tumbling window start = seq - seq % 10000.
    "s_topk" ->
      """WITH im AS (
        |  SELECT user_id AS k, event_id * 4 + 2 AS seq FROM events),
        |w AS (
        |  SELECT seq - seq % 10000 AS win_start_us, k, count(*) AS n
        |  FROM im GROUP BY 1, 2),
        |r AS (
        |  SELECT win_start_us, k, n,
        |         cast(row_number() OVER (PARTITION BY win_start_us
        |                                 ORDER BY n DESC, k) AS integer) AS rnk
        |  FROM w)
        |SELECT win_start_us, k, n, rnk FROM r
        |WHERE rnk <= 3 ORDER BY win_start_us, rnk""".stripMargin)
}
