package graft.streaming

import graft.Tables
import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Stream-STATIC dimension enrichment (`s_enrich`): every row image on the
  * CDC stream joined to the bounded `customer` dimension — the lookup the
  * reference's consumer does against its TABSCHEM registry for *schema*
  * (ec:1220-1304 tabname lookup), generalized to *reference data*: the
  * classic "attach the dimension attributes at ingest" streaming shape
  * (the batch twin is `q_lookup_join`).
  *
  * This is the STATELESS streaming join: the static side is fully known,
  * so no watermark, no join state, and no state store at all — each
  * micro-batch plans a plain broadcast hash join of the batch's rows
  * against the dim (suite-pinned: zero state operators, BroadcastHashJoin
  * in the micro-batch plan). Contrast `s_stream_join`, where BOTH sides
  * stream and symmetric-hash state + watermark eviction are the point.
  *
  * 100 TB shape: per micro-batch cost is |batch| × O(1) against the
  * broadcast dim — the stream never shuffles. A dimension too large to
  * broadcast flips the join to a shuffled hash join keyed on the stream's
  * key (one exchange of the BATCH, never the log), or pre-buckets the dim
  * (the `q_bucketed_join` layout) so ingest stays exchange-free. The
  * static side is re-read per restart, not per batch — a slowly-changing
  * dim wants the SCD2 operator (`q_scd2`) on its own change stream
  * feeding a refreshed snapshot.
  */
object EnrichStream {

  /** Start the enrichment stream: apply images (INSERT/UPDAFT — the same
    * projection the commit join enriches) joined to the customer dim on
    * the image key. Append mode + file sink + checkpoint = exactly-once
    * delivery of each enriched image (the CdcPipeline sink discipline). */
  def enrich(spark: SparkSession, chunkDir: String, customer: DataFrame,
             checkpointDir: String, outDir: String,
             maxFilesPerTrigger: Int = 3) = {
    val env = CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
    val dim = broadcast(
      customer.select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
    env
      .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
      .select(col("seq"), col("key").as("k"), col("etype"), col("v"))
      .join(dim, col("k") === col("c_custkey"))
      .select(col("seq"), col("k"), col("etype"), col("v"),
        col("c_name"), col("c_mktsegment"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Driver-checked: run [[enrich]] over the LSN-ordered fixture and
    * return the enriched images. The oracle recomputes the mapping
    * relationally — every event yields exactly one apply image at
    * `seq = event_id·4 + 2` (purchases as UPDAFT, the rest as INSERT),
    * joined to `customer` on `user_id = c_custkey`. */
  def sEnrich(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_enrich", d)
    StreamFixture.reset(root, "checkpoint", "enriched")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val out = new java.io.File(root, "enriched").getAbsolutePath
    enrich(s, chunkDir.getAbsolutePath, Tables.customer(s, d), ck, out)
      .awaitTermination()
    s.read.parquet(out).orderBy(col("seq"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_enrich" -> (sEnrich _))

  val oracle: Map[String, String] = Map(
    "s_enrich" ->
      """SELECT e.event_id * 4 + 2 AS seq, e.user_id AS k,
        |       e.event_type AS etype, e.value AS v,
        |       c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY seq""".stripMargin)
}
