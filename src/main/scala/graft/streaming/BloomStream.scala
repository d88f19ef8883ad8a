package graft.streaming

import graft.operators.BloomJoin
import graft.sources.CdcChunkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MEMBERSHIP-index maintenance — the fourth entry in the
  * streaming index family (MinHash signatures, sign sketches, IVF+PQ
  * codes, and now Bloom bits): the ingestion stream keeps a Bloom filter
  * over every key it has ever delivered, so a downstream consumer can
  * ask "have we seen this key?" at bit cost without replaying the log —
  * the at-ingest dedup / newness gate of a crawl pipeline, and the
  * streaming twin of [[graft.operators.BloomJoin]].
  *
  * Per micro-batch: fold the batch's keys into ONE bitmap row
  * (`BloomJoin.buildBloom` — fixed 8 KiB regardless of batch size) and
  * append it, plus the batch's distinct keys, under `batch=<id>`.
  * Bitmap OR is associative and idempotent, so per-batch partials need
  * no read-modify-write of accumulated state — the probe folds them —
  * and the `batch=<id>` overwrite discipline (the [[DedupStream]]
  * exactly-once contract) makes foreachBatch replays rewrite, never
  * double-count.
  *
  * 100 TB shape: the index grows 8 KiB + |distinct batch keys| rows per
  * batch; the probe's driver-side fold reads #batches bitmap ROWS (8 KiB
  * each — bounded driver metadata, like the probed-cluster-id collects),
  * never keys. Candidates that fail the bloom never reach the exact
  * semi-join — for a mostly-novel candidate stream that is the whole
  * key-log scan avoided; false positives (≈1e-7 at these parameters)
  * are removed by the exact join, so the operator is result-transparent.
  */
object BloomStream {

  /** One micro-batch step — the foreachBatch body, callable directly:
    * write the batch's bitmap partial and distinct keys, exactly-once. */
  def processBatch(batch: DataFrame, batchId: Long, root: String): Unit = {
    val keys = batch.select(col("k")).distinct()
    // Disjoint-root partials off one plan — overlap (r18, guide §2.6).
    BatchPar.run(
      () => BloomJoin.buildBloom(keys, "k")
        .write.mode("overwrite").parquet(s"$root/bloom/batch=$batchId"),
      () => keys.write.mode("overwrite").parquet(s"$root/keys/batch=$batchId"))
  }

  /** Maintain the membership index from the CDC chunk stream: INSERT /
    * UPDAFT row images contribute their key.
    *
    * `maintainEvery` > 0: the [[Maintainer.start]] auto-tick (r18) runs
    * [[graft.api.Graft.maintain]] over the bitmap and key logs every
    * K-th micro-batch; folding is union-neutral here (bitmap OR is
    * associative, the key log reads distinct). 0 = off. */
  def maintain(spark: SparkSession, chunkDir: String, checkpointDir: String,
               root: String, maintainEvery: Int = 0,
               policy: graft.api.Graft.MaintenancePolicy =
                 graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    Maintainer.start(
      CdcChunkSource.stream(spark, chunkDir)
        .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
        .select(col("key").as("k")),
      checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(s"$root/bloom", s"$root/keys"), policy = policy))(
      processBatch(_, _, root))

  /** OR-fold the per-batch bitmap partials into one bitmap frame (1 row).
    * Driver-side fold over #batches 8 KiB rows — bounded metadata. */
  private[graft] def foldedBloom(spark: SparkSession, root: String): DataFrame = {
    val words = BloomJoin.M / 64
    val acc = new Array[Long](words)
    spark.read.parquet(s"$root/bloom").select(col("bm")).collect()
      .foreach { r =>
        val bm = r.getSeq[Long](0)
        var i = 0
        while (i < words) { acc(i) |= bm(i); i += 1 }
      }
    spark.range(1).select(
      array(acc.toIndexedSeq.map(lit(_)): _*).as("bm"))
  }

  /** Probe: candidates → map-side bloom test → exact semi-join against
    * the key log (false positives die here; false negatives cannot
    * exist — same deterministic hashes wrote the bits). */
  def probe(spark: SparkSession, root: String, candidates: DataFrame,
            keyCol: String): DataFrame = {
    val pruned = candidates
      .crossJoin(broadcast(foldedBloom(spark, root)))
      .filter(BloomJoin.mightContain(keyCol))
      .drop("bm")
    val keys = spark.read.parquet(s"$root/keys")
      .select(col("k").as("_ik")).distinct()
    pruned.join(keys, col(keyCol) === col("_ik"), "left_semi")
  }

  /** Driver-checked (`s_bloom_index`): maintain the index from the
    * ordered fixture, then probe with every real key plus a
    * deterministic out-of-domain miss per key (+10⁹ — outside any key
    * domain the generator produces) — hits survive, misses (and any
    * bloom false positive among them) must be gone after the exact
    * verify, so the output is exactly the distinct key set. */
  def sBloomIndex(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_bloom", d)
    StreamFixture.reset(root, "checkpoint", "index")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val idx = new java.io.File(root, "index").getAbsolutePath
    // No stateful operator in the maintain query (foreachBatch only), so
    // no state-partition scoping is needed (cf. MvStream.sMvDelta).
    maintain(s, chunkDir.getAbsolutePath, ck, idx).awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r17):
    // both batch= logs fold — the bitmap partials union-read (OR is
    // associative), the key log reads distinct — and the gate
    // hash-checks the FOLDED form's probe.
    graft.api.Graft.maintain(s,
      indexRoots = Seq(s"$idx/bloom", s"$idx/keys"),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    val cand = graft.Tables.events(s, d)
      .select(col("user_id").as("k")).distinct()
      .select(explode(array(col("k"), col("k") + 1000000000L)).as("k"))
    probe(s, idx, cand, "k").orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_bloom_index" -> (sBloomIndex _))

  val oracle: Map[String, String] = Map(
    // Transparency is the claim: every real key is a hit (no false
    // negatives), every +1e9 miss dies in the bloom or the exact verify.
    "s_bloom_index" ->
      "SELECT DISTINCT user_id AS k FROM events ORDER BY k")
}
