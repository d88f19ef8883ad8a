package graft.streaming

import graft.operators.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous MULTIMODAL near-duplicate maintenance (r14 — extends the
  * index-maintenance matrix to the media family, which until now had
  * only batch verbs): [[DedupStream]]'s batch→index→probe pattern
  * applied to the 64-bit perceptual-fingerprint space shared by
  * `q_media_near_dup` (image dHash) and `q_audio_near_dup` (frame-
  * energy-delta), so a media crawl keeps its near-dup pair log current
  * without ever re-decoding or re-pairing the corpus.
  *
  * Per micro-batch ([[processBatch]]):
  *  1. DECODE + fingerprint the batch's binary payloads through the
  *     caller's kernel — the multimodal family's one justified
  *     `mapPartitions` seam (the kernels are byte-walks, not
  *     expressions); payloads the kernel REJECTS (truncated download,
  *     corrupt magic) land in a quarantine log with their reason, the
  *     `q_media_quarantine` gate applied at ingest instead of after the
  *     fact — a bad payload never enters the index;
  *  2. PROBE: the batch's band rows against the accumulated index ∪ the
  *     batch itself on the (band, key) bucket —
  *     [[graft.operators.LlmQueries.hammingBandPairs]]'s pigeonhole
  *     arithmetic (4×16-bit bands, lossless for hamming ≤ 3), verified
  *     at `bit_count(xor) <= maxHamming`; never corpus×corpus. The
  *     index read prunes to the `mb=<key mod 256>` partitions the
  *     batch's bands name (bounded driver metadata, ≤ min(4·|batch|,
  *     256) ints — the EmbDedupStream prefix-probe pattern);
  *  3. APPEND every decoded batch row's band rows to the index
  *     (index-ALL: the accumulated pair set must equal the full-corpus
  *     recompute, so even a duplicate's bands stay probeable) —
  *     first-write-wins per id, current batch excluded on replay.
  *
  * A pair (a, b) is discovered exactly when the later of the two
  * arrives, and both endpoints are indexed from then on, so each
  * unordered pair lands in exactly one batch partial and the
  * accumulated log equals `hammingBandPairs` over the full corpus —
  * which is what lets the driver hash-check the stream against
  * `q_media_near_dup`'s own full-recompute oracle (one string for
  * both).
  *
  * Exactly-once: all three writes (pairs, quarantine, index) are
  * `batch=<id>`-keyed OVERWRITEs and every read excludes the current
  * batch id — a foreachBatch replay rewrites its own partials verbatim.
  * Partials compact with [[IndexCompaction.compact]] (the `mb=` scheme
  * is an internal partition column, which compaction preserves). */
object MediaDedupStream {

  /** Band geometry shared with [[graft.operators.LlmQueries
    * .hammingBandPairs]]: 4 bands × 16 bits. */
  val BandBits = 16

  /** DEFAULT partition fan-out of the index's internal
    * `mb=<bkey mod count>` bucketing — consumed only at index creation
    * (r16, the [[BucketMeta]] discipline: per-store metadata, stamped
    * per run, read back count-grouped at probe time, so a raise never
    * mis-prunes old runs; frozen as the unstamped-legacy
    * interpretation — runs without a stamp were written at 256, the
    * pre-r18 default, so the frozen constant stays 256 below).
    *
    * DEFAULT 64 for NEW stores (r18): the [[DedupStream.BbBuckets]]
    * measurement applies unchanged here — every micro-batch commits one
    * file per live bucket, and at 256 buckets the per-batch file-commit
    * overhead measured ~4× the 64-bucket cost while the probe pruning
    * it buys only matters once run sizes dwarf batch sizes. At 100 TB
    * raise it per store ([[BucketMeta.setStore]]) as batches grow, or
    * keep coarse partials and refine folded runs via the rebucket
    * verbs. */
  private val MbBuckets = 64

  /** The frozen interpretation of UNSTAMPED legacy runs — the default
    * at the time those runs were written (pre-r18: 256). Never change
    * this; it is what keeps old unstamped runs correctly pruned. */
  private val MbBucketsLegacy = 256

  /** Non-empty-state guard ([[IdSidecar.hasBatchData]]): an empty
    * batch's `mb=`-partitioned partial is `_SUCCESS`-only and must not
    * make later reads infer schema from an all-empty root. */
  private def hasParquet(spark: SparkSession, dir: String): Boolean =
    IdSidecar.hasBatchData(spark, dir)

  /** Explode a (doc_id, hash) frame into its 4 band rows
    * (doc_id, hash, band, bkey) — the [[graft.operators.LlmQueries
    * .hammingBandPairs]] layout, carried WITH the full hash so
    * verification never joins back to a fingerprint table. */
  private def bandRows(fp: DataFrame): DataFrame = {
    val mask = (1L << BandBits) - 1
    val byteExprs = (0 until 4)
      .map(j => s"cast(shiftright(hash, ${BandBits * j}) & $mask AS int)")
      .mkString(", ")
    fp.select(col("doc_id"), col("hash"),
      posexplode(expr(s"array($byteExprs)")).as(Seq("band", "bkey")))
  }

  /** Read the accumulated near-dup pair log: (doc_a, doc_b, hamming). */
  def readPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir).drop("batch")

  /** Read the accumulated quarantine log: (doc_id, reason). */
  def readQuarantine(spark: SparkSession, quarantineDir: String): DataFrame =
    spark.read.parquet(quarantineDir).drop("batch")

  /** One micro-batch step — the foreachBatch body, callable directly
    * for batch-driven ingestion. `batch` carries `idCol` (long) and
    * `payloadCol` (binary); `kernel` is the modality's fingerprint
    * byte-walk (Left = quarantine reason, Right = 64-bit hash) —
    * [[graft.multimodal.MultimodalOps.dHashPgmE]] for images,
    * `audioFingerprintE` for WAV. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      payloadCol: String, kernel: Array[Byte] => Either[String, Long],
      indexDir: String, pairsDir: String, quarantineDir: String,
      maxHamming: Int = 2): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // 1. decode + fingerprint: the one mapPartitions batch seam. The
    // batch is spread first (r18, guide §2.5): a one-file micro-batch is
    // ONE scan partition, so the decode byte-walk — the dominant per-row
    // cost — ran on a single core; the deterministic hash repartition
    // moves each payload once, before decoding. The decoded rows (24
    // bytes each — id, hash, reason) re-partition by id with no explicit
    // count, so AQE coalesces the materialized frame back to size-
    // appropriate partitions and downstream stages don't schedule one
    // tiny task per kernel partition. Kernel wide, state narrow.
    // The sidecar id-bucket (ib) set accumulates off the decode
    // materialization and the band-bucket (mb) set off the band
    // materialization (r19, guide §1.5 — the per-batch bucket collects
    // were separate distinct+collect actions). The ib set is over ALL
    // decoded ids (quarantined included) — a superset, which partition
    // pruning tolerates and the membership anti-join filters exactly.
    val nIb = BucketMeta.storeCount(spark, IdSidecar.root(indexDir),
      IdSidecar.Buckets)
    val nMb = BucketMeta.storeCount(spark, indexDir, MbBuckets)
    val (decoded, decSets) = Materialize.withIntSets(
      graft.Tables.spread(spark, batch
        .select(col(idCol).cast("long"), col(payloadCol)))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        kernel(payload) match {
          case Right(h) => (id, h, null.asInstanceOf[String])
          case Left(reason) => (id, 0L, reason)
        }
      }).toDF("doc_id", "hash", "reason")
      .repartition(col("doc_id")),
      Seq(array(IdSidecar.bucket(col("doc_id"), nIb))))
    val (batchBands, bandSets) = Materialize.withIntSets(
      bandRows(decoded.filter(col("reason").isNull)
        .select(col("doc_id"), col("hash"))),
      Seq(array(pmod(col("bkey"), lit(nMb.toLong)).cast("int"))))
    // 2. probe: batch bands against the mb-pruned index ∪ the batch.
    val indexBands =
      if (hasParquet(spark, indexDir)) {
        // count-grouped (r16): each run group prunes with the band
        // buckets computed at ITS stamped count; single-count stores
        // take the unrestricted fast path — the pinned plan shape
        val groups = BucketMeta.runGroups(spark, indexDir, MbBucketsLegacy)
          .toSeq.sortBy(_._1)
        val frames = groups.map { case (n, ids) =>
          // r19 (guide §1.5): the store-count group reuses the set
          // accumulated off the band materialization; other counts
          // fall back to the per-group collect.
          val mbs =
            if (n == nMb) bandSets.head.map(b => b.toLong: Any)
            else batchBands
              .select(pmod(col("bkey"), lit(n)).as("mb"))
              .distinct().collect().map(_.get(0)).toSeq
          val base = spark.read.parquet(indexDir)
            .filter(col("batch") =!= batchId)
          (if (groups.size == 1) base
           else base.filter(col("batch").isin(ids: _*)))
            .filter(col("mb").isin(mbs: _*))
            .drop("batch", "mb")
        }
        if (frames.isEmpty) batchBands.limit(0)
        else frames.reduce(_ unionByName _)
      } else batchBands.limit(0)
    val u = indexBands.withColumn("_b", lit(false))
      .unionByName(batchBands.withColumn("_b", lit(true)))
      .selectExpr("doc_id AS _uid", "hash AS _uh", "band", "bkey", "_b")
    val probe = batchBands
      .selectExpr("doc_id AS _pid", "hash AS _ph", "band", "bkey")
    // a batch×batch pair surfaces from both ends — `_b` keeps one; a
    // batch×corpus pair surfaces once, from its batch end. distinct()
    // BEFORE the popcount collapses multi-band collisions of one pair,
    // hammingBandPairs' discipline.
    val pairsPlan = probe.join(u, Seq("band", "bkey"))
      .filter(col("_uid") =!= col("_pid"))
      .filter(!col("_b") || col("_uid") < col("_pid"))
      .select(least(col("_uid"), col("_pid")).as("doc_a"),
        greatest(col("_uid"), col("_pid")).as("doc_b"),
        least(col("_uh"), col("_ph")).as("_ha"),
        greatest(col("_uh"), col("_ph")).as("_hb"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(_ha ^ _hb) AS bigint)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    // 3. index-ALL append: first-write-wins via the IdSidecar's
    // bucket-pruned membership lookup (r14 verdict #2 — never an
    // O(index) id scan), replay-safe; the accepted ids' sidecar partial
    // writes alongside the band rows.
    val known = IdSidecar.knownIds(spark, indexDir, "doc_id",
      decoded.filter(col("reason").isNull).select("doc_id"), batchId,
      pre = Some(nIb -> decSets.head))
    // NOT materialized: both writes re-run one small anti-join over the
    // already-materialized band rows (the DedupStream.appendIndex
    // measurement).
    val fresh = batchBands
      .join(known, Seq("doc_id"), "left_anti")
    val n = BucketMeta.ensureStore(spark, indexDir, MbBuckets)
    // The batch tail's three state writes overlap (r18, guide §2.6 —
    // [[BatchPar]]): quarantine, pair log, and index + sidecar land on
    // disjoint roots, and every read each lane executes (the probe's
    // mb-pruned index scan, the append's sidecar membership scan) was
    // CONSTRUCTED above, before the fork — a lane adding a `batch=` dir
    // cannot enter another lane's already-captured file index.
    BatchPar.run(
      () => decoded.filter(col("reason").isNotNull)
        .select(col("doc_id"), col("reason"))
        .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId"),
      () => pairsPlan
        .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId"),
      () => {
        // repartition(mb) first — one file per bucket per batch, not one
        // per (input task × bucket), and the file creates run across
        // cores (the DedupStream `bb=` discipline, r18 — guide §6 small
        // files).
        fresh
          .withColumn("mb", pmod(col("bkey"), lit(n)))
          .repartition(col("mb"))
          .write.mode("overwrite").partitionBy("mb")
          .parquet(s"$indexDir/batch=$batchId")
        BucketMeta.stampRun(spark, indexDir, batchId, n)
        IdSidecar.append(fresh.select("doc_id").distinct(), "doc_id",
          indexDir, batchId)
      })
  }

  /** Attach continuous media dedup to a streaming frame of
    * (`idCol`, binary `payloadCol`) rows.
    *
    * `maintainEvery` > 0: the [[Maintainer.start]] auto-tick (r18) runs
    * [[graft.api.Graft.maintain]] over the `mb=` fingerprint index, the
    * pair log, and the quarantine log every K-th micro-batch. 0 = off. */
  def start(media: DataFrame, idCol: String, payloadCol: String,
      kernel: Array[Byte] => Either[String, Long], indexDir: String,
      pairsDir: String, quarantineDir: String, checkpointDir: String,
      maxHamming: Int = 2, maintainEvery: Int = 0,
      policy: graft.api.Graft.MaintenancePolicy =
        graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    Maintainer.start(media, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(indexDir, pairsDir, quarantineDir),
        policy = policy))(
      processBatch(_, _, idCol, payloadCol, kernel, indexDir, pairsDir,
        quarantineDir, maxHamming))

  /** Driver-checked (`s_media_index`): split the corpus's synthetic PGM
    * payloads into 4 deterministic micro-batches of (doc_id, payload
    * binary) files, run the maintenance stream to completion, and
    * return the accumulated pair log — hash-checked against
    * `q_media_near_dup`'s full-recompute oracle (stream ≡ recompute;
    * the oracle is the SAME string, regenerating fingerprints from
    * doc_id arithmetic). The payload column is REAL binary plumbing:
    * the fixture materializes each PGM into the batch files and the
    * stream's kernel re-parses it on the executors. */
  def sMediaIndex(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.MultimodalOps
    import s.implicits._
    val root = StreamFixture.root("graft_stream_media", d)
    StreamFixture.reset(root, "checkpoint", "index", "pairs", "quarantine")
    // (doc_id, payload) rows: each doc's PGM is a pure function of its id
    val media = graft.Tables.spread(s, graft.Tables.documents(s, d))
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalOps.syntheticNoisePgm(id))))
      .toDF("doc_id", "payload")
    start(
      StreamFixture.fourBatches(media, "doc_id",
        new java.io.File(root, "media"), "_GRAFT_MEDIA"),
      "doc_id", "payload", MultimodalOps.dHashPgmE,
      new java.io.File(root, "index").getAbsolutePath,
      new java.io.File(root, "pairs").getAbsolutePath,
      new java.io.File(root, "quarantine").getAbsolutePath,
      new java.io.File(root, "checkpoint").getAbsolutePath,
      maxHamming = 2)
      .awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r17):
    // the pair log — the state this gate SERVES — folds and the hash
    // checks the folded form. The mb= index is deliberately NOT folded
    // here: the stream has ended, so no later probe would validate a
    // quiesce fold of it (pure bench cost with no oracle coverage);
    // mb= fold mechanics are pinned by the compaction suites and the
    // count-stamp suite instead.
    graft.api.Graft.maintain(s,
      indexRoots = Seq(new java.io.File(root, "pairs").getAbsolutePath),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    readPairs(s, new java.io.File(root, "pairs").getAbsolutePath)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_media_index" -> (sMediaIndex _))

  val oracle: Map[String, String] = Map(
    // stream ≡ recompute: the SAME full-corpus oracle as
    // q_media_near_dup — one string for both forms.
    "s_media_index" ->
      graft.multimodal.MultimodalOps.oracle("q_media_near_dup"))
}
