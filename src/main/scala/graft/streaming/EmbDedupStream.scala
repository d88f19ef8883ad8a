package graft.streaming

import graft.operators.{LlmQueries, Materialize}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous EMBEDDING near-duplicate maintenance — [[DedupStream]]'s
  * batch→index→probe pattern (round-7 verdict #6) applied to the
  * sign-sketch index: a persisted (vec_id, sketch, embedding, norm)
  * table kept up to date BY the ingestion stream that probes it, so
  * embedding dedup of a crawl never re-sketches or re-pairs the corpus
  * (`Graft.embNearDupPairs` recomputes sketches per call — the gap this
  * closes).
  *
  * The plane set is FIXED AT INDEX CREATION: sign sketches are only
  * comparable under the same hyperplanes, so the first batch derives the
  * `nPlanes` lowest-id planes ([[LlmQueries.derivePlanes]]) and persists
  * them beside the index (`_graft_planes` — the underscore keeps the dir
  * invisible to the index's partition discovery, the same convention as
  * Spark's own `_metadata` files); every later batch (and any external
  * reader) sketches with the stored planes. This is the embedding analog
  * of the minhash index's fixed permutation set — there the hash family
  * is baked into the kernel, here it is data-derived state and must be
  * persisted (ec:2104-2194's principle: resume from saved state, never
  * re-derive from history).
  *
  * Per micro-batch ([[processBatch]]):
  *  1. sketch the batch ONCE against the stored planes (one broadcast
  *     fold — corpus vectors are never touched);
  *  2. probe: batch×index ∪ batch×batch candidates from the sketch
  *     equi-join, verified at cosine >= `threshold` — never
  *     corpus×corpus;
  *  3. append the verified pairs to the pair log and the ACCEPTED
  *     vectors' (sketch, embedding, norm) rows to the index.
  *
  * Acceptance, exactly-once, and first-write-wins follow [[DedupStream]]
  * verbatim: a batch vector is rejected iff it is the `vec_b` (greater
  * id) of a verified pair; both writes overwrite `batch=<id>` partition
  * dirs so foreachBatch replays are no-ops; an id already in the index
  * keeps its first-written row.
  *
  * Scale: probe cost is |batch| × bucket (the index side arrives
  * pre-sketched — no corpus text/vector pass); append cost is
  * |accepted| rows. With `nPlanes` = p there are 2^p buckets — p must
  * grow with the corpus (p ≈ log2(N) keeps expected bucket size
  * constant) exactly as the minhash band width must. The index is laid
  * out as `batch=<id>/sb=<sketch mod 256>` partitions, and each probe
  * scans ONLY the sb prefixes its batch's sketches name (bounded driver
  * metadata, ≤ min(|batch|, 256) ints — the same touched-partition
  * pattern as the CDC merge sink and the ANN index), so probing stays
  * sub-linear in the INDEX size too, not just join-bounded. */
object EmbDedupStream {

  /** DEFAULT sketch-prefix partition fan-out — consumed only at index
    * creation (r16, the [[BucketMeta]] discipline: the live count is
    * per-store metadata, stamped per run and read back count-grouped at
    * probe time, so raising it never mis-prunes runs written at the old
    * count; the interpretation of unstamped legacy runs is FROZEN at
    * the pre-r18 default, [[SbBucketsLegacy]]). 64 dirs per batch
    * (r18 — the [[DedupStream.BbBuckets]] file-commit measurement:
    * every micro-batch commits one file per live bucket, and 256
    * buckets cost ~4× the 64-bucket commit overhead; a 6-plane install
    * only ever populates 64 sketch values anyway). Full-sketch equality
    * implies prefix equality, so pruning loses no candidate pair at ANY
    * count; raise per store via [[BucketMeta.setStore]] at scale. */
  private val SbBuckets = 64

  /** The frozen interpretation of UNSTAMPED legacy runs — the default
    * at the time those runs were written (pre-r18: 256). Never change
    * this. */
  private val SbBucketsLegacy = 256

  /** Non-empty-state guard ([[IdSidecar.hasBatchData]]): an empty
    * batch's `sb=`-partitioned partial is `_SUCCESS`-only and must not
    * make later reads infer schema from an all-empty root. */
  private def hasParquet(spark: SparkSession, dir: String): Boolean =
    IdSidecar.hasBatchData(spark, dir)

  private[streaming] def planesPath(indexDir: String) =
    s"$indexDir/_graft_planes"

  private[streaming] def hasPlanes(spark: SparkSession,
      indexDir: String): Boolean = {
    val p = new Path(planesPath(indexDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The index's fixed plane set (pid, pv), once a batch has created it. */
  def readPlanes(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(planesPath(indexDir))

  /** Read the accumulated sketch index: (vec_id, embedding, sketch, norm). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).drop("batch", "sb")

  /** Read the accumulated near-dup pair log: (vec_a, vec_b, sim). */
  def readPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir).drop("batch")

  /** Sketch the batch under the index's planes (bootstrapping them from
    * this batch if the index is being created — deterministic, so a
    * replay of batch 0 rewrites identical planes). One sketch pass;
    * callers probe AND append from the returned frame. */
  private[streaming] def sketchBatch(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, nPlanes: Int): DataFrame =
    sketchBatchWithSets(batch, idCol, vecCol, indexDir, nPlanes, Nil)._1

  /** [[sketchBatch]] that ALSO accumulates, off the SAME materializing
    * job, the distinct-int sets each probe column's array evaluates to
    * (r19, guide §1.5 — [[graft.operators.Materialize.withIntSets]]):
    * the per-batch sketch-bucket (`sb`) and sidecar id-bucket (`ib`)
    * collects ride the sketch checkpoint instead of costing a separate
    * distinct+collect action each. */
  private[streaming] def sketchBatchWithSets(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, nPlanes: Int,
      probes: Seq[org.apache.spark.sql.Column])
      : (DataFrame, Seq[Seq[Int]]) = {
    val spark = batch.sparkSession
    if (!hasPlanes(spark, indexDir))
      LlmQueries.derivePlanes(batch, idCol, vecCol, nPlanes)
        .write.mode("overwrite").parquet(planesPath(indexDir))
    Materialize.withIntSets(
      LlmQueries.signSketch(batch, idCol, vecCol, readPlanes(spark, indexDir)),
      probes)
  }

  /** The `sb` bucket of a sketch row at count `n`, int-cast for the
    * set accumulator — value-identical to the store's
    * `pmod(sketch, n)` (sketches and buckets are non-negative). */
  private[streaming] def sbBucketCol(n: Int): org.apache.spark.sql.Column =
    pmod(col("sketch"), lit(n.toLong)).cast("int")

  /** The store count new `sb=` runs are written at — read driver-side
    * by the collect-fusion callers. */
  private[streaming] def sbStoreCount(spark: SparkSession,
      indexDir: String): Int =
    BucketMeta.storeCount(spark, indexDir, SbBuckets)

  /** The probe's index-read frame: only the named sb prefixes, minus
    * `excludeBatch`'s partial — factored out so the plan pin can assert
    * the sb/batch PartitionFilters reach the scan. `onlyBatches`
    * restricts to one bucket-count group's runs during a count
    * transition (absent on the common single-count store). */
  private[streaming] def probeRead(spark: SparkSession, indexDir: String,
      sbs: Seq[Any], excludeBatch: Long,
      onlyBatches: Option[Seq[Long]] = None): DataFrame = {
    val base = spark.read.parquet(indexDir)
      .filter(col("batch") =!= excludeBatch)
    onlyBatches.fold(base)(ids => base.filter(col("batch").isin(ids: _*)))
      .filter(col("sb").isin(sbs: _*))
      .drop("batch", "sb")
  }

  /** The sketch-bucket probe: verified cosine pairs of the batch against
    * the accumulated index ∪ the batch itself — batch×corpus and
    * batch×batch, never corpus×corpus. The index read prunes to the sb
    * prefixes this batch's sketches name (bounded driver metadata —
    * ≤ min(|batch|, 256) ints), never the whole index. `excludeBatch`
    * keeps a foreachBatch replay from treating its own about-to-be-
    * overwritten index rows as prior state. */
  private[streaming] def discoverPairs(batchSk: DataFrame, indexDir: String,
      threshold: Double, excludeBatch: Long,
      sbPre: Option[(Int, Seq[Int])] = None,
      pairProbes: Seq[org.apache.spark.sql.Column] = Nil)
      : (DataFrame, Seq[Seq[Int]]) = {
    val spark = batchSk.sparkSession
    val index =
      if (hasParquet(spark, indexDir)) {
        // count-grouped (r16): each run group prunes with the sketch
        // buckets computed at ITS stamped count; single-count stores
        // take the unrestricted fast path — the pinned plan shape
        val groups = BucketMeta.runGroups(spark, indexDir, SbBucketsLegacy)
          .toSeq.sortBy(_._1)
        val frames = groups.map { case (n, ids) =>
          // r19 (guide §1.5): a group at the pre-accumulated count
          // skips the per-batch distinct+collect (the set rode the
          // sketch materialization); other counts fall back.
          val sbs = sbPre.filter(_._1 == n)
            .map(_._2.map(b => b.toLong: Any))
            .getOrElse(batchSk
              .select(pmod(col("sketch"), lit(n)).as("sb"))
              .distinct().collect().map(_.get(0)).toSeq)
          probeRead(spark, indexDir, sbs, excludeBatch,
            onlyBatches = if (groups.size == 1) None else Some(ids))
        }
        if (frames.isEmpty) batchSk.limit(0)
        else frames.reduce(_ unionByName _)
      } else batchSk.limit(0)
    // Candidates: every batch vector against the index ∪ this batch on
    // the sketch bucket. A batch×batch pair surfaces from both of its
    // ends — the `_b` flag keeps only the (smaller id = partner) side —
    // while a batch×corpus pair surfaces once, from its batch end.
    val u = index.withColumn("_b", lit(false))
      .unionByName(batchSk.withColumn("_b", lit(true)))
      .selectExpr("vec_id AS _uid", "sketch", "embedding AS _uv",
        "norm AS _un", "_b")
    val probe = batchSk
      .selectExpr("vec_id AS _pid", "sketch", "embedding AS _pv",
        "norm AS _pn")
    Materialize.withIntSets(probe.join(u, Seq("sketch"))
      .filter(col("_uid") =!= col("_pid"))
      .filter(!col("_b") || col("_uid") < col("_pid"))
      .withColumn("sim", expr(
        "round(dot_f32(_uv, _pv) / (_un * _pn), 6)"))
      .filter(col("sim") >= threshold)
      .select(least(col("_uid"), col("_pid")).as("vec_a"),
        greatest(col("_uid"), col("_pid")).as("vec_b"), col("sim")),
      pairProbes)
    // ^ each unordered pair survives the _b/id filters exactly once (a
    //   vector lives in one bucket, so a pair can only meet on one
    //   sketch value).
  }

  /** Append the batch's sketch rows to the index, minus `exclude` —
    * first-write-wins per id, with this batch id's own (about-to-be-
    * overwritten) rows ignored on replay; see DedupStream.processBatch.
    * The membership check is the [[IdSidecar]]'s bucket-pruned point
    * lookup (r14 verdict #2 — never an O(index) id scan), and each
    * batch writes its accepted ids' sidecar partial alongside the
    * sketch rows. The curation stream excludes rejected duplicates; the
    * label stream ([[EmbClusterStream]]) excludes nothing (index-ALL). */
  private[streaming] def appendIndex(batchSk: DataFrame, indexDir: String,
      batchId: Long, exclude: DataFrame,
      ibPre: Option[(Int, Seq[Int])] = None): Unit = {
    val spark = batchSk.sparkSession
    val known = IdSidecar.knownIds(spark, indexDir, "vec_id",
      batchSk.select("vec_id"), batchId, ibPre)
    // NOT materialized: both writes re-run two small anti-joins over the
    // already-materialized sketches — cheaper than a second checkpoint
    // of the embedding rows (the DedupStream.appendIndex measurement).
    val fresh = batchSk
      .join(exclude, Seq("vec_id"), "left_anti")
      .join(known, Seq("vec_id"), "left_anti")
    val n = BucketMeta.ensureStore(spark, indexDir, SbBuckets)
    // repartition(sb) first — one file per bucket per batch, not one
    // per (input task × bucket), file creates across cores (the
    // DedupStream `bb=` discipline, r18 — guide §6 small files).
    fresh
      .withColumn("sb", pmod(col("sketch"), lit(n)))
      .repartition(col("sb"))
      .write.mode("overwrite").partitionBy("sb")
      .parquet(s"$indexDir/batch=$batchId")
    BucketMeta.stampRun(spark, indexDir, batchId, n)
    IdSidecar.append(fresh.select("vec_id"), "vec_id", indexDir, batchId)
  }

  /** One micro-batch step — the foreachBatch body, callable directly for
    * batch-driven ingestion too. Returns the batch's verified pairs. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   vecCol: String, indexDir: String, pairsDir: String,
                   threshold: Double, nPlanes: Int): DataFrame = {
    val spark = batch.sparkSession
    // sb + ib bucket sets accumulate off the sketch materialization
    // (r19, guide §1.5 — no separate per-batch collect actions).
    val nSb = sbStoreCount(spark, indexDir)
    val nIb = BucketMeta.storeCount(spark, IdSidecar.root(indexDir),
      IdSidecar.Buckets)
    val (batchSk, skSets) = sketchBatchWithSets(batch, idCol, vecCol,
      indexDir, nPlanes,
      Seq(array(sbBucketCol(nSb)),
        array(IdSidecar.bucket(col("vec_id"), nIb))))
    val pairs = discoverPairs(batchSk, indexDir, threshold, batchId,
      sbPre = Some(nSb -> skSets.head))._1
    // consumed twice: pair log + rejection set (both off the
    // materialized frame).
    val rejected = pairs.select(col("vec_b").as("vec_id")).distinct()
    // Disjoint-root actions overlap (r18, guide §2.6 — [[BatchPar]]):
    // the DedupStream.processBatch shape.
    BatchPar.run(
      () => pairs.write.mode("overwrite")
        .parquet(s"$pairsDir/batch=$batchId"),
      () => appendIndex(batchSk, indexDir, batchId, rejected,
        ibPre = Some(nIb -> skSets(1))))
    pairs
  }

  /** Attach continuous embedding dedup to a streaming Dataset of
    * vectors: `vectors` must be a streaming frame carrying `idCol` and
    * an `Array[Float]` `vecCol`.
    *
    * `maintainEvery` > 0: the [[Maintainer.start]] auto-tick (r18) runs
    * [[graft.api.Graft.maintain]] over the `sb=` sketch index and the
    * pair log every K-th micro-batch (folds never touch the
    * `_graft_planes` vocabulary beside the runs). 0 = off. */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            indexDir: String, pairsDir: String, checkpointDir: String,
            threshold: Double = 0.99, nPlanes: Int = 16,
            maintainEvery: Int = 0,
            policy: graft.api.Graft.MaintenancePolicy =
              graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    Maintainer.start(vectors, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(indexDir, pairsDir), policy = policy))(
      processBatch(_, _, idCol, vecCol, indexDir, pairsDir, threshold,
        nPlanes))
}
