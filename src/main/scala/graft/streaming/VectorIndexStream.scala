package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Continuous maintenance of the PERSISTED ANN index — the
  * [[DedupStream]]/[[EmbDedupStream]] batch→state→append pattern applied
  * to [[graft.api.Graft.writeVectorIndex]]'s serving layout, so a vector
  * ingest keeps the partition-pruned index current without ever
  * re-assigning the corpus.
  *
  * Layout: part files under `batch=<id>/cluster=<c>/` (+
  * `_graft_centroids` beside it, hidden from partition discovery;
  * same layout either side of the swap). Every batch directory is
  * internally partitioned by the SAME centroid set, so
  * [[graft.api.Graft.probeVectorIndex]] prunes `cluster=` directories
  * across all batches at once — probe cost stays per-bucket as the index
  * grows, and append cost is O(|batch|), never O(|index|).
  *
  * The centroid set is FIXED AT INDEX CREATION (the IVF analog of
  * [[EmbDedupStream]]'s persisted planes): the first batch trains it
  * ([[graft.api.Graft.trainIvfCentroids]], K = ⌈√|batch|⌉ by default)
  * and persists it beside the index; every later batch assigns against
  * the STORED centroids. Vectors do not move between buckets as data
  * arrives — exactly the reference's bounded-state principle
  * (ec:2104-2194: resume from saved state, never re-derive from
  * history). Production re-trains by building a fresh index directory
  * and swapping, never by mutating a live one.
  *
  * Exactly-once: each micro-batch OVERWRITES its own `batch=<id>`
  * directory, so foreachBatch retries and checkpoint replays rewrite the
  * same files instead of duplicating rows. */
object VectorIndexStream {

  private def centroidsPath(indexDir: String) = s"$indexDir/_graft_centroids"

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The index's fixed centroid table (cid, cv, cnorm), once created. */
  def readCentroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(centroidsPath(indexDir))

  /** Read the accumulated index (idCol, vecCol, …, cluster). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).drop("batch")

  private def codebookPath(indexDir: String) = s"$indexDir/_graft_pq_codebook"

  /** Row bound of the centroid table for its driver collect
    * ([[graft.operators.Materialize.local]]): K = `k` for an index
    * created with a fixed `k`, else ⌈√N⌉ for its creation corpus of N
    * vectors. N is not stored with the index, so with `k` = 0 the bound
    * admits any corpus of up to 2^32 vectors. */
  private def maxCentroids(k: Int): Int = if (k > 0) k else 1 << 16

  /** Per-STREAM cache of the frozen-vocabulary frames and their guard
    * metadata (r18 — guide §1.2 per-task work: the census showed the
    * gate re-resolving the IMMUTABLE centroid/codebook state every
    * batch — a parquet read construction, a `dim` head() job, and the
    * per-subspace validation collect, ×4 batches for state frozen at
    * creation). One instance per [[start]] call (dies with the stream —
    * never a cross-run memo); the standalone [[processBatch]] default
    * allocates a fresh one per call, preserving its per-call behavior.
    * Safe because vocabulary identity IS index identity: the cached
    * frames read underscore-hidden paths no fold or append ever
    * rewrites, so every batch of one stream run sees the same rows a
    * fresh read would.
    *
    * r19 (guide §3.1 — the r18 census's 35 broadcast-exchange jobs,
    * 5.35 s): caching the READ CONSTRUCTION was not enough — every
    * per-batch action that broadcast a vocabulary frame (the argmax's
    * folded centroid row, the residual join's `centsInt`, the PQ
    * encode's folded codebook) re-EXECUTED the frame's plan as fresh
    * jobs: parquet scan + fold agg + broadcast build, three times per
    * batch. The cache now holds each frame pre-folded and LOCALIZED
    * ([[graft.operators.Materialize.local]] — bounded rows collected
    * once per stream run, rebuilt as a LocalRelation), so per-batch
    * broadcasts build from driver memory with no scan or fold jobs at
    * all. Values are identical rows read from the same frozen files —
    * bit-identical assignments/codes, and still per-run state. */
  private[streaming] final class VocabCache {
    var cents: DataFrame = null
    var centsRow: DataFrame = null
    var centsInt: DataFrame = null
    var dim: Int = -1
    var cbkFolded: DataFrame = null
  }

  /** One micro-batch step — the foreachBatch body, callable directly for
    * batch-driven ingestion. Returns the batch's written rows.
    *
    * `pqM` > 0 additionally maintains the [[graft.api.Graft.writePqIndex]]
    * serving layout (r9): rows carry `norm` + `code0..pqM−1` residual PQ
    * codes, and the codebook is FROZEN AT INDEX CREATION exactly like the
    * centroids — the first batch derives it (its `pqK` lowest-id rows'
    * residual slices) and persists `_graft_pq_codebook`; every later
    * batch encodes against the STORED table, so a vector's codes never
    * depend on when it arrived. [[graft.api.Graft.probePqIndex]] then
    * serves ADC probes across all `batch=` directories at once. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
                   vecCol: String, indexDir: String, k: Int = 0,
                   iters: Int = 2, pqM: Int = 0, pqK: Int = 16,
                   vocab: VocabCache = new VocabCache): DataFrame = {
    val spark = batch.sparkSession
    // Centroid bootstrap: the first batch trains and persists the
    // codebook for the index's lifetime. Training is deterministic
    // (lowest-id seeds, unrolled Lloyd's), so a replay of the creating
    // batch rewrites identical centroids — idempotent.
    if (!exists(spark, centroidsPath(indexDir)))
      graft.api.Graft.trainIvfCentroids(batch, idCol, vecCol, k, iters)
        .write.mode("overwrite").parquet(centroidsPath(indexDir))
    if (vocab.cents == null) {
      // Resolved + LOCALIZED once per stream run (bounded: K = ⌈√N⌉
      // rows, [[maxCentroids]]; the folded row is one row): per-batch
      // broadcasts of these frames then build from driver memory — no
      // per-batch scan/fold/collect jobs (r19).
      vocab.cents = graft.operators.Materialize.local(
        readCentroids(spark, indexDir), maxCentroids(k))
      // The empty-vocabulary guard lives HERE, driver-side on the
      // already-collected rows (r19, ADVICE — an in-expression guard
      // measured as a real regression on the assignment queries): an
      // index created from an empty corpus must fail loudly, not
      // assign every later vector a NULL cluster.
      require(!vocab.cents.isEmpty,
        s"empty centroid table under ${centroidsPath(indexDir)} — the " +
          "index was created from an empty corpus; rebuild it from a " +
          "batch that carries vectors")
      vocab.centsRow = graft.operators.Materialize.local(
        graft.api.Graft.ivfCentsRow(spark, vocab.cents, "cid", "cv"), 1)
    }
    val cents = vocab.cents
    val assigned = graft.api.Graft
      .ivfAssignRow(batch, vecCol, vocab.centsRow)
    val out = if (pqM <= 0) assigned else {
      import graft.operators.PersistedVectorIndex
      // bounded driver metadata: the stored centroid width fixes dim —
      // resolved once per stream (frozen with the centroids)
      if (vocab.dim < 0)
        vocab.dim = cents.select(size(col("cv")).as("_n")).head().getInt(0)
      val dim = vocab.dim
      require(pqM > 0 && dim % pqM == 0,
        s"dim $dim must divide into pqM=$pqM subspaces")
      val sub = dim / pqM
      if (vocab.centsInt == null)
        vocab.centsInt = graft.operators.Materialize.local(
          cents.selectExpr("cid AS ccid",
            "transform(cv, x -> cast(round(cast(x AS double) * 1000000.0) AS bigint)) AS cq"),
          maxCentroids(k))
      val centsInt = vocab.centsInt
      val withRes = PersistedVectorIndex.withResiduals(
        assigned.withColumn("norm", expr(s"sqrt(dot_f32($vecCol, $vecCol))")),
        vecCol, centsInt)
      // codebook bootstrap: frozen at creation, same idempotence
      // argument as the centroids (deterministic from the first batch)
      if (!exists(spark, codebookPath(indexDir)))
        PersistedVectorIndex.codebookRows(withRes, idCol, pqM, sub, pqK)
          .coalesce(1).write.mode("overwrite").parquet(codebookPath(indexDir))
      if (vocab.cbkFolded == null) {
        // Localized once per stream run: the validation below already
        // pulled the row counts to the driver — the full rows (≤ pqM·pqK)
        // now come with them, so per-batch encode broadcasts build from
        // driver memory (r19).
        val cbkRows = graft.operators.Materialize.local(
          spark.read.parquet(codebookPath(indexDir)), pqM * pqK)
        // Fail fast on a degenerate codebook (bounded driver metadata:
        // ≤ pqM rows, checked once per stream — the codebook is frozen).
        // The seeds are the creating batch's id < pqK rows — if that
        // batch had none, every subspace is empty and
        // encodeWithCodebook's argmin over an empty filter would write
        // NULL code columns for every row: silent recall loss in later
        // ADC probes. Mirrors the raise_error guard in LlmQueries.pqTopK.
        val perSub = cbkRows.groupBy(col("s")).agg(count(lit(1)).as("n"))
          .collect()
        require(perSub.length == pqM && perSub.forall(_.getLong(1) > 0),
          s"codebook at ${codebookPath(indexDir)} covers ${perSub.length} " +
            s"of $pqM subspaces — the creating batch contained no rows " +
            s"with $idCol < $pqK, so PQ codes would encode as NULL; " +
            "rebuild the index from a batch that carries the seed ids")
        vocab.cbkFolded = graft.operators.Materialize.local(
          PersistedVectorIndex.foldCodebook(cbkRows), 1)
      }
      PersistedVectorIndex
        .encodeWithFoldedCodebook(withRes, vocab.cbkFolded, pqM, sub)
        .drop("vq", "r", "cq")
    }
    out.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$indexDir/batch=$batchId")
    out
  }

  /** Attach continuous index maintenance to a streaming Dataset of
    * vectors carrying `idCol` and an `Array[Float]` `vecCol`.
    *
    * `maintainEvery` > 0 declares the maintenance schedule once on the
    * builder (r18 auto-tick): every K-th micro-batch runs a bounded
    * [[graft.api.Graft.maintain]] tick over the `cluster=`-partitioned
    * posting runs inside foreachBatch, after the batch's append —
    * replay-safe because every tiered fold protects the newest
    * committed run (the current batch's own partial, exactly what a
    * replay overwrites), and a fold preserves the internal `cluster=`
    * scheme while never touching the underscore-hidden frozen
    * vocabularies beside the runs. 0 = off. */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            indexDir: String, checkpointDir: String, k: Int = 0,
            iters: Int = 2, pqM: Int = 0, pqK: Int = 16,
            maintainEvery: Int = 0,
            policy: graft.api.Graft.MaintenancePolicy =
              graft.api.Graft.MaintenancePolicy()): StreamingQuery = {
    // frozen-vocabulary frames + guards resolve ONCE per stream run
    val vocab = new VocabCache
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, idCol, vecCol, indexDir, k, iters, pqM, pqK,
          vocab): Unit
        if (maintainEvery > 0 && (id + 1) % maintainEvery == 0)
          graft.api.Graft.maintain(b.sparkSession,
            indexRoots = Seq(indexDir), policy = policy): Unit
      }
      .start()
  }

  /** Create the index: train and persist its vocabularies (IVF centroid
    * table, and for `pqM` > 0 the TRAINED residual codebook) from
    * `vectors` — the creation corpus a deployment pins the index to.
    * Vocabulary identity IS index identity (the
    * [[graft.operators.LlmQueries.derivePlanes]] discipline applied to
    * IVF/PQ): every later batch assigns and encodes against these
    * stored tables, never re-derives. The recipe is
    * [[graft.operators.PersistedVectorIndex]]'s build — K = ⌈√N⌉
    * lowest-id seeds through `iters` Lloyd's rounds, residual codebook
    * per-subspace k-means from the `pqK` lowest-id rows — so an index
    * created here and maintained by [[processBatch]] equals the batch
    * build row for row (suite-pinned; the creation-time corpus pass is
    * the one-off offline step, maintenance never repeats it). Without
    * this call the first streamed batch bootstraps the vocabularies
    * from itself — fine for a standalone stream, but a batch-built
    * index being handed to the stream must keep its own tables. */
  def createIndex(vectors: DataFrame, idCol: String, vecCol: String,
                  indexDir: String, k: Int = 0, iters: Int = 2,
                  pqM: Int = 0, pqK: Int = 16): Unit = {
    val spark = vectors.sparkSession
    graft.functions.DotF32.ensureRegistered(spark)
    graft.api.Graft.trainIvfCentroids(vectors, idCol, vecCol, k, iters)
      .coalesce(1).write.mode("overwrite").parquet(centroidsPath(indexDir))
    if (pqM > 0) {
      import graft.operators.PersistedVectorIndex
      val cents = readCentroids(spark, indexDir)
      val dim = cents.select(size(col("cv")).as("_n")).head().getInt(0)
      require(dim % pqM == 0,
        s"dim $dim must divide into pqM=$pqM subspaces")
      val sub = dim / pqM
      val assigned = graft.api.Graft
        .ivfAssign(vectors, idCol, vecCol, cents, "cid", "cv")
        .withColumn("norm", expr(s"sqrt(dot_f32($vecCol, $vecCol))"))
      val centsInt = cents.selectExpr("cid AS ccid",
        s"transform(cv, x -> cast(round(cast(x AS double) * 1000000.0) AS bigint)) AS cq")
      val withRes = PersistedVectorIndex.withResiduals(assigned, vecCol,
        centsInt)
      val cbk0 = PersistedVectorIndex.codebookRows(withRes, idCol, pqM,
        sub, pqK)
      PersistedVectorIndex.trainCodebook(withRes, cbk0, pqM, sub, iters)
        .coalesce(1).write.mode("overwrite").parquet(codebookPath(indexDir))
    }
  }

  /** Driver-checked (`s_ann_index`): create the index from the corpus
    * (trained centroids + trained residual codebook — exactly the
    * `q_ann_persisted` fixture's vocabularies), stream the corpus into
    * it in 4 deterministic micro-batches, and SERVE the same funnel the
    * batch-built index serves ([[graft.operators.LlmQueries.annServe]]) —
    * hash-checked against `q_ann_persisted`'s own trained-assignment
    * oracle (one string for both: the streamed index must equal the
    * batch build row for row, or the funnel's probed buckets diverge).
    * Batch order cannot matter: under stored vocabularies every row's
    * (cluster, codes) depend only on its own vector. */
  def sAnnIndex(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PersistedVectorIndex
    val root = new java.io.File(
      s"/tmp/graft_stream_ann/${d.replaceAll("[^A-Za-z0-9.]", "_")}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    // the q_ann_persisted build's exact source read
    val e = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val vecDir = new java.io.File(root, "vecs")
    Seq("checkpoint", "index")
      .foreach(n => rm(new java.io.File(root, n)))
    if (!new java.io.File(vecDir, "_GRAFT_VECS").exists()) {
      (0 until 4).foreach { b =>
        e.filter(expr(s"(vec_id div 4) % 4 = $b"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(vecDir, s"b$b").getAbsolutePath)
      }
      new java.io.File(vecDir, "_GRAFT_VECS").createNewFile(): Unit
    }
    val indexDir = new java.io.File(root, "index").getAbsolutePath
    createIndex(e, "vec_id", "embedding", indexDir,
      pqM = PersistedVectorIndex.M, pqK = PersistedVectorIndex.K)
    start(
      s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${vecDir.getAbsolutePath}/*"),
      "vec_id", "embedding", indexDir,
      new java.io.File(root, "checkpoint").getAbsolutePath,
      pqM = PersistedVectorIndex.M, pqK = PersistedVectorIndex.K)
      .awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r17):
    // the cluster=-partitioned runs fold into one (the `_graft_*`
    // vocabularies beside them are untouched); the serve funnel then
    // prunes the FOLDED run — the gate hash-checks that form.
    graft.api.Graft.maintain(s, indexRoots = Seq(indexDir),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    graft.operators.LlmQueries.annServe(readIndex(s, indexDir))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_ann_index" -> (sAnnIndex _))

  val oracle: Map[String, String] = Map(
    // stream ≡ batch build: the streamed index serves q_ann_persisted's
    // funnel against q_ann_persisted's own trained-assignment oracle —
    // one string for both forms.
    "s_ann_index" ->
      graft.operators.LlmQueries.oracle("q_ann_persisted"))
}
