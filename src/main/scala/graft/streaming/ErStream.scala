package graft.streaming

import graft.operators.FuzzyJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING entity-resolution maintenance (r13) — the continuous form of
  * `q_er_increment`: mention batches arrive as a stream, and each
  * micro-batch (1) blocks + verifies ONLY its own mentions against the
  * catalog (`editJoin1` — the corpus-sized blocking join never re-runs),
  * (2) appends the verified links as a `batch=<id>` partial, and
  * (3) advances the entity-component label snapshot by CONTRACTION
  * ([[FuzzyJoin.closeWithNewEdges]], shared with the batch increment):
  * new edges map to their endpoints' current components, the closure
  * runs over the O(batch) contracted component graph, and only touched
  * components relabel — cost independent of history length.
  *
  * Exactly-once: both writes are keyed by the streaming batch id and
  * OVERWRITE (the [[DedupStream]] discipline), and the label step reads
  * its predecessor as the LARGEST snapshot id < current — so a
  * foreachBatch replay recomputes from the same predecessor and
  * rewrites, never double-counts. Batch ORDER doesn't matter for the
  * final state: connectivity closure is associative/commutative over
  * edge arrival, so the converged labels equal the batch pipeline's
  * regardless of how mentions were split into micro-batches — which is
  * what lets the driver hash-check the stream against the one
  * full-recompute oracle.
  *
  * 100 TB shape: per-batch cost = blocking O(batch) + two linear scans
  * of the label snapshot (the contraction joins) + CC over the O(batch)
  * contracted graph; the link log grows by matches only. Label
  * snapshots are entity-sized; bounded retention is the shared
  * [[IndexCompaction.retainSnapshots]] verb ([[compactLabels]]). */
object ErStream {

  /** Largest committed label-snapshot id strictly below `batchId` —
    * driver-side directory listing through the Hadoop FileSystem API
    * (the [[IndexCompaction]] pattern: works against any FS the
    * snapshots live on, not just `file://`), bounded by #batches. */
  private[streaming] def prevSnapshot(s: SparkSession, labelsDir: String,
      batchId: Long): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(labelsDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ < batchId)
      .sorted.lastOption
  }

  /** One micro-batch step — the foreachBatch body, callable directly for
    * the batch≡stream specs.
    *
    * `seededThisRun` (r19, guide §2.4 — internal, default false): set by
    * [[start]] for every batch AFTER the first one processed in the
    * current stream run. Within one run the catalog frame is fixed and
    * every snapshot the run writes covers exactly the catalog's ids
    * (the first batch seeds singletons from the catalog;
    * `closeWithNewEdges` preserves the id set) — so the seed left-join
    * is the identity for later batches and the predecessor snapshot is
    * read as the seed table directly, one join fewer per batch. The
    * FIRST batch of every run — including a replay or a restart against
    * state a previous run wrote, where the catalog may have grown —
    * always runs the full [[graft.operators.ConnectedComponents
    * .seedLabels]], so catalog growth across restarts keeps entering as
    * singletons exactly as before. */
  def processBatch(mentions: DataFrame, batchId: Long, catalog: DataFrame,
      pairsDir: String, labelsDir: String,
      seededThisRun: Boolean = false): Unit = {
    val t0 = System.nanoTime()
    val s = mentions.sparkSession
    def traced[T](tag: String)(body: => T): T =
      if (!sys.env.contains("GRAFT_TRACE")) body
      else {
        val p0 = System.nanoTime()
        val r = body
        System.err.println(f"[er_stream] batch $batchId $tag " +
          f"${(System.nanoTime() - p0) / 1e9}%.2f s")
        r
      }
    // Materialized ONCE (r19, guide §2.6): the blocking chain runs a
    // single time and BOTH consumers — the pair-log write and the label
    // advance — read the checkpointed rows. The pre-r19 form serialized
    // them through parquet (write, then re-read the committed partial),
    // which made the advance DEPEND on the write; off the materialized
    // frame the two touch disjoint roots (pairs vs labels) and overlap
    // as [[BatchPar]] lanes, the discipline every other maintenance
    // stream already runs. Same rows either way — the write persists
    // exactly the frame the projection reads.
    val newPairs = traced("block_verify") {
      graft.operators.Materialize(
        FuzzyJoin.editJoin1(catalog, "entity_id", "ename",
          mentions, "mention_id", "mname"))
    }
    // Replay safety is unchanged: both writes are `batch=<id>`-keyed
    // OVERWRITEs on roots the other lane never touches, and the label
    // lane's reads (prev snapshot < batchId, the static catalog) are
    // independent of the pair lane's output.
    BatchPar.run(
      () => traced("pairs_write") {
        newPairs.write.mode("overwrite")
          .parquet(s"$pairsDir/batch=$batchId")
      },
      () => traced("label_advance") {
        val newEdges = FuzzyJoin.entityProjection(newPairs)
        // Advance the snapshot by CONTRACTION
        // (FuzzyJoin.closeWithNewEdges): the per-batch closure runs over
        // the O(batch) contracted component graph, never the
        // entity-sized star graph. Batch 0 (or a catalog that grew since
        // `prev`) starts from singleton labels via the left-join seed.
        val prevOpt = prevSnapshot(s, labelsDir, batchId)
        val prevLabels = prevOpt match {
          case Some(prev) => s.read.parquet(s"$labelsDir/batch=$prev")
          case None => catalog.select(col("entity_id").as("id"),
            col("entity_id").as("comp")).limit(0)
        }
        val seeded =
          if (seededThisRun && prevOpt.isDefined)
            prevLabels.select(col("id"), col("comp"))
          else graft.operators.ConnectedComponents.seedLabels(
            catalog.select(col("entity_id")), prevLabels)
        val closed = traced("close") {
          FuzzyJoin.closeWithNewEdges(seeded, newEdges)
        }
        traced("snapshot_write") {
          closed.write.mode("overwrite").parquet(s"$labelsDir/batch=$batchId")
        }
      })
    if (sys.env.contains("GRAFT_TRACE"))
      System.err.println(
        f"[er_stream] batch $batchId ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Label-snapshot compaction — the retain-latest verb the snapshot
    * layout needs (the pairs log under `pairsDir` is append-only
    * `batch=` partials and compacts with [[IndexCompaction.compact]]'s
    * union semantics; label SNAPSHOTS are read max-only, so compaction
    * here is deletion, not consolidation). Delegates to the shared
    * [[IndexCompaction.retainSnapshots]] lifecycle verb (r14 — all five
    * maintained states now compact through the one object, with its
    * marker-first crash discipline). Keeps the newest TWO committed
    * snapshots: the newest serves reads, and the one below it serves a
    * foreachBatch REPLAY of the newest batch (crash after the label
    * write, before the checkpoint commit — `processBatch` re-reads the
    * largest snapshot BELOW its id). Run between stream runs
    * (quiesced), like every compaction here. Returns the number of
    * snapshot dirs removed. */
  def compactLabels(s: SparkSession, labelsDir: String): Int =
    IndexCompaction.retainSnapshots(s, labelsDir, keep = 2)

  /** Attach continuous resolution to a streaming frame of mentions
    * (`mention_id`, `mname`) against a static catalog
    * (`entity_id`, `ename`).
    *
    * The catalog frame must not change during one stream run: it is
    * fixed for the run's lifetime, and every batch after the run's
    * first reads its predecessor snapshot directly as the seed table,
    * which is correct only while the catalog's id set is the one the
    * run's first batch seeded ([[processBatch]]'s `seededThisRun`).
    * A catalog that grows between runs is fine — each run's first
    * batch re-seeds from it. Pass a materialized frame
    * ([[graft.operators.Materialize]]) so every batch reads the same
    * rows.
    *
    * `maintainEvery` > 0 declares the maintenance schedule once on the
    * builder (r18 auto-tick): every K-th micro-batch runs a bounded
    * [[graft.api.Graft.maintain]] tick — the link log tiered-folds and
    * the entity-sized label snapshots prune to the policy's retention
    * count — inside foreachBatch, after the batch's writes.
    * Replay-safe: folds protect the newest committed run, and the
    * snapshot retention must keep ≥ 2 generations
    * (`policy.snapshotKeep`, default 2): a replay of the newest batch
    * re-reads its PREDECESSOR snapshot, which keep-2 always retains. */
  def start(mentions: DataFrame, catalog: DataFrame, pairsDir: String,
      labelsDir: String, checkpointDir: String, maintainEvery: Int = 0,
      policy: graft.api.Graft.MaintenancePolicy =
        graft.api.Graft.MaintenancePolicy()): StreamingQuery = {
    require(maintainEvery <= 0 || policy.snapshotKeep >= 2,
      "a mid-stream tick must retain at least 2 label snapshots — a " +
        "replay of the newest batch re-reads its predecessor snapshot")
    // True once this RUN has processed a batch — the seed fast path's
    // guard (see processBatch): later batches of the run read their
    // predecessor snapshot as the seed table directly.
    val seededThisRun = new java.util.concurrent.atomic.AtomicBoolean(false)
    Maintainer.start(mentions, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(pairsDir),
        snapshotRoots = Seq(labelsDir), policy = policy)) { (b, id) =>
      processBatch(b, id, catalog, pairsDir, labelsDir,
        seededThisRun.getAndSet(true))
    }
  }

  /** Current resolved assignments: the latest label snapshot + the full
    * link log through [[FuzzyJoin.resolveTail]] — identical output shape
    * (and, by closure-commutativity, identical CONTENT) to the batch
    * pipeline. */
  def resolved(s: SparkSession, catalog: DataFrame, pairsDir: String,
      labelsDir: String): DataFrame = {
    val last = prevSnapshot(s, labelsDir, Long.MaxValue).getOrElse(
      throw new IllegalStateException(s"no label snapshot under $labelsDir"))
    FuzzyJoin.resolveTail(s.read.parquet(pairsDir).drop("batch"),
      s.read.parquet(s"$labelsDir/batch=$last"))
  }

  /** Driver-checked (`s_er_increment`): split the ER fixture's mentions
    * into 4 deterministic micro-batches (one parquet file each, streamed
    * with maxFilesPerTrigger=1), run the maintenance stream to
    * completion, and return the resolved assignment table — hash-checked
    * against the SAME full-recompute SQL as `q_er_pipeline` /
    * `q_er_increment` (stream ≡ increment ≡ recompute, one oracle
    * string for all three). */
  def sErIncrement(s: SparkSession, d: String): DataFrame = {
    def trace[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      if (sys.env.contains("GRAFT_TRACE"))
        System.err.println(f"[er_stream] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val root = StreamFixture.root("graft_stream_er", d)
    StreamFixture.reset(root, "checkpoint", "pairs", "labels")
    val (catalog0, mentions) = FuzzyJoin.erFixture(s, d)
    // Materialized once, served to all micro-batches — the catalog
    // groupBy must not re-run per batch.
    val catalog = graft.operators.Materialize(catalog0)
    val batches = trace("fixture") {
      StreamFixture.fourBatches(mentions, "mention_id",
        new java.io.File(root, "mentions"), "_GRAFT_MENTIONS")
    }
    trace("stream") {
      start(batches, catalog,
        new java.io.File(root, "pairs").getAbsolutePath,
        new java.io.File(root, "labels").getAbsolutePath,
        new java.io.File(root, "checkpoint").getAbsolutePath)
        .awaitTermination()
    }
    // quiesce-time contraction through the POLICY entry point (r17):
    // the link log folds into one run and the entity-sized label
    // snapshots prune to the retention pair ([[compactLabels]]'s
    // keep-2, now policy-driven); the gate resolves from the
    // MAINTAINED state.
    graft.api.Graft.maintain(s,
      indexRoots = Seq(new java.io.File(root, "pairs").getAbsolutePath),
      snapshotRoots = Seq(new java.io.File(root, "labels").getAbsolutePath),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    resolved(s, catalog,
      new java.io.File(root, "pairs").getAbsolutePath,
      new java.io.File(root, "labels").getAbsolutePath)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_er_increment" -> (sErIncrement _))

  val oracle: Map[String, String] = Map(
    "s_er_increment" -> FuzzyJoin.erRecomputeOracle)
}
