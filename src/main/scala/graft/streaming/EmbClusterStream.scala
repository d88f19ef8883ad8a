package graft.streaming

import graft.operators.LlmQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING EMBEDDING-cluster labels (r14) — [[ClusterStream]]'s
  * continuous-label composition applied to the sign-sketch index: per
  * micro-batch, [[EmbDedupStream]]'s sketch-bucket pair discovery
  * (batch×index ∪ batch×batch on the sb-pruned index read — never
  * corpus×corpus) feeds the SAME [[LabelLog]] log-structured union-find,
  * so a vector-ingestion pipeline gets continuous semantic-dedup cluster
  * labels: after every batch the maintained label state IS
  * `q_emb_clusters` over everything ingested so far. This closes the
  * last cell of the index-maintenance matrix — text clusters had batch
  * increment + retract + stream; embedding clusters had batch increment
  * + retract; now both families carry all three verbs.
  *
  * PLANES ARE FIXED AT INDEX CREATION — the one piece of state that
  * distinguishes the embedding composition from the text one. Text
  * minhash bakes its hash family into the kernel, so label convergence
  * is batch-order-independent for free; sign sketches are only
  * comparable under one plane set, and a plane set derived from
  * "whichever batch arrived first" would make the PAIR SET depend on
  * stream scheduling. So the index is CREATED (planes persisted via
  * [[LlmQueries.derivePlanes]] — [[EmbDedupStream]]'s `_graft_planes`
  * convention) and then MAINTAINED: every batch sketches under the
  * stored planes, pair discovery under a fixed plane set is pairwise-
  * independent of any third vector, and closure commutativity then
  * makes converged labels batch-boundary-independent — the same
  * stream ≡ recompute-under-the-index's-planes contract as
  * `q_emb_cluster_increment`/`q_emb_cluster_retract`. The driver
  * fixture creates the index with the corpus's `nPlanes` lowest-id
  * vectors — exactly `q_emb_clusters`'s plane set — so the oracle is
  * that query's own full-recompute SQL, one string for both.
  *
  * Index-ALL policy, exactly-once, and the label-state design follow
  * [[ClusterStream]] verbatim (see its header and [[LabelLog]]'s):
  * every batch vector's sketch row enters the index (connectivity must
  * flow THROUGH near-duplicates; keep/drop is read from the labels,
  * not index membership), all four writes are `batch=<id>`-keyed
  * overwrites with every read excluding the current batch, and the
  * per-batch label cost is O(batch) — bucket-pruned endpoint lookup,
  * contracted closure, delta+alias appends; nothing corpus-sized is
  * ever rewritten. */
object EmbClusterStream {

  /** One micro-batch step — the foreachBatch body, callable directly
    * for the batch≡stream, replay, and compaction specs. The index must
    * already carry planes ([[createIndex]]) — bootstrapping them from
    * an arbitrary micro-batch would tie the pair set to stream
    * scheduling (header). */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, indexDir: String, pairsDir: String,
      labelsDir: String, threshold: Double): Unit = {
    val spark = batch.sparkSession
    require(EmbDedupStream.hasPlanes(spark, indexDir),
      s"no planes under $indexDir — create the index first (createIndex)")
    // One sketch pass over the batch (under the stored planes); probed
    // AND appended from this. nPlanes is only read on bootstrap, which
    // the require above forecloses. The sb/ib bucket sets ride the
    // sketch materialization and the endpoint lb set rides the pair
    // materialization (r19, guide §1.5 — no separate per-batch collect
    // actions).
    val nSb = EmbDedupStream.sbStoreCount(spark, indexDir)
    val nIb = BucketMeta.storeCount(spark, IdSidecar.root(indexDir),
      IdSidecar.Buckets)
    val nLb = LabelLog.storeBucketCount(spark, labelsDir)
    val (batchSk, skSets) = EmbDedupStream.sketchBatchWithSets(batch,
      idCol, vecCol, indexDir, nPlanes = 0,
      Seq(org.apache.spark.sql.functions.array(
        EmbDedupStream.sbBucketCol(nSb)),
        org.apache.spark.sql.functions.array(
          IdSidecar.bucket(col("vec_id"), nIb))))
    val (pairs, pairSets) = EmbDedupStream.discoverPairs(batchSk, indexDir,
      threshold, excludeBatch = batchId,
      sbPre = Some(nSb -> skSets.head),
      pairProbes = Seq(org.apache.spark.sql.functions.array(
        LabelLog.lbBucketCol(col("vec_a"), nLb),
        LabelLog.lbBucketCol(col("vec_b"), nLb))))
    // Disjoint-root actions overlap (r18, guide §2.6 — [[BatchPar]]):
    // `pairs` is materialized, so the pair write + label advance lane
    // (pairs + labels roots) and the index append lane (index + sidecar
    // roots) share nothing; ClusterStream.processBatch's shape.
    BatchPar.run(
      () => {
        pairs.select(col("vec_a"), col("vec_b"))
          .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        // Label advance: the shared O(batch) log-structured union-find.
        // The committed pair partial re-reads from parquet so the
        // closure scans files, not the probe plan a second time.
        LabelLog.advance(spark, labelsDir, batchId,
          graft.operators.Materialize(
            batch.select(col(idCol).as("id")).distinct()),
          spark.read.parquet(s"$pairsDir/batch=$batchId")
            .select(col("vec_a").as("e1"), col("vec_b").as("e2")),
          lbPre = Some(nLb -> pairSets.head))
      },
      // Index EVERY batch vector (index-ALL — labels need connectivity
      // through duplicates); first-write-wins, replay-safe.
      () => EmbDedupStream.appendIndex(batchSk, indexDir, batchId,
        exclude = batchSk.select(col("vec_id")).limit(0),
        ibPre = Some(nIb -> skSets(1))))
  }

  /** Create the index: fix its plane set (plane identity IS index
    * identity — [[LlmQueries.derivePlanes]]'s contract). `planeSource`
    * is whatever the deployment pins planes to — a seed sample, a
    * reference corpus; the driver fixture uses the corpus itself so the
    * oracle's plane set coincides. */
  def createIndex(planeSource: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nPlanes: Int): Unit =
    LlmQueries.derivePlanes(planeSource, idCol, vecCol, nPlanes)
      .write.mode("overwrite")
      .parquet(EmbDedupStream.planesPath(indexDir))

  /** Attach continuous embedding-cluster-label maintenance to a
    * streaming frame of vectors carrying `idCol` and an `Array[Float]`
    * `vecCol`. The index must already exist ([[createIndex]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, pairsDir: String, labelsDir: String,
      checkpointDir: String, threshold: Double,
      maintainEvery: Int = 0,
      policy: graft.api.Graft.MaintenancePolicy =
        graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    // the ClusterStream.start auto-tick (r17), same replay guards
    Maintainer.start(vectors, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(indexDir, pairsDir),
        labelDirs = Seq(labelsDir), policy = policy))(
      processBatch(_, _, idCol, vecCol, indexDir, pairsDir, labelsDir,
        threshold))

  /** The current labels, shaped like `q_emb_clusters`'s output:
    * (vec_id, component, cluster_size, keep) — [[LabelLog.serve]] under
    * this stream's vector id column. */
  def clusterLabels(s: SparkSession, labelsDir: String): DataFrame =
    LabelLog.serve(s, labelsDir, "vec_id")

  /** Fold the label log — [[LabelLog.compactState]]. Single-writer, run
    * quiesced. Returns the number of delta partials folded. */
  def compactState(s: SparkSession, labelsDir: String): Int =
    LabelLog.compactState(s, labelsDir)

  /** Size-tiered delta-log fold — [[LabelLog.compactStateTiered]]: the
    * bounded-barrier schedule (≤ `fanIn` runs per merge, each fold
    * applying the current alias closure and stamping its fold
    * high-water mark, then retiring every alias partial all surviving
    * runs post-date) — the incremental contraction, r16. Single-writer. */
  def compactStateTiered(s: SparkSession, labelsDir: String,
      fanIn: Int = 4,
      maxRunBytes: Long = Long.MaxValue): IndexCompaction.TieredStats =
    LabelLog.compactStateTiered(s, labelsDir, fanIn, maxRunBytes)

  /** [[ClusterStream.refreshState]] for the embedding label log: ≤
    * `maxRuns` single-run closure rewrites + alias retirement. Returns
    * (runs refreshed, alias partials retired). */
  def refreshState(s: SparkSession, labelsDir: String,
      maxRuns: Int = 1): (Int, Int) = {
    val refreshed = LabelLog.refreshState(s, labelsDir, maxRuns)
    (refreshed, LabelLog.retireAliases(s, labelsDir))
  }

  /** Driver-checked (`s_emb_cluster_labels`): create the index with the
    * corpus's 6 lowest-id vectors as planes (= `q_emb_clusters`'s plane
    * set, so recompute-under-the-index's-planes IS that query's
    * recompute), split the corpus into 4 deterministic micro-batches,
    * run the maintenance stream to completion, COMPACT the label log
    * (the gate also hash-checks the folded form), and return the labels
    * shaped as the cluster table — hash-checked against
    * `q_emb_clusters`'s full-recompute oracle (one string for both). */
  def sEmbClusterLabels(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_emb_clusters", d)
    StreamFixture.reset(root, "checkpoint", "index", "pairs", "labels")
    val vecs = graft.Tables.spread(s, graft.Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"))
    val indexDir = new java.io.File(root, "index").getAbsolutePath
    val labelsDir = new java.io.File(root, "labels").getAbsolutePath
    createIndex(vecs, "vec_id", "embedding", indexDir, nPlanes = 6)
    start(
      StreamFixture.fourBatches(vecs, "vec_id",
        new java.io.File(root, "vecs"), "_GRAFT_VECS"),
      "vec_id", "embedding",
      indexDir,
      new java.io.File(root, "pairs").getAbsolutePath,
      labelsDir,
      new java.io.File(root, "checkpoint").getAbsolutePath,
      threshold = 0.35)
      .awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r16)
    graft.api.Graft.maintain(s, labelDirs = Seq(labelsDir),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    clusterLabels(s, labelsDir).orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_emb_cluster_labels" -> (sEmbClusterLabels _))

  val oracle: Map[String, String] = Map(
    // stream ≡ recompute-under-the-index's-planes, and the fixture's
    // index planes ARE q_emb_clusters' plane set — so the oracle is
    // that query's own full-recompute SQL, one string for both.
    "s_emb_cluster_labels" ->
      graft.operators.DedupClusters.oracle("q_emb_clusters"))
}
