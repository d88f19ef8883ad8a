package graft.streaming

import graft.operators.{LlmQueries, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING text-dedup CLUSTER LABELS (r14) — the composition of the
  * two streaming maintenance verbs the library already owns: per
  * micro-batch, [[DedupStream]]'s pair discovery (probe the persisted
  * signature index with the batch — batch×corpus and batch×batch, never
  * corpus×corpus) feeds a contraction label advance over the O(batch)
  * contracted component graph, so a crawl pipeline gets CONTINUOUS
  * duplicate-cluster labels, not just a pair log: after every batch the
  * maintained label state IS `q_dup_clusters` over everything ingested
  * so far.
  *
  * Index-ALL policy — the one deliberate difference from
  * [[DedupStream]]: that stream's index append drops REJECTED batch
  * docs (its curation policy; rejected docs need no future recall
  * because they are already condemned by the pair log). LABELS need
  * full connectivity: a chain A~B, B~C with A≁C must merge A, B, C
  * into ONE cluster even though B is a duplicate — so every batch doc's
  * signature rows enter the index, and keep/drop is read from the
  * labels (`keep = id == component`), not from index membership. With
  * every doc indexed, a pair (a, b) is discovered exactly when the
  * later of the two arrives, under the same band-collision + exact-
  * Jaccard-verify arithmetic as the batch pipeline — the accumulated
  * pair set equals [[LlmQueries.minhashPairsUnordered]] over the full
  * corpus, and closure commutativity then makes the converged labels
  * equal the batch recompute REGARDLESS of batch boundaries, which is
  * what lets the driver hash-check the stream against
  * `q_dup_clusters`'s own full-recompute oracle (one string for both).
  *
  * LABEL STATE — [[LabelLog]], the log-structured union-find shared
  * with [[EmbClusterStream]]: O(batch) delta + alias partials per
  * batch, bucket-pruned endpoint lookups, pointer-doubling alias
  * closure, compaction folding inside [[IndexCompaction.compact]]'s
  * write-then-swap. Nothing corpus-sized is ever rewritten (see the
  * LabelLog header for the full design and its soundness argument).
  *
  * Exactly-once: all five writes (pairs, index bands, id sidecar,
  * alias, delta) are
  * `batch=<id>`-keyed OVERWRITEs, and every read excludes the current
  * batch id — a foreachBatch replay recomputes the same pair set from
  * the same predecessor state and rewrites its own partials verbatim,
  * never double-counts (spec-pinned, including replay ACROSS a
  * compaction). */
object ClusterStream {

  /** One micro-batch step — the foreachBatch body, callable directly
    * for the batch≡stream, chain, replay, and compaction specs. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexDir: String, pairsDir: String,
      labelsDir: String, threshold: Double): Unit = {
    val spark = batch.sparkSession
    graft.functions.TextHash.ensureRegistered(spark)
    // One text pass over the batch; probed AND appended from this. The
    // probe is [[DedupStream.probePairs]]: bb-pruned band collision +
    // ib-pruned sidecar verify — per-batch index reads never scan the
    // accumulated index (r14 verdict #1). PhaseClock.timed is the
    // profiler seam (no-op unless PhaseLabelGate installed a sink).
    // Kernel-spread + AQE-coalesced signature pass (r18, guide §2.5):
    // see [[LlmQueries.minhashMaterializedSpread]] — a one-file
    // micro-batch ran the shingle+minhash kernels on ONE core (census:
    // a ~1.1 s single-task job per batch at sf0.1).
    // The batch's band-bucket (bb) and sidecar id-bucket (ib) sets
    // accumulate off the SAME materializing job, and the verified
    // pairs' endpoint label-buckets (lb) off the probe's own verify
    // materialization (r19, guide §1.5 — each was a separate
    // distinct+collect action per batch whose job constant, not data,
    // was the cost).
    val nBb = BucketMeta.storeCount(spark, indexDir, DedupStream.BbBuckets)
    val nIb = BucketMeta.storeCount(spark, IdSidecar.root(indexDir),
      IdSidecar.Buckets)
    val nLb = LabelLog.storeBucketCount(spark, labelsDir)
    val (batchSigx, sigSets) = PhaseClock.timed(labelsDir, "sig_materialize") {
      LlmQueries.minhashMaterializedSpreadWithSets(batch, idCol, textCol,
        Seq(LlmQueries.bandBucketsCol(nBb),
          array(IdSidecar.bucket(col("doc_id"), nIb))))
    }
    val (pairs, pairSets) = PhaseClock.timed(labelsDir, "probe") {
      DedupStream.probePairsFused(spark, indexDir, idCol, batchSigx,
        threshold, batchId,
        bbPre = Some(nBb -> sigSets.head),
        pairProbes = Seq(array(LabelLog.lbBucketCol(col("doc_a"), nLb),
          LabelLog.lbBucketCol(col("doc_b"), nLb))))
    }
    // The batch tail's three state actions overlap where independent
    // (r18, guide §2.6 — see [[BatchPar]]): the pair write feeds the
    // label advance (it re-reads the committed partial, same lane,
    // pairs + labels roots), while the index append (index + sidecar
    // roots) shares nothing with either — `pairs` is materialized, so
    // no lane re-executes the index-reading probe plan. Phase seconds
    // still nest inside the gate wall, but concurrent phases can SUM
    // past it (the PhaseLabelGate residual may go negative — it now
    // measures overlap won, not scaffolding alone).
    BatchPar.run(
      () => {
        PhaseClock.timed(labelsDir, "pairs_write") {
          pairs.select(col("doc_a"), col("doc_b"))
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        }
        // Label advance: O(batch) log-structured union-find (LabelLog).
        // The committed pair partial re-reads from parquet so the
        // closure scans files, not the probe plan a second time.
        PhaseClock.timed(labelsDir, "label_advance") {
          LabelLog.advance(spark, labelsDir, batchId,
            Materialize(batch.select(col(idCol).as("id")).distinct()),
            spark.read.parquet(s"$pairsDir/batch=$batchId")
              .select(col("doc_a").as("e1"), col("doc_b").as("e2")),
            lbPre = Some(nLb -> pairSets.head))
        }
      },
      // Index EVERY batch doc (labels need full connectivity — see
      // header): exclude-nothing append. First-write-wins per id rides
      // the sidecar's bucket-pruned membership lookup, current batch id
      // excluded so a replay rewrites its own partial instead of
      // treating it as prior state.
      () => PhaseClock.timed(labelsDir, "index_append") {
        DedupStream.appendIndex(batchSigx, idCol, indexDir, batchId,
          exclude = batchSigx.select("doc_id").limit(0),
          ibPre = Some(nIb -> sigSets(1)))
      })
  }

  /** Attach continuous cluster-label maintenance to a streaming frame of
    * documents carrying `idCol` and `textCol`.
    *
    * `maintainEvery` > 0 declares the production maintenance schedule
    * ONCE on the builder (r17 — the auto-tick): every K-th micro-batch
    * runs a [[graft.api.Graft.maintain]] tick over this installation's
    * three roots, inside foreachBatch AFTER the batch's state writes.
    * Replay-safe by the verbs' own guards: every fold protects the
    * newest committed run (`keepNewest = 1` — at tick time that is the
    * current batch's just-written partial, exactly the one a replay
    * overwrites) and the label contraction stops at generation
    * newest − 1, so a crash between the tick and the checkpoint commit
    * replays the batch verbatim over the maintained layout
    * (spec-pinned). 0 = off (the caller owns the schedule). */
  def start(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, pairsDir: String, labelsDir: String,
      checkpointDir: String, threshold: Double,
      maintainEvery: Int = 0,
      policy: graft.api.Graft.MaintenancePolicy =
        graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    Maintainer.start(docs, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(indexDir, pairsDir),
        labelDirs = Seq(labelsDir), policy = policy))(
      processBatch(_, _, idCol, textCol, indexDir, pairsDir, labelsDir,
        threshold))

  /** The current labels, shaped like `q_dup_clusters`'s output:
    * (doc_id, component, cluster_size, keep) — [[LabelLog.serve]]'s
    * linear serving read under this stream's document id column. */
  def clusterLabels(s: SparkSession, labelsDir: String): DataFrame =
    LabelLog.serve(s, labelsDir, "doc_id")

  /** Fold the label log — [[LabelLog.compactState]]. Single-writer, run
    * quiesced. Returns the number of delta partials folded. */
  def compactState(s: SparkSession, labelsDir: String): Int =
    LabelLog.compactState(s, labelsDir)

  /** The replay-safe monolithic fold a between-batches maintain() tick
    * may run — [[LabelLog.compactStateSafe]] (newest−1 closure + hwm
    * stamps + alias retirement; see its scaladoc for why
    * [[compactState]] must not run mid-stream). */
  def compactStateSafe(s: SparkSession, labelsDir: String): Int =
    LabelLog.compactStateSafe(s, labelsDir)

  /** Size-tiered delta-log fold — [[LabelLog.compactStateTiered]]: the
    * bounded-barrier schedule (≤ `fanIn` runs per merge, each fold
    * applying the current alias closure and stamping its fold
    * high-water mark, then retiring every alias partial all surviving
    * runs post-date) — the incremental contraction, r16. Single-writer. */
  def compactStateTiered(s: SparkSession, labelsDir: String,
      fanIn: Int = 4,
      maxRunBytes: Long = Long.MaxValue): IndexCompaction.TieredStats =
    LabelLog.compactStateTiered(s, labelsDir, fanIn, maxRunBytes)

  /** The label log's alias partial count — [[graft.api.Graft.maintain]]
    * reads it as contraction pressure (merge-event generations, not
    * corpus rows). */
  def aliasPartials(s: SparkSession, labelsDir: String): Int =
    LabelLog.aliasPartialCount(s, labelsDir)

  /** Total delta-log bytes — the state-size signal of
    * [[graft.api.Graft.maintain]]'s monolithic-below-crossover branch
    * (driver FS walk, bounded by run count). */
  def stateBytes(s: SparkSession, labelsDir: String): Long =
    LabelLog.stateBytes(s, labelsDir)

  /** Committed delta run count — [[graft.api.Graft.maintain]]'s second
    * contraction-pressure signal: bounds the file-listing growth of a
    * merge-free workload that never trips alias pressure
    * ([[LabelLog.deltaRunCount]]). */
  def deltaRuns(s: SparkSession, labelsDir: String): Int =
    LabelLog.deltaRunCount(s, labelsDir)

  /** Advance the lowest fold high-water marks by rewriting ≤ `maxRuns`
    * single bounded runs with the current closure applied, then retire
    * newly unreferenced alias partials — [[LabelLog.refreshState]] +
    * [[LabelLog.retireAliases]], the long-cadence leg that clears the
    * alias log without [[compactState]]'s fold-everything barrier.
    * Returns (runs refreshed, alias partials retired). */
  def refreshState(s: SparkSession, labelsDir: String,
      maxRuns: Int = 1): (Int, Int) = {
    val refreshed = LabelLog.refreshState(s, labelsDir, maxRuns)
    (refreshed, LabelLog.retireAliases(s, labelsDir))
  }

  /** Driver-checked (`s_cluster_labels`): split the corpus into 4
    * deterministic micro-batches (one parquet file each, streamed with
    * maxFilesPerTrigger=1), run the maintenance stream to completion,
    * COMPACT the label log (so the gate also hash-checks the folded
    * form), and return the labels shaped as the cluster table —
    * hash-checked against `q_dup_clusters`'s full-recompute oracle
    * (stream ≡ recompute is the declared contract, and the oracle is
    * the SAME string). */
  /** The `s_cluster_labels` gate's label root for source dir `d` — the
    * fixture path [[sClusterLabels]] uses, exposed so
    * [[PhaseLabelGate]] can name it as its [[PhaseClock]] scope. */
  private[streaming] def gateLabelsDir(d: String): String =
    new java.io.File(StreamFixture.root("graft_stream_clusters", d),
      "labels").getAbsolutePath

  def sClusterLabels(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_clusters", d)
    StreamFixture.reset(root, "checkpoint", "index", "pairs", "labels")
    val docs = graft.Tables.spread(s, graft.Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val labelsDir = new java.io.File(root, "labels").getAbsolutePath
    start(
      StreamFixture.fourBatches(docs, "doc_id",
        new java.io.File(root, "docs"), "_GRAFT_DOCS"),
      "doc_id", "text",
      new java.io.File(root, "index").getAbsolutePath,
      new java.io.File(root, "pairs").getAbsolutePath,
      labelsDir,
      new java.io.File(root, "checkpoint").getAbsolutePath,
      LlmQueries.JaccardThreshold)
      .awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r16 —
    // the gates drive the same path an installation's scheduler does)
    PhaseClock.timed(labelsDir, "contraction") {
      graft.api.Graft.maintain(s, labelDirs = Seq(labelsDir),
        policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    }
    clusterLabels(s, labelsDir).orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_cluster_labels" -> (sClusterLabels _))

  val oracle: Map[String, String] = Map(
    // stream ≡ recompute: the SAME full-corpus oracle as q_dup_clusters
    // and q_cluster_increment — one string for all three forms.
    "s_cluster_labels" -> graft.operators.DedupClusters.oracle("q_dup_clusters"))
}
