package graft.streaming

import graft.operators.RetrievalIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING ingest for the maintained inverted index (r13; r14 writes
  * the partition-pruned layout) — the continuous form of
  * `q_bm25_increment`, squaring the maintenance matrix for the retrieval
  * family (batch increment + streaming increment + takedown, like the
  * signature, sketch, ANN and ER states): document batches arrive as a
  * stream and each micro-batch tokenizes ONLY ITSELF
  * ([[RetrievalIndex.tokenize]], shared with the batch builder) and
  * appends three `batch=<id>` partials: postings (sub-partitioned
  * `tb=<crc32(token) mod B>` (B=16 here), the same token-bucket scheme the batch
  * state uses, carrying dl in the posting), doclens, and the batch's
  * 1-row (n_docs, total_dl) stats delta.
  *
  * Exactly-once: all three writes are keyed by the streaming batch id
  * and OVERWRITE (the [[DedupStream]] discipline) — a foreachBatch
  * replay rewrites the same partials, never double-counts a document,
  * and a double-counted document is exactly what BM25's derived globals
  * would amplify (n_docs and every df would inflate).
  *
  * Serving needs NO merge step and reads NO corpus-sized table: the
  * read path partition-prunes the postings partials to the query terms'
  * `tb=` buckets (across every `batch=` partial at once — one
  * discovery, PartitionFilters on tb), sums the 1-row stats partials
  * (|batches| rows, compactable), and scores through the one shared
  * tail ([[RetrievalIndex.serve]]) — so a query sees every
  * fully-ingested batch the moment its partials commit, at cost bounded
  * by its own postings lists. The additive-globals argument makes
  * stream ≡ recompute literal, and the driver hash-checks it against
  * `q_bm25_topk`'s full-corpus oracle. At 100 TB the partials compact
  * with [[IndexCompaction]], which detects and re-applies the `tb=`
  * sub-partitioning — a compacted index prunes identically. */
object Bm25Stream {

  /** One micro-batch step — the foreachBatch body, callable directly
    * for replay-idempotence specs. */
  def processBatch(batch: DataFrame, batchId: Long, postingsDir: String,
      doclensDir: String, statsDir: String): Unit = {
    val (postings, doclens) = RetrievalIndex.tokenize(batch)
    // The three `batch=` partials land on disjoint roots and derive
    // from the same tokenize plan (no cross-reads) — overlap them
    // (r18, guide §2.6 — [[BatchPar]]).
    BatchPar.run(
      // repartition(tb) first — one file per bucket per batch, not one
      // per (upstream task × bucket); see RetrievalIndex.writeState
      () => postings.repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$postingsDir/batch=$batchId"),
      () => doclens.write.mode("overwrite")
        .parquet(s"$doclensDir/batch=$batchId"),
      () => RetrievalIndex.statsOf(doclens).write.mode("overwrite")
        .parquet(s"$statsDir/batch=$batchId"))
  }

  /** Attach continuous indexing to a streaming frame of documents
    * (`doc_id`, `text`).
    *
    * `maintainEvery` > 0: the [[Maintainer.start]] auto-tick (r18) runs
    * [[graft.api.Graft.maintain]] over the three roots every K-th
    * micro-batch; folding is union-neutral here (postings/doclens are
    * append rows, the 1-row stats deltas are additive and re-summed at
    * serve). 0 = off (the caller owns the schedule). */
  def start(docs: DataFrame, postingsDir: String, doclensDir: String,
      statsDir: String, checkpointDir: String, maintainEvery: Int = 0,
      policy: graft.api.Graft.MaintenancePolicy =
        graft.api.Graft.MaintenancePolicy()): StreamingQuery =
    Maintainer.start(docs, checkpointDir, maintainEvery,
      tick = sp => graft.api.Graft.maintain(sp,
        indexRoots = Seq(postingsDir, doclensDir, statsDir),
        policy = policy))(
      processBatch(_, _, postingsDir, doclensDir, statsDir))

  /** The served query over the accumulated partials: tb-pruned postings
    * scan + the summed stats partials — doclens partials are never read
    * on the serve path (they feed future takedowns). */
  def serveFrom(s: SparkSession, postingsDir: String,
      statsDir: String): DataFrame = {
    val stats = s.read.parquet(statsDir)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
    RetrievalIndex.serve(
      RetrievalIndex.readPostings(s, postingsDir, RetrievalIndex.Terms)
        .drop("batch"),
      stats)
  }

  /** Driver-checked (`s_bm25_index`): split the corpus into 4
    * deterministic micro-batches (one parquet file each, streamed with
    * maxFilesPerTrigger=1), run the ingest to completion, and serve the
    * standard query from the accumulated state — hash-checked against
    * `q_bm25_topk`'s full-recompute oracle (stream ≡ recompute is the
    * declared contract). */
  def sBm25Index(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_bm25_v2", d)
    StreamFixture.reset(root, "checkpoint", "postings", "doclens", "stats")
    val docs = graft.Tables.spread(s, graft.Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val postingsDir = new java.io.File(root, "postings").getAbsolutePath
    val statsDir = new java.io.File(root, "stats").getAbsolutePath
    // The AUTO-TICK gate (r18 — the s_dedup_index schedule applied to
    // the retrieval family): the maintenance schedule is declared once
    // on the builder; every micro-batch runs a bounded maintain() tick
    // (fanIn=2 so folds actually fire at 4 batches), so the serve below
    // reads state that was folded MID-stream and the oracle hash-checks
    // the maintained layout end to end.
    start(
      StreamFixture.fourBatches(docs, "doc_id",
        new java.io.File(root, "docs"), "_GRAFT_DOCS"),
      postingsDir,
      new java.io.File(root, "doclens").getAbsolutePath,
      statsDir,
      new java.io.File(root, "checkpoint").getAbsolutePath,
      maintainEvery = 1,
      policy = graft.api.Graft.MaintenancePolicy(fanIn = 2))
      .awaitTermination()
    // quiesce-time contraction through the POLICY entry point (r17):
    // tb=-partitioned postings, flat doclens, and the 1-row stats
    // partials all fold (stats rows are additive — the fold preserves
    // them and the serve re-sums); the gate hash-checks the FOLDED
    // form's tb=-pruned serve.
    graft.api.Graft.maintain(s,
      indexRoots = Seq(postingsDir,
        new java.io.File(root, "doclens").getAbsolutePath, statsDir),
      policy = graft.api.Graft.MaintenancePolicy(contractNow = true)): Unit
    serveFrom(s, postingsDir, statsDir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_bm25_index" -> (sBm25Index _))

  val oracle: Map[String, String] = Map(
    // stream ≡ recompute: the SAME full-corpus oracle as q_bm25_topk
    // and q_bm25_increment — one string for all three forms.
    "s_bm25_index" -> graft.operators.LlmQueries.oracle("q_bm25_topk"))
}
