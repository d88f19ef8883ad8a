package graft.streaming

import graft.operators.CdcQueries
import graft.sources.CdcChunkSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental materialized-view maintenance (`s_mv_delta`): the
  * streaming twin of `q_mv_delta` — a per-key count/sum/high-water
  * aggregate kept current BY the change stream, so downstream reads get a
  * refreshed MV without ever recomputing history (the reference's
  * savepoint principle — resume from saved state, not from the log,
  * ec:2104-2194 — applied to an aggregate instead of a row image).
  *
  * The store is the maintainers' layout: one `batch=<batchId>` run of
  * per-`k` partials per micro-batch, committed by its `_SUCCESS` marker,
  * and [[IndexCompaction.compactTiered]] as the only code that folds or
  * swaps runs. The fold and the read apply one kernel,
  * [[CdcQueries.mergeAggMv]] — the same monoid merge as the batch query.
  * It is not row-local, but count, sum and max are associative and
  * commutative, so a fold of any subset of runs commutes with the union
  * the read aggregates.
  *
  * Additive aggregates can't use [[CdcPipeline.mergeLatest]]'s
  * latest-wins idempotence: re-applying a batch DOUBLE-COUNTS. So a run is
  * keyed by its stream batch id and written with overwrite — a checkpoint
  * replay or foreachBatch retry replaces its own run instead of adding a
  * second — and the folds keep the newest run out of reach
  * (`keepNewest = 1`), since it is the one a replay may still rewrite. A
  * crashed write leaves a run without `_SUCCESS`, which reads and folds
  * never see and the replay overwrites.
  *
  * Scale: per batch the work is O(|batch|) plus folds of at most `fanIn`
  * similar-sized runs; map-side partials fold the batch before its one
  * shuffle. The run count stays logarithmic in the state size, and the
  * state is bounded by key cardinality, never by log length.
  */
object MvStream {

  /** The MV kernel over any set of per-`k` rows, with `sum_dec` pinned
    * to one decimal width so every run has one schema no matter how many
    * folds it has been through. */
  private def merged(rows: DataFrame): DataFrame =
    CdcQueries.mergeAggMv(rows, rows.limit(0), Seq("k"),
        sumCols = Seq("n_rows", "sum_dec"), maxCols = Seq("last_seq"))
      .withColumn("sum_dec", col("sum_dec").cast("decimal(38,2)"))

  /** Merge one micro-batch of unit contributions `(k, n_rows, sum_dec,
    * last_seq)` into the MV: its per-`k` partials overwrite run
    * `batch=<batchId>`, then a tiered fold runs. Safe to call again with
    * the same batchId after any crash (see object doc). */
  def processBatch(units: DataFrame, batchId: Long, mvDir: String): Unit = {
    merged(units).write.mode("overwrite")
      .parquet(new Path(mvDir, s"batch=$batchId").toString)
    IndexCompaction.compactTiered(units.sparkSession, mvDir, keepNewest = 1,
      transform = merged): Unit
  }

  /** The MV as its readers see it: the kernel over the committed runs. */
  def readMv(spark: SparkSession, mvDir: String): DataFrame = {
    val root = new Path(mvDir)
    val runs = IndexCompaction.committedDirs(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    require(runs.nonEmpty, s"no committed MV run under $mvDir")
    merged(spark.read.option("basePath", mvDir)
      .parquet(runs.map(r => new Path(root, r).toString): _*).drop("batch"))
  }

  /** Maintain the MV from the CDC chunk stream: INSERT/UPDAFT images map
    * to unit contributions (1, v, seq) exactly as the batch query's delta
    * rows, then [[processBatch]] merges each micro-batch. */
  def maintain(spark: SparkSession, chunkDir: String, checkpointDir: String,
      mvDir: String, maxFilesPerTrigger: Int = 3): StreamingQuery =
    Maintainer.start(
      CdcChunkSource.stream(spark, chunkDir, maxFilesPerTrigger)
        .filter(col("recordType").isin("CDC_REC_INSERT", "CDC_REC_UPDAFT"))
        .select(col("key").as("k"),
          lit(1L).as("n_rows"),
          col("v").cast("decimal(18,2)").as("sum_dec"),
          col("seq").as("last_seq")),
      checkpointDir)(processBatch(_, _, mvDir))

  /** Driver-checked: maintain the MV over the recorded fixture stream,
    * then read it. The oracle is the full recompute over `events` — the
    * IVM invariant, streaming edition. */
  def sMvDelta(s: SparkSession, d: String): DataFrame = {
    val root = StreamFixture.root("graft_stream_mv", d)
    StreamFixture.reset(root, "checkpoint", "mv")
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, d, chunkDir.getAbsolutePath,
      ordered = true)
    val ck = new java.io.File(root, "checkpoint").getAbsolutePath
    val mv = new java.io.File(root, "mv").getAbsolutePath
    maintain(s, chunkDir.getAbsolutePath, ck, mv).awaitTermination()
    readMv(s, mv)
      .select(col("k"), col("n_rows"),
        col("sum_dec").cast("double").as("sum_value"), col("last_seq"))
      .orderBy(col("k"))
  }
}
