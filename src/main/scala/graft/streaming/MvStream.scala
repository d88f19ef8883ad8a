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
  * Additive aggregates can't use [[CdcPipeline.mergeLatest]]'s
  * latest-wins idempotence: re-applying a batch DOUBLE-COUNTS, so a
  * foreachBatch retry must be detected, not absorbed. The discipline here
  * is per-bucket VERSIONED SNAPSHOTS:
  *
  *  - layout `mv/bucket=B/v=<batchId>/` — each version a complete
  *    snapshot of that bucket's keys, `_OK`-marked after its rename;
  *  - a batch merges each touched bucket's latest complete version with
  *    the batch's unit contributions ([[CdcQueries.mergeAggMv]] — the
  *    same monoid merge as the batch query) into `v=<batchId>`,
  *    write-then-rename like the [[CdcPipeline.mergeLatest]] swap;
  *  - a bucket that already has a complete version at or past this
  *    batchId is SKIPPED — a checkpoint replay or foreachBatch retry
  *    re-merges only the buckets the crash left behind, each from its
  *    own pre-crash version. Exactly-once per bucket, with no cross-
  *    bucket atomicity requirement.
  *
  * Scale: per batch the work is O(|batch| + state of touched buckets) —
  * untouched buckets are never read or rewritten, map-side partials fold
  * the batch before its one shuffle, and the only driver-side data is
  * bucket ids and version listings (≤ buckets × versions entries; GC
  * keeps one complete version per bucket). At 100 TB the bucket count
  * scales with key cardinality, never with log length.
  */
object MvStream {

  val DefaultBuckets = 8

  private def bucketOf(nb: Int) = pmod(hash(col("k")), lit(nb)).cast("int")

  /** Version ids present under `bucket=B`, with completeness. */
  private def versions(fs: org.apache.hadoop.fs.FileSystem,
      bucketDir: Path): Seq[(Long, Boolean)] =
    if (!fs.exists(bucketDir)) Seq.empty
    else fs.listStatus(bucketDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .map { st =>
        (st.getPath.getName.stripPrefix("v=").toLong,
          fs.exists(new Path(st.getPath, "_OK")))
      }

  private def latestComplete(fs: org.apache.hadoop.fs.FileSystem,
      bucketDir: Path): Option[Long] = {
    val vs = versions(fs, bucketDir).collect { case (v, true) => v }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Merge one micro-batch of unit contributions `(k, n_rows, sum_dec,
    * last_seq)` into the versioned MV. Idempotent per bucket (see object
    * doc); safe to call again with the same batchId after any crash. */
  def processBatch(units: DataFrame, batchId: Long, mvDir: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = units.sparkSession
    val fs = new Path(mvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = units.withColumn("bucket", bucketOf(numBuckets)).persist()
    try {
      // Bounded driver metadata: which buckets this batch touches (≤ nb).
      val touched = batch.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted
      // A bucket with a complete version at or past this batch already
      // absorbed it (replay after a partial crash); merge only the rest.
      val pending = touched.filter { b =>
        !latestComplete(fs, new Path(mvDir, s"bucket=$b"))
          .exists(_ >= batchId)
      }
      if (pending.isEmpty) return
      val prevPaths = pending.flatMap { b =>
        val bd = new Path(mvDir, s"bucket=$b")
        latestComplete(fs, bd).map(v => new Path(bd, s"v=$v").toString)
      }
      val unitCols = Seq("k", "n_rows", "sum_dec", "last_seq")
      val pendingUnits = batch
        .filter(col("bucket").isin(pending.toSeq: _*))
        .select(unitCols.map(col): _*)
      val prev =
        if (prevPaths.isEmpty) pendingUnits.limit(0)
        else spark.read.parquet(prevPaths.toSeq: _*).select(unitCols.map(col): _*)
      val merged = CdcQueries.mergeAggMv(prev, pendingUnits, Seq("k"),
          sumCols = Seq("n_rows", "sum_dec"), maxCols = Seq("last_seq"))
        // pin the decimal width so every version has one schema no matter
        // how many merge generations it has been through
        .withColumn("sum_dec", col("sum_dec").cast("decimal(38,2)"))
        .withColumn("bucket", bucketOf(numBuckets))
      val staging = new Path(mvDir, s".staging_v=$batchId")
      fs.delete(staging, true)
      merged.write.partitionBy("bucket").mode("overwrite")
        .parquet(staging.toString)
      pending.foreach { b =>
        val stag = new Path(staging, s"bucket=$b")
        val bucketDir = new Path(mvDir, s"bucket=$b")
        val dest = new Path(bucketDir, s"v=$batchId")
        fs.mkdirs(bucketDir)
        fs.delete(dest, true) // incomplete leftover from a crashed attempt
        if (fs.exists(stag)) {
          require(fs.rename(stag, dest), s"could not promote $stag")
        } else {
          // every pending bucket had units, but all its keys may have
          // aggregated into other buckets only when prev was empty —
          // cannot happen (bucket is a function of k); defensive:
          fs.mkdirs(dest)
        }
        // completeness marker AFTER the rename — a crash between the two
        // leaves an incomplete version the replay deletes and redoes
        fs.createNewFile(new Path(dest, "_OK"))
        // GC: one complete version per bucket is enough
        versions(fs, bucketDir).filter(_._1 < batchId).foreach { case (v, _) =>
          fs.delete(new Path(bucketDir, s"v=$v"), true)
        }
      }
      fs.delete(staging, true)
    } finally batch.unpersist()
  }

  /** The MV as its readers see it: each bucket's latest complete
    * snapshot. Listing cost is driver metadata bounded by bucket count
    * (GC keeps a single complete version per bucket). */
  def readMv(spark: SparkSession, mvDir: String): DataFrame = {
    val root = new Path(mvDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .flatMap { st =>
          latestComplete(fs, st.getPath)
            .map(v => new Path(st.getPath, s"v=$v").toString)
        }
    require(paths.nonEmpty, s"no complete MV snapshot under $mvDir")
    spark.read.parquet(paths: _*)
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
