package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-replay and exactly-once-restart tests for `s_cdc_pipeline`
  * (SURVEY §5: the record/replay strategy, Spark-native).
  *
  * Golden replay: the streamed materialization must equal the batch
  * latest-per-key computation over the same (committed) changes — the same
  * assertion the reference's replay mode makes by decoding a recorded
  * stream and comparing observed dicts.
  *
  * Restart: killing the query mid-stream and resuming from the checkpoint
  * must produce the identical table — the ec:2172-2194 savepoint semantics
  * (resume from min open txn; re-delivered records change nothing because
  * the sink merge is idempotent).
  */
object CdcPipelineSuite {

  /** The fixture mapping recomputed relationally (the DuckDB oracle's
    * Spark twin): committed txns only, latest image per key. */
  def expected(sf: String): DataFrame = {
    val s = TestSpark.spark
    val ev = Tables.events(s, sf)
      .select(col("event_id"), col("user_id"), col("value").as("v"),
        col("event_type").as("etype"),
        (col("event_id") / 20).cast("int").as("txid"))
      .filter(col("txid") % 13 =!= 5)
    ev.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id").as("k"), (col("event_id") * 4 + 2).as("last_seq"),
        col("v"),
        when(col("etype") === "purchase", col("v") - 1.0).as("old_v"),
        col("etype"))
      .orderBy(col("k"))
  }
}

class CdcPipelineSuite extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private def expected(): DataFrame = CdcPipelineSuite.expected(sf)

  private def materialized(out: String) =
    CdcPipeline.readMaterialized(TestSpark.spark, out)
      .select(col("k"), col("last_seq"), col("v"), col("old_v"), col("etype"))
      .orderBy(col("k")).collect().toSeq

  private def freshDirs(tag: String): (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"cdc_$tag").toFile
    (new java.io.File(root, "chunks").getAbsolutePath,
      new java.io.File(root, "ckpt").getAbsolutePath,
      new java.io.File(root, "out").getAbsolutePath)
  }

  test("golden replay: streamed materialization equals batch latest-per-key") {
    val s = TestSpark.spark
    val result = CdcPipeline.sCdcPipeline(s, sf).collect().toSeq
    val want = expected().collect().toSeq
    assert(result.nonEmpty)
    assert(result == want)
  }

  test("exactly-once across kill-and-restart: resumed run equals single run") {
    val s = TestSpark.spark
    val (chunks, ckpt, out) = freshDirs("restart")
    val staged = new java.io.File(chunks + ".all")
    CdcPipeline.recordFixture(s, sf, staged.getAbsolutePath)
    val all = staged.listFiles().filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    assert(all.length == 8)

    // Phase 1: only the first half of the stream exists; run to completion
    // (the "kill" — the query stops with transactions still open in state).
    val live = new java.io.File(chunks)
    live.mkdirs()
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      val dst = new java.io.File(live, f.getName)
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(f.lastModified())
    }
    copyIn(all.take(4))
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()

    // Phase 2: the rest of the stream arrives; resume from the checkpoint.
    copyIn(all.drop(4))
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()
    val resumed = materialized(out)

    // Reference: a single uninterrupted run over the full fixture, and the
    // events-derived mapping.
    val single = new java.io.File(chunks + ".single").getAbsolutePath
    CdcPipeline.startV2(s, staged.getAbsolutePath, ckpt + ".single", single)
      .awaitTermination()
    assert(resumed == materialized(single))
    assert(resumed == expected().collect().toSeq)

    // Phase 3: replay with no new data is a no-op (idempotent sink).
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()
    assert(materialized(out) == resumed)
  }

  private def changes(rows: (Long, Long, Double, String)*): DataFrame = {
    val s = TestSpark.spark
    import s.implicits._
    rows.map { case (k, seq, v, e) => (k, seq, v, Option.empty[Double], e) }
      .toDF("k", "last_seq", "v", "old_v", "etype")
  }

  private def truncateAt(seq: Long): DataFrame = {
    val s = TestSpark.spark
    import s.implicits._
    Seq((CdcPipeline.TruncateKey, seq, 0.0, Option.empty[Double], "", "truncate"))
      .toDF("k", "last_seq", "v", "old_v", "etype", "op")
  }

  private def visible(out: String): Seq[(Long, Long)] =
    CdcPipeline.readMaterialized(TestSpark.spark, out).orderBy("k")
      .select("k", "last_seq").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def runs(out: String): Seq[String] =
    Option(new java.io.File(out).list()).toSeq.flatten
      .filter(_.startsWith("batch=")).sorted

  private def freshTable(tag: String): String =
    new java.io.File(java.nio.file.Files.createTempDirectory(tag).toFile, "mat")
      .getAbsolutePath

  test("a crashed run is invisible to every reader; the next merge gives " +
      "the crash-free result") {
    val s = TestSpark.spark
    val out = freshTable("cdc_crash")
    CdcPipeline.mergeLatest(changes((1L, 10L, 1.0, "a"), (2L, 11L, 2.0, "b")), out)

    // A crashed write: a batch= dir with garbage bytes and no _SUCCESS.
    val crashed = new java.io.File(out, "batch=1")
    crashed.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(crashed, "part-00000.snappy.parquet").toPath,
      "garbage".getBytes("UTF-8"))
    assert(visible(out) == Seq((1L, 10L), (2L, 11L)))
    assert(CdcPipeline.lastCommittedSeq(s, out) == 11L)

    CdcPipeline.mergeLatest(changes((2L, 12L, 2.5, "b2")), out)
    assert(!new java.io.File(crashed, "part-00000.snappy.parquet").exists(),
      "the next merge did not delete the crashed run")
    val twin = freshTable("cdc_crash_twin")
    CdcPipeline.mergeLatest(changes((1L, 10L, 1.0, "a"), (2L, 11L, 2.0, "b")), twin)
    CdcPipeline.mergeLatest(changes((2L, 12L, 2.5, "b2")), twin)
    assert(visible(out) == visible(twin))
    assert(visible(out) == Seq((1L, 10L), (2L, 12L)))
    assert(CdcPipeline.lastCommittedSeq(s, out) == 12L)
  }

  test("a fold crashed after its manifest rolls forward on the next merge") {
    val s = TestSpark.spark
    val out = freshTable("cdc_foldcrash")
    val twin = freshTable("cdc_foldcrash_twin")
    val batches = Seq(
      changes((1L, 10L, 1.0, "a"), (2L, 11L, 2.0, "b")),
      changes((2L, 12L, 2.5, "b2")),
      truncateAt(10L),
      changes((3L, 20L, 3.0, "c")))
    batches.take(3).foreach(CdcPipeline.mergeLatest(_, out))
    batches.foreach(CdcPipeline.mergeLatest(_, twin))
    assert(runs(out) == Seq("batch=0", "batch=1", "batch=2"))

    // The state a crash after the manifest commit leaves: the folded rows
    // staged, the manifest naming the three runs, one of them already
    // moved into the backup.
    val root = new Path(out)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    CdcPipeline.latestPerKey(s.read.option("basePath", out)
        .parquet(runs(out).map(r => s"$out/$r"): _*).drop("batch"))
      .write.parquet(s"$out/_graft_compact_tmp")
    val m = f.create(new Path(root, "_graft_compact_manifest"), true)
    m.write("-1\nbatch=0\nbatch=1\nbatch=2".getBytes("UTF-8")); m.close()
    f.mkdirs(new Path(root, "_graft_compact_backup"))
    assert(f.rename(new Path(root, "batch=0"),
      new Path(root, "_graft_compact_backup/batch=0")))

    CdcPipeline.mergeLatest(batches(3), out)
    Seq("_graft_compact_manifest", "_graft_compact_backup", "_graft_compact_tmp")
      .foreach(n => assert(!f.exists(new Path(root, n)), s"$n survived recovery"))
    assert(runs(out) == Seq("batch=-1", "batch=0"))
    assert(visible(out) == visible(twin))
    assert(visible(out) == Seq((2L, 12L), (3L, 20L)))
    assert(CdcPipeline.lastCommittedSeq(s, out) == 20L)
  }

  test("the sink refuses a root that holds anything but batch= runs") {
    val s = TestSpark.spark
    import s.implicits._
    // Root-level part files: the pre-bucketing layout.
    val flat = freshTable("cdc_legacy")
    Seq((1L, 10L, 1.0, Option.empty[Double], "a"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
      .write.parquet(flat)
    // bucket= directories: the per-bucket swap layout.
    val bucketed = freshTable("cdc_bucketed")
    Seq((1L, 10L, 1.0, Option.empty[Double], "a", "upsert", 0))
      .toDF("k", "last_seq", "v", "old_v", "etype", "op", "bucket")
      .write.partitionBy("bucket").parquet(bucketed)
    Seq(flat, bucketed).foreach { out =>
      val batch = changes((2L, 11L, 2.0, "b"))
      Seq[() => Any](() => CdcPipeline.mergeLatest(batch, out),
        () => CdcPipeline.readMaterialized(s, out),
        () => CdcPipeline.lastCommittedSeq(s, out)).foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains("legacy") &&
          e.getMessage.contains("fresh directory"), e.getMessage)
      }
      assert(runs(out).isEmpty, "a refused merge wrote a run")
    }
  }

  /** Snapshot of a run dir: file name → (length, content md5). */
  private def snapshot(dir: java.io.File): Map[String, (Long, String)] =
    dir.listFiles().filter(_.isFile).filterNot(_.getName.startsWith("."))
      .map { f =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> (f.length(), md5.map("%02x".format(_)).mkString)
      }.toMap

  test("a merge writes only its batch's rows as one new run; earlier runs " +
      "stay byte-identical") {
    val s = TestSpark.spark
    val out = freshTable("cdc_append")
    CdcPipeline.mergeLatest(changes((1L, 10L, 1.0, "a"), (2L, 11L, 2.0, "b")), out)
    val first = new java.io.File(out, "batch=0")
    val before = snapshot(first)
    assert(before.nonEmpty)

    CdcPipeline.mergeLatest(changes((2L, 12L, 2.5, "b2")), out)
    assert(runs(out) == Seq("batch=0", "batch=1"))
    assert(snapshot(first) == before)
    assert(s.read.parquet(s"$out/batch=1").count() == 1L)
    // every run is one part file, whatever the batch frame's partitioning
    for (r <- runs(out)) {
      val parts = new java.io.File(out, r).listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts == 1, s"$r holds $parts part files")
    }

    // A truncate-only batch writes just the marker; the wiped rows stay on
    // disk in the older runs, yet readers no longer see them.
    CdcPipeline.mergeLatest(truncateAt(11L), out)
    assert(snapshot(first) == before)
    assert(s.read.parquet(s"$out/batch=2").select("k").collect()
      .map(_.getLong(0)).toSeq == Seq(CdcPipeline.TruncateKey))
    assert(visible(out) == Seq((2L, 12L)))
  }

  test("a tiered fold drops rows at or below the truncate high-water and " +
      "keeps the marker; visible content unchanged") {
    val s = TestSpark.spark
    val out = freshTable("cdc_fold")
    // One-row batches, so the runs are alike in size and share a tier.
    CdcPipeline.mergeLatest(changes((1L, 10L, 1.0, "a")), out)
    CdcPipeline.mergeLatest(changes((3L, 11L, 3.0, "c")), out)
    // Truncate at 20: k=1@10 and k=3@11 become invisible but stay on disk.
    CdcPipeline.mergeLatest(truncateAt(20L), out)
    assert(visible(out).isEmpty)
    assert(runs(out).size == 3)
    assert(s.read.parquet(out).filter("op = 'upsert'").count() == 2) // junk on disk

    // The fourth run completes a tier: the merge folds the four.
    CdcPipeline.mergeLatest(changes((2L, 30L, 2.0, "b")), out)
    assert(runs(out) == Seq("batch=-1"), runs(out))
    assert(visible(out) == Seq((2L, 30L)))
    val kept = s.read.parquet(out)
    assert(kept.filter("op = 'upsert'").count() == 1) // junk gone
    // the marker survives so later low-seq stragglers still get wiped
    assert(kept.filter("op = 'truncate'").count() == 1)
    CdcPipeline.mergeLatest(changes((5L, 15L, 5.0, "late"), (2L, 25L, 9.0, "stale")), out)
    assert(visible(out) == Seq((2L, 30L)))
    assert(CdcPipeline.lastCommittedSeq(s, out) == 30L)
  }

  test("commit windows: watermark flushes every window via heartbeats; " +
      "late commits in a non-monotonic stream are dropped, not corrupted") {
    val s = TestSpark.spark
    // Ordered stream (the real log shape): every commit lands in a window
    // and the closing heartbeat — event-time progress with NO data past
    // the tail — flushes the final windows. Totals must equal the batch
    // count of committed transactions.
    val ordered = CdcPipeline.sCommitWindows(s, sf).collect()
    val committedTxns = Tables.events(s, sf)
      .select((col("event_id") / 20).cast("int").as("txid"))
      .filter(col("txid") % 13 =!= 5).distinct().count()
    assert(ordered.map(_.getLong(1)).sum == committedTxns)
    assert(ordered.nonEmpty)

    // Non-monotonic stream: chunk k+1 can carry seqs BELOW chunk k's
    // heartbeat, so some commits arrive behind the watermark. Append-mode
    // semantics: those are dropped — emitted windows stay a subset of the
    // ordered run's, never double-counted or corrupted.
    val root = java.nio.file.Files.createTempDirectory("cdc_win_unord").toFile
    val chunks = new java.io.File(root, "chunks").getAbsolutePath
    CdcPipeline.recordFixture(s, sf, chunks, ordered = false)
    CdcPipeline.commitWindows(s, chunks,
      new java.io.File(root, "ck").getAbsolutePath,
      new java.io.File(root, "win").getAbsolutePath).awaitTermination()
    val unordered = s.read.parquet(new java.io.File(root, "win").getAbsolutePath)
      .collect()
    val byStart = ordered.map(r => r.getLong(0) -> r.getLong(1)).toMap
    unordered.foreach { r =>
      assert(byStart.contains(r.getLong(0)))
      assert(r.getLong(1) <= byStart(r.getLong(0)))
    }
    assert(unordered.map(_.getLong(1)).sum <= committedTxns)
  }

  test("commit windows resume exactly-once from the checkpoint: " +
      "interrupted run equals single run") {
    val s = TestSpark.spark
    val root = java.nio.file.Files.createTempDirectory("cdc_win_restart").toFile
    val staged = new java.io.File(root, "all")
    CdcPipeline.recordFixture(s, sf, staged.getAbsolutePath, ordered = true)
    val all = staged.listFiles().filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    val live = new java.io.File(root, "chunks")
    live.mkdirs()
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(live, f.getName).toPath)
    }
    val ck = new java.io.File(root, "ck").getAbsolutePath
    val win = new java.io.File(root, "win").getAbsolutePath

    copyIn(all.take(4))
    CdcPipeline.commitWindows(s, live.getAbsolutePath, ck, win).awaitTermination()
    copyIn(all.drop(4))
    CdcPipeline.commitWindows(s, live.getAbsolutePath, ck, win).awaitTermination()
    val resumed = s.read.parquet(win).orderBy("win_start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    val single = CdcPipeline.sCommitWindows(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(resumed == single)
  }

  test("rolled-back and still-open transactions never materialize") {
    val s = TestSpark.spark
    val result = CdcPipeline.sCdcPipeline(s, sf)
    val rolledBackKeys = Tables.events(s, sf)
      .select(col("user_id"), (col("event_id") / 20).cast("int").as("txid"))
      .filter(col("txid") % 13 === 5)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val committedKeys = Tables.events(s, sf)
      .select(col("user_id"), (col("event_id") / 20).cast("int").as("txid"))
      .filter(col("txid") % 13 =!= 5)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val gotKeys = result.select("k").collect().map(_.getLong(0)).toSet
    // every key with at least one committed change appears; none that only
    // ever changed in rolled-back transactions do
    assert(gotKeys == committedKeys)
    assert((rolledBackKeys -- committedKeys).intersect(gotKeys).isEmpty)
  }

  /** The V2 reader's envelope projection over one chunk: the
    * [[graft.cdc.FrameBuffer]] walk (TABSCHEM consumed in-band), then
    * [[CdcPipeline.envelopeCols]] on each row image. Returns every decoded
    * record and the (recordType, key, v, etype) of each row image. */
  private def envelopes(chunk: Array[Byte]) = {
    import graft.cdc._
    val fb = new FrameBuffer(SchemaRegistry(
      Map(CdcPipeline.StreamTabid -> CdcPipeline.StreamTabname)))
    val recs = fb.append(chunk)
    assert(fb.pendingBytes == 0)
    (recs, recs.collect { case r: RowImage =>
      val (k, v, e) = CdcPipeline.envelopeCols(r, fb.registry)
      (r.recordType, k, v, e)
    })
  }

  test("the envelope projection derives from the in-band schema, not " +
      "fixed positions") {
    import graft.cdc._
    // A captured table whose layout inverts the fixture's: string first,
    // integral LAST — the old positional casts (col 0 as long, col 2 as
    // string) would ClassCastException here.
    val ddl = "label varchar(16), metric float, ident bigint"
    val schema = DdlParser.parse(
      CdcPipeline.StreamTabid, CdcPipeline.StreamTabname, ddl)
    val out = new java.io.ByteArrayOutputStream()
    out.write(CdcCodec.encodeFrame(
      TabSchema(CdcPipeline.StreamTabid, 0, 16, 2, 1, ddl)))
    out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, schema, 10L, 1, 0,
      IndexedSeq("hello", 2.5, 42L)))
    out.write(CdcCodec.encodeFrame(CommitTx(11L, 1, commitTime = 10L)))
    val (recs, rows) = envelopes(out.toByteArray)
    assert(rows == Seq(("CDC_REC_INSERT", Some(42L), Some(2.5), Some("hello"))))
    assert(recs.exists(_.recordType == "CDC_REC_COMMTX"))
  }

  test("the envelope projection yields None fields for a table lacking " +
      "them") {
    import graft.cdc._
    val ddl = "only_text varchar(24)"
    val schema = DdlParser.parse(
      CdcPipeline.StreamTabid, CdcPipeline.StreamTabname, ddl)
    val out = new java.io.ByteArrayOutputStream()
    out.write(CdcCodec.encodeFrame(
      TabSchema(CdcPipeline.StreamTabid, 0, 0, 0, 1, ddl)))
    out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, schema, 20L, 2, 0,
      IndexedSeq("solo")))
    val (_, rows) = envelopes(out.toByteArray)
    assert(rows == Seq(("CDC_REC_INSERT", None, None, Some("solo"))))
  }
}
