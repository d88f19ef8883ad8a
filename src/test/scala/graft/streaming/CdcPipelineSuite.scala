package graft.streaming

import graft.{Tables, TestSpark}
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

    val resumed = s.read.parquet(out)
      .select(col("k"), col("last_seq"), col("v"), col("old_v"), col("etype"))
      .orderBy(col("k")).collect().toSeq
    assert(resumed == expected().collect().toSeq)

    // Phase 3: replay with no new data is a no-op (idempotent sink).
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()
    val replayed = s.read.parquet(out)
      .select(col("k"), col("last_seq"), col("v"), col("old_v"), col("etype"))
      .orderBy(col("k")).collect().toSeq
    assert(replayed == resumed)
  }

  test("crash between per-bucket swap renames is recovered; no committed row is lost") {
    val s2val = TestSpark.spark
    import s2val.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_swap").toFile
    val out = new java.io.File(root, "mat").getAbsolutePath

    val batch1 = Seq((1L, 10L, 1.0, Option.empty[Double], "a"),
      (2L, 11L, 2.0, Option.empty[Double], "b"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch1, out)

    // Simulate a crash BETWEEN a bucket's two renames: the live bucket dir
    // was renamed aside to .backup/bucket=B, promotion of its staging dir
    // never happened.
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s2val.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.getPath.getName.startsWith("bucket=")).map(_.getPath)
    assert(bucketDirs.nonEmpty)
    val victim = bucketDirs.head
    val backup = new org.apache.hadoop.fs.Path(out, ".backup")
    fs.mkdirs(backup)
    fs.rename(victim, new org.apache.hadoop.fs.Path(backup, victim.getName))
    assert(!fs.exists(victim))

    // The savepoint read must recover the orphaned bucket, not lose it.
    assert(CdcPipeline.lastCommittedSeq(s2val, out) == 11L)
    assert(fs.exists(victim))

    // And a later merge on top keeps every committed row.
    val batch2 = Seq((2L, 12L, 2.5, Option.empty[Double], "b2"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch2, out)
    val rows = CdcPipeline.readMaterialized(s2val, out).orderBy("k")
      .select("k", "last_seq", "v").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows == Seq((1L, 10L, 1.0), (2L, 12L, 2.5)))
  }

  test("merge refuses a legacy unbucketed table layout instead of forking history") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_legacy").toFile
    val out = new java.io.File(root, "mat").getAbsolutePath
    // Old mergeLatest layout: part files at the table ROOT, no bucket= dirs.
    Seq((1L, 10L, 1.0, Option.empty[Double], "a"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
      .write.parquet(out)
    val batch = Seq((2L, 11L, 2.0, Option.empty[Double], "b"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    val e = intercept[IllegalStateException](CdcPipeline.mergeLatest(batch, out))
    assert(e.getMessage.contains("legacy"))
    val e2 = intercept[IllegalStateException](CdcPipeline.compact(s, out))
    assert(e2.getMessage.contains("legacy"))
  }

  test("merge refuses bucket data with a missing bucket-count meta") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_nometa").toFile
    val out = new java.io.File(root, "mat").getAbsolutePath
    val batch1 = Seq((1L, 10L, 1.0, Option.empty[Double], "a"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch1, out)
    // Delete the meta: guessing a different count would re-route keys and
    // leave duplicate live rows per key, so the merge must refuse.
    assert(new java.io.File(out, "_graft_buckets").delete())
    val batch2 = Seq((2L, 11L, 2.0, Option.empty[Double], "b"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    val e = intercept[IllegalStateException](CdcPipeline.mergeLatest(batch2, out))
    assert(e.getMessage.contains("missing"))
  }

  /** Snapshot of a bucket dir: file name → (length, content md5). */
  private def snapshot(dir: java.io.File): Map[String, (Long, String)] =
    dir.listFiles().filter(_.isFile).filterNot(_.getName.startsWith("."))
      .map { f =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> (f.length(), md5.map("%02x".format(_)).mkString)
      }.toMap

  test("merge rewrites only the buckets the batch touches; untouched " +
      "bucket files are byte-identical (the prune, not just the answer)") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_prune").toFile
    val out = new java.io.File(root, "mat").getAbsolutePath

    // Pick keys in two DIFFERENT buckets of the default layout.
    val nb = CdcPipeline.DefaultBuckets
    val buckets = s.range(0, 64)
      .select(col("id"), pmod(hash(col("id")), lit(nb)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kA = buckets.keys.min
    val kB = buckets.collectFirst { case (k, b) if b != buckets(kA) => k }.get

    val batch1 = Seq((kA, 10L, 1.0, Option.empty[Double], "a"),
      (kB, 11L, 2.0, Option.empty[Double], "b"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch1, out)
    val dirA = new java.io.File(out, s"bucket=${buckets(kA)}")
    val dirB = new java.io.File(out, s"bucket=${buckets(kB)}")
    val beforeA = snapshot(dirA)
    val beforeB = snapshot(dirB)
    assert(beforeA.nonEmpty && beforeB.nonEmpty)

    // Batch 2 touches ONLY kB's bucket.
    val batch2 = Seq((kB, 12L, 2.5, Option.empty[Double], "b2"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch2, out)
    assert(snapshot(dirA) == beforeA)   // untouched bucket: byte-identical
    assert(snapshot(dirB) != beforeB)   // touched bucket: rewritten

    // A truncate-only batch rewrites just the MARKER bucket (lazy wipe):
    // both data buckets' files stay byte-identical, yet the wiped rows
    // are invisible to readers.
    val afterA = snapshot(dirA)
    val afterB = snapshot(dirB)
    val truncBatch = Seq(
      (CdcPipeline.TruncateKey, 11L, 0.0, Option.empty[Double], "", "truncate"))
      .toDF("k", "last_seq", "v", "old_v", "etype", "op")
    CdcPipeline.mergeLatest(truncBatch, out)
    assert(snapshot(dirA) == afterA)
    assert(snapshot(dirB) == afterB)
    assert(new java.io.File(out, s"bucket=$nb").isDirectory)
    val visible = CdcPipeline.readMaterialized(s, out)
      .select("k", "last_seq").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(visible == Seq((kB, 12L))) // kA@10 and the 11-seq wipe line: only kB@12 survives

    // Touching kA's bucket next physically cleans its wiped row.
    val batch3 = Seq((kA, 20L, 9.0, Option.empty[Double], "a2"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch3, out)
    val rowsA = s.read.parquet(dirA.getAbsolutePath)
      .select("k", "last_seq").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rowsA == Seq((kA, 20L))) // the seq-10 row is physically gone
  }

  test("compact drops every lazily-wiped row from cold buckets; visible " +
      "content unchanged") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_compact").toFile
    val out = new java.io.File(root, "mat").getAbsolutePath
    val batch1 = Seq((1L, 10L, 1.0, Option.empty[Double], "a"),
      (2L, 30L, 2.0, Option.empty[Double], "b"),
      (3L, 11L, 3.0, Option.empty[Double], "c"))
      .toDF("k", "last_seq", "v", "old_v", "etype")
    CdcPipeline.mergeLatest(batch1, out)
    // Truncate at 20: k=1@10 and k=3@11 become invisible but stay on disk.
    val trunc = Seq(
      (CdcPipeline.TruncateKey, 20L, 0.0, Option.empty[Double], "", "truncate"))
      .toDF("k", "last_seq", "v", "old_v", "etype", "op")
    CdcPipeline.mergeLatest(trunc, out)
    val before = CdcPipeline.readMaterialized(s, out)
      .select("k", "last_seq").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((2L, 30L)))
    assert(s.read.parquet(out).filter("op = 'upsert'").count() == 3) // junk on disk

    CdcPipeline.compact(s, out)
    val after = CdcPipeline.readMaterialized(s, out)
      .select("k", "last_seq").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)                                         // same visible data
    assert(s.read.parquet(out).filter("op = 'upsert'").count() == 1) // junk gone
    // the marker survives so later low-seq stragglers still get wiped
    assert(s.read.parquet(out).filter("op = 'truncate'").count() == 1)
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
