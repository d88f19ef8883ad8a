package graft.sources

import graft.TestSpark
import graft.streaming.CdcPipeline
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 source tests: the V2 path must materialize the fixture's
  * committed latest-per-key mapping, resume exactly-once from its offset
  * log, and honor source-side `startingSeq` discard. */
class CdcChunkSourceSuite extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(s"cdcv2_$tag").toFile

  private def readOut(out: String) = {
    val s = TestSpark.spark
    s.read.parquet(out)
      .select(col("k"), col("last_seq"), col("v"), col("old_v"), col("etype"))
      .orderBy(col("k")).collect().toSeq
  }

  test("V2 source materialization equals the events-derived " +
      "latest-per-key mapping") {
    val s = TestSpark.spark
    val root = freshRoot("parity")
    val chunks = new java.io.File(root, "chunks").getAbsolutePath
    CdcPipeline.recordFixture(s, sf, chunks)
    CdcPipeline.startV2(s, chunks,
      new java.io.File(root, "ck").getAbsolutePath,
      new java.io.File(root, "out").getAbsolutePath).awaitTermination()

    val v2 = readOut(new java.io.File(root, "out").getAbsolutePath)
    assert(v2.nonEmpty)
    assert(v2 == graft.streaming.CdcPipelineSuite.expected(sf).collect().toSeq)
  }

  test("V2 offsets resume exactly-once across restart") {
    val s = TestSpark.spark
    val root = freshRoot("restart")
    val staged = new java.io.File(root, "all")
    CdcPipeline.recordFixture(s, sf, staged.getAbsolutePath)
    val all = staged.listFiles().filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    val live = new java.io.File(root, "chunks")
    live.mkdirs()
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(live, f.getName).toPath)
    }
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath

    copyIn(all.take(4))
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()
    copyIn(all.drop(4))
    CdcPipeline.startV2(s, live.getAbsolutePath, ckpt, out).awaitTermination()
    val resumed = readOut(out)

    // Reference: single uninterrupted run over the full fixture.
    val ck2 = new java.io.File(root, "ckpt2").getAbsolutePath
    val out2 = new java.io.File(root, "out2").getAbsolutePath
    CdcPipeline.startV2(s, staged.getAbsolutePath, ck2, out2).awaitTermination()
    assert(resumed == readOut(out2))
  }

  test("startingSeq drops already-consumed history at the source") {
    val s = TestSpark.spark
    val root = freshRoot("startseq")
    val chunks = new java.io.File(root, "chunks").getAbsolutePath
    CdcPipeline.recordFixture(s, sf, chunks)
    // Beyond every fixture seq → nothing materializes.
    CdcPipeline.startV2(s, chunks,
      new java.io.File(root, "ck").getAbsolutePath,
      new java.io.File(root, "out").getAbsolutePath,
      startingSeq = Long.MaxValue).awaitTermination()
    val outDir = new java.io.File(root, "out")
    val rows = if (outDir.exists()) readOut(outDir.getAbsolutePath) else Seq.empty
    assert(rows.isEmpty)
  }

  test("savepoint restart: fresh checkpoint resumes from last committed + 1") {
    val s = TestSpark.spark
    val root = freshRoot("savepoint")
    val staged = new java.io.File(root, "all")
    // LSN-ordered stream (contiguous txid ranges per chunk) — the
    // precondition for high-water-mark restart, as for the reference's log.
    CdcPipeline.recordFixture(s, sf, staged.getAbsolutePath, ordered = true)
    val all = staged.listFiles().filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    val live = new java.io.File(root, "chunks")
    live.mkdirs()
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(live, f.getName).toPath)
    }
    val out = new java.io.File(root, "out").getAbsolutePath

    // Phase 1 materializes the first half of the log.
    copyIn(all.take(4))
    CdcPipeline.startV2(s, live.getAbsolutePath,
      new java.io.File(root, "ck1").getAbsolutePath, out).awaitTermination()
    val highWater = CdcPipeline.lastCommittedSeq(s, out)
    assert(highWater > 0)

    // Phase 2: checkpoint LOST; resume purely from the savepoint table.
    copyIn(all.drop(4))
    CdcPipeline.startFromSavepoint(s, live.getAbsolutePath,
      new java.io.File(root, "ck2").getAbsolutePath, out).awaitTermination()

    // Reference: one uninterrupted run over the ordered fixture.
    CdcPipeline.startV2(s, staged.getAbsolutePath,
      new java.io.File(root, "ckRef").getAbsolutePath,
      new java.io.File(root, "outRef").getAbsolutePath).awaitTermination()
    assert(readOut(out) == readOut(new java.io.File(root, "outRef").getAbsolutePath))
  }

  test("chunk listing is deterministic name order; offsets round-trip JSON") {
    val root = freshRoot("list")
    Seq("chunk-002.bin", "chunk-000.bin", "chunk-001.bin", "ignore.txt").foreach { n =>
      java.nio.file.Files.write(new java.io.File(root, n).toPath, Array[Byte](1))
    }
    val got = CdcChunkSource.listChunks(root.getAbsolutePath).map(f => f.split('/').last)
    assert(got == Seq("chunk-000.bin", "chunk-001.bin", "chunk-002.bin"))
    assert(ChunkOffset("chunk-001.bin").json() == "chunk-001.bin")
  }

  test("late file sorting before the committed watermark cannot remap replay") {
    // A count offset would re-map index ranges when `chunk-000a.bin` appears
    // between runs; the name-watermark offset pins committed work to names.
    val root = freshRoot("latefile")
    Seq("chunk-000.bin", "chunk-002.bin").foreach { n =>
      java.nio.file.Files.write(new java.io.File(root, n).toPath, Array[Byte](1))
    }
    val stream = new CdcChunkMicroBatchStream(root.getAbsolutePath, None, 0L)
    val end1 = stream.latestOffset().asInstanceOf[ChunkOffset]
    assert(end1.lastFile == "chunk-002.bin")
    // Late arrival that sorts BELOW the committed watermark…
    java.nio.file.Files.write(
      new java.io.File(root, "chunk-001.bin").toPath, Array[Byte](1))
    // …must not change which files a committed (start, end] range maps to,
    // and must not be admitted by a later batch either (skipped, per the
    // monotonic-name source contract).
    val parts = stream.planInputPartitions(ChunkOffset(""), end1)
      .map(_.asInstanceOf[ChunkInputPartition].file.split('/').last)
    assert(parts.toSeq == Seq("chunk-000.bin", "chunk-001.bin", "chunk-002.bin")
      || parts.toSeq == Seq("chunk-000.bin", "chunk-002.bin"))
    val next = stream.latestOffset(end1, ReadLimit.allAvailable())
      .asInstanceOf[ChunkOffset]
    assert(next.lastFile == "chunk-002.bin") // nothing new admitted
  }
}
