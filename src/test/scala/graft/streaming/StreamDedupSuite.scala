package graft.streaming

import graft.{Tables, TestSpark}
import graft.cdc.{CdcCodec, RowImage, SchemaRegistry}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CdcPipeline.changelogDedup]] — streaming exactly-once repair over an
  * at-least-once replay fixture. */
class StreamDedupSuite extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("the replay fixture really re-delivers rows, and the deduped " +
      "stream equals the duplicate-free batch mapping") {
    val got = CdcPipeline.queries("s_changelog_dedup")(s, sf)
    // The harness duplicated chunk-003: the RAW stream (no dedup) carries
    // more image rows than distinct seqs — at-least-once is real.
    val chunkDir = new java.io.File(
      s"/tmp/graft_stream_dedup/${sf.replaceAll("[^A-Za-z0-9.]", "_")}/chunks")
    assert(new java.io.File(chunkDir, "chunk-003x.bin").isFile)
    val raw = chunkDir.listFiles().toSeq
      .filter(f => f.getName.startsWith("chunk-") && f.getName.endsWith(".bin"))
      .flatMap(f => CdcCodec.decodeAll(
        java.nio.file.Files.readAllBytes(f.toPath),
        SchemaRegistry(Map(CdcPipeline.StreamTabid -> CdcPipeline.StreamTabname)))._1)
      .collect { case r: RowImage if r.recordType == "CDC_REC_INSERT" ||
          r.recordType == "CDC_REC_UPDAFT" => r.seqNumber }
    assert(raw.length > raw.distinct.length,
      "fixture should contain re-delivered image rows")
    // Deduped output: exactly one row per event, matching the batch map.
    val want = Tables.events(s, sf)
      .select((col("event_id") * 4 + 2).as("seq"),
        (col("event_id") / 20).cast("int").as("txid"),
        col("user_id").as("k"), col("value").as("v"),
        col("event_type").as("etype"))
      .orderBy(col("seq"))
      .collect().map(_.toSeq).toSeq
    assert(got.collect().map(_.toSeq).toSeq == want)
  }

  test("dedup state is watermark-bounded, not a full-stream set") {
    val root = new java.io.File("/tmp/graft_stream_dedup_state")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(root); root.mkdirs()
    val chunkDir = new java.io.File(root, "chunks")
    CdcPipeline.recordFixtureCached(s, sf, chunkDir.getAbsolutePath,
      ordered = true)
    val q = CdcPipeline.changelogDedup(s, chunkDir.getAbsolutePath,
      new java.io.File(root, "ck").getAbsolutePath,
      new java.io.File(root, "out").getAbsolutePath)
    q.awaitTermination()
    val ops = q.recentProgress.flatMap(_.stateOperators.map(_.operatorName))
    assert(ops.exists(_.toLowerCase.contains("dedup")),
      s"expected a dedup state operator, got: ${ops.toSet}")
    // Watermark eviction removed rows from dedup state during the run.
    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "no dedup-state rows were ever evicted")
  }
}
