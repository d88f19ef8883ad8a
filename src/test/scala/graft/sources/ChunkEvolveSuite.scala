package graft.sources

import graft.TestSpark
import graft.cdc._
import graft.streaming.CdcPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema evolution ACROSS chunk files through the V2 source: each chunk
  * is self-describing (opens with its TABSCHEM — the segment layout the
  * reference's pull loop produces), so consecutive chunks may carry
  * DIFFERENT layouts for the same tabid. This pins the full REPLACE
  * surface on the streaming path: chunk 0 is the narrow v1 layout
  * (int / smallfloat / varchar), chunk 1 re-registers with DROP COLUMN +
  * int→bigint / smallfloat→float widens — and the envelope projection
  * (schema-shape-driven, type-coercing) must materialize both, with the
  * dropped string column surfacing as a null etype. */
class ChunkEvolveSuite extends AnyFunSuite {

  private val V1Ddl = "k integer, v smallfloat, etype varchar(32)"
  private val V2Ddl = "k bigint, v float"
  private val V1 = DdlParser.parse(CdcPipeline.StreamTabid,
    CdcPipeline.StreamTabname, V1Ddl)
  private val V2 = DdlParser.parse(CdcPipeline.StreamTabid,
    CdcPipeline.StreamTabname, V2Ddl)

  test("V2 source materializes rows across a mid-stream REPLACE") {
    val s = TestSpark.spark
    val root = java.nio.file.Files.createTempDirectory("cdc_evolve").toFile
    val chunks = new java.io.File(root, "chunks")
    chunks.mkdirs()

    val c0 = new java.io.ByteArrayOutputStream()
    c0.write(CdcCodec.encodeFrame(TabSchema(CdcPipeline.StreamTabid, 0, 8,
      2, 1, V1Ddl)))
    c0.write(CdcCodec.encodeFrame(BeginTx(9L, 1, startTime = 10L, userId = 0)))
    c0.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, V1, 10L, 1, 0,
      IndexedSeq[Any](1, 1.5f, "a")))
    c0.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, V1, 14L, 1, 0,
      IndexedSeq[Any](2, 2.5f, "b")))
    c0.write(CdcCodec.encodeFrame(CommitTx(15L, 1, commitTime = 14L)))
    c0.write(CdcCodec.encodeFrame(TimeoutBeat(15L)))

    val c1 = new java.io.ByteArrayOutputStream()
    c1.write(CdcCodec.encodeFrame(TabSchema(CdcPipeline.StreamTabid, 0, 16,
      2, 0, V2Ddl)))
    c1.write(CdcCodec.encodeFrame(BeginTx(29L, 2, startTime = 30L, userId = 0)))
    c1.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, V2, 30L, 2, 0,
      IndexedSeq[Any](3L << 33, 3.25)))
    c1.write(CdcCodec.encodeFrame(CommitTx(31L, 2, commitTime = 30L)))
    c1.write(CdcCodec.encodeFrame(TimeoutBeat(31L + 10000000L)))

    Seq(c0 -> "chunk-000.bin", c1 -> "chunk-001.bin").zipWithIndex
      .foreach { case ((buf, name), i) =>
        val f = new java.io.File(chunks, name)
        java.nio.file.Files.write(f.toPath, buf.toByteArray)
        f.setLastModified(1700000000000L + i * 60000L): Unit
      }

    CdcPipeline.startV2(s, chunks.getAbsolutePath,
      new java.io.File(root, "ck").getAbsolutePath,
      new java.io.File(root, "out").getAbsolutePath).awaitTermination()

    val got = CdcPipeline.readMaterialized(s,
        new java.io.File(root, "out").getAbsolutePath)
      .select(col("k"), col("v"), col("etype"))
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
      .toSeq
    assert(got == Seq(
      (1L, 1.5, Some("a")),           // v1: int k widened, float4 v widened
      (2L, 2.5, Some("b")),
      (3L << 33, 3.25, None)))        // v2: bigint k, float8 v, etype GONE
  }
}
