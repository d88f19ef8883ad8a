package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once semantics of the MV's `batch=` runs: retry idempotence
  * (the failure latest-wins sinks absorb but additive aggregates cannot),
  * crashed-run replay, replay across tiered folds, and the streaming IVM
  * invariant stream-maintained ≡ recomputed. */
class MvStreamSuite extends AnyFunSuite {

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("mv_stream").toString

  private def units(rows: (Long, Double, Long)*) = {
    val s = TestSpark.spark
    import s.implicits._
    rows.toSeq.toDF("k", "v", "seq")
      .select(col("k"), lit(1L).as("n_rows"),
        col("v").cast("decimal(18,2)").as("sum_dec"),
        col("seq").as("last_seq"))
  }

  private def state(mvDir: String): Map[Long, (Long, BigDecimal, Long)] =
    MvStream.readMv(TestSpark.spark, mvDir).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_rows"),
          BigDecimal(r.getAs[java.math.BigDecimal]("sum_dec")),
          r.getAs[Long]("last_seq"))))
      .toMap

  test("batches accumulate; re-applying a batch id is a no-op (retry " +
      "idempotence for an additive merge)") {
    val mv = freshDir()
    MvStream.processBatch(units((1L, 1.5, 10L), (2L, 2.0, 11L)), 0L, mv)
    MvStream.processBatch(units((2L, 3.0, 20L), (3L, 4.0, 21L)), 1L, mv)
    val afterTwo = state(mv)
    assert(afterTwo == Map(
      1L -> ((1L, BigDecimal("1.50"), 10L)),
      2L -> ((2L, BigDecimal("5.00"), 20L)),
      3L -> ((1L, BigDecimal("4.00"), 21L))))
    // foreachBatch retry: same batch id, same data — must not double-count
    MvStream.processBatch(units((2L, 3.0, 20L), (3L, 4.0, 21L)), 1L, mv)
    assert(state(mv) == afterTwo, "replayed batch changed the MV")
  }

  private def runs(mvDir: String): Seq[String] =
    new java.io.File(mvDir).list().toSeq.filter(_.startsWith("batch=")).sorted

  test("a crashed run is invisible to readMv; the replay gives the " +
      "crash-free result") {
    val mv = freshDir()
    // keys 0..15; batch 0 establishes state
    MvStream.processBatch(units((0L until 16L).map(k => (k, 1.0, k)): _*), 0L, mv)
    val before = state(mv)
    // a crashed write of batch 1: garbage bytes and no _SUCCESS
    val crashed = new java.io.File(mv, "batch=1")
    crashed.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(crashed, "part-00000.snappy.parquet").toPath,
      "garbage".getBytes("UTF-8"))
    assert(state(mv) == before, "readMv saw an uncommitted run")
    // batch 1 adds 2.0 at seq 100+k for every key — the replay
    MvStream.processBatch(
      units((0L until 16L).map(k => (k, 2.0, 100L + k)): _*), 1L, mv)
    val after = state(mv)
    assert(after.keySet == before.keySet)
    before.foreach { case (k, (n, sum, last)) =>
      assert(after(k) == ((n + 1, sum + BigDecimal("2.00"), 100L + k)),
        s"key $k merged wrong after the crashed run's replay: ${after(k)}")
    }
  }

  test("tiered folds keep the MV equal to its batches; the newest run " +
      "stays replayable") {
    val mv = freshDir()
    (0L until 9L).foreach { b =>
      MvStream.processBatch(units((1L, 1.0, 10L * b), (b + 2L, 0.5, 10L * b + 1L)), b, mv)
    }
    assert(runs(mv).size < 9, s"no fold ran: ${runs(mv)}")
    assert(runs(mv).contains("batch=8"), "the newest run was folded")
    val want = Map(1L -> ((9L, BigDecimal("9.00"), 80L))) ++
      (0L until 9L).map(b => (b + 2L) -> ((1L, BigDecimal("0.50"), 10L * b + 1L)))
    assert(state(mv) == want)
    // a retry of the newest batch after the folds must not double-count
    MvStream.processBatch(units((1L, 1.0, 80L), (10L, 0.5, 81L)), 8L, mv)
    assert(state(mv) == want, "replay across a fold changed the MV")
  }

  test("stream-maintained MV equals the full recompute over events " +
      "(the streaming IVM invariant)") {
    val s = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val got = CdcPipeline.queries("s_mv_delta")(s, sf)
    val want = graft.Tables.events(s, sf)
      .select(col("user_id").as("k"), col("value"), col("event_id"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        max(col("event_id") * 4 + 2).as("last_seq"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "stream-maintained MV diverges from recompute")
    assert(got.count() > 0)
  }
}
