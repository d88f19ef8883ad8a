package graft.streaming

import graft.TestSpark
import graft.api.Graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end spec for continuous signature-index maintenance (round-6
  * verdict #2): stream N batches through [[DedupStream]] and assert
  *  (a) the final index equals the batch-built [[Graft.signatureIndex]]
  *      over exactly the ACCEPTED docs,
  *  (b) the accumulated pair log equals the incremental recompute
  *      ([[Graft.nearDupPairsIncremental]]) run per batch over
  *      accepted-so-far ∪ batch,
  *  (c) replaying a batch id (foreachBatch retry) changes nothing.
  */
class DedupStreamSuite extends AnyFunSuite {

  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private def mut(at: Int) =
    (1 to 40).map(i => if (i == at) s"CHANGED$at" else s"tok$i").mkString(" ")
  private val old1 = (1 to 40).map(i => s"aaa$i").mkString(" ")
  private def unrelated(tag: String) =
    (1 to 40).map(i => s"$tag$i").mkString(" ")

  // b0: two unrelated docs — no pairs, both accepted.
  // b1: 9 ~ base (pair (1,9) → 9 rejected), 11 = exact twin of 9
  //     (batch×batch pairs (9,11) and (1,11) → 11 rejected), 10
  //     unrelated (accepted).
  // b2: 12 ~ base (pair (1,12) → rejected). 12 must NOT pair with the
  //     REJECTED 9/11 — they never entered the index.
  private val batches: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, base), (2L, old1)),
    Seq((9L, mut(20)), (11L, mut(20)), (10L, unrelated("zzz"))),
    Seq((12L, mut(22)), (13L, unrelated("qqq"))))

  private def collectPairs(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed index == batch-built index over accepted docs; " +
      "pair log == per-batch incremental recompute; replay is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dedup_stream").toFile
    val idx = new java.io.File(root, "index").getAbsolutePath
    val prs = new java.io.File(root, "pairs").getAbsolutePath
    val ck = new java.io.File(root, "ck").getAbsolutePath

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF.toDF("id", "body")

    // Drive one AvailableNow run per batch — each run resumes from the
    // shared checkpoint, so batch ids advance exactly as in production.
    batches.foreach { b =>
      stream.addData(b)
      DedupStream.start(docs, "id", "body", idx, prs, ck, threshold = 0.5)
        .awaitTermination()
    }

    // The audit-side recompute of the acceptance policy.
    var accepted = Seq.empty[(Long, String)]
    var wantPairs = Set.empty[(Long, Long)]
    batches.foreach { b =>
      val world = (accepted ++ b).toDF("id", "body")
      val batchPairs = collectPairs(Graft.nearDupPairsIncremental(
        world, "id", "body", b.map(_._1).toDF("id"), threshold = 0.5))
      wantPairs ++= batchPairs
      val rejected = batchPairs.map(_._2)
      accepted ++= b.filterNot(d => rejected.contains(d._1))
    }
    // sanity on the fixture: cross-batch, within-batch, and
    // rejected-doc-invisible cases all exercised
    assert(wantPairs.contains((1L, 9L)) && wantPairs.contains((9L, 11L)))
    assert(wantPairs.contains((1L, 12L)) && !wantPairs.exists(p =>
      p == (9L, 12L) || p == (11L, 12L)))
    assert(accepted.map(_._1).sorted == Seq(1L, 2L, 10L, 13L))

    // (b) the accumulated pair log
    assert(collectPairs(DedupStream.readPairs(s, prs)) == wantPairs)

    // (a) the final index: identical rows to the batch-built index over
    // the accepted docs (hs carried on band-0 rows only)
    def indexRows(df: DataFrame) = df
      .select(col("id"), col("band"), col("bkey"),
        coalesce(col("hs"), expr("array()")).as("hs"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[Long](3).toVector)).toSet
    val got = indexRows(DedupStream.readIndex(s, idx))
    val want = indexRows(Graft.signatureIndex(
      accepted.toDF("id", "body"), "id", "body"))
    assert(got == want)

    // (c) replaying the LAST batch id (a foreachBatch retry) is a no-op
    val lastId = 2L
    DedupStream.processBatch(batches.last.toDF("id", "body"), lastId,
      "id", "body", idx, prs, threshold = 0.5)
    assert(collectPairs(DedupStream.readPairs(s, prs)) == wantPairs)
    assert(indexRows(DedupStream.readIndex(s, idx)) == got)

    // (d) re-crawling an ALREADY-ACCEPTED id in a later batch pairs it
    // against the corpus but appends NO duplicate index rows
    // (first-write-wins), so future verifies never double-join its hs.
    DedupStream.processBatch(Seq((2L, old1)).toDF("id", "body"), 3L,
      "id", "body", idx, prs, threshold = 0.5)
    assert(indexRows(DedupStream.readIndex(s, idx)) == got)
    val perDocRows = DedupStream.readIndex(s, idx)
      .groupBy("id").count().collect().map(_.getLong(1)).toSet
    assert(perDocRows == Set(4L)) // exactly 4 band rows per indexed doc
  }

  test("plan pin: per-batch index reads prune — bb on the band store, " +
      "ib on the id sidecar (PartitionFilters reach both scans)") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("dedup_prune").toFile
    val idx = new java.io.File(root, "index").getAbsolutePath
    val prs = new java.io.File(root, "pairs").getAbsolutePath
    DedupStream.processBatch(Seq((1L, base), (2L, old1)).toDF("id", "body"),
      0L, "id", "body", idx, prs, threshold = 0.5)
    DedupStream.processBatch(
      Seq((9L, mut(20)), (10L, unrelated("zzz"))).toDF("id", "body"),
      1L, "id", "body", idx, prs, threshold = 0.5)
    // the collision read: bb partition filter reaches the band scan
    val bands = DedupStream.indexBandsRead(s, idx, "id", Seq(0, 1, 2), 2L)
    val pb = bands.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bb#[^\\]]*\\]".r.findFirstIn(pb).isDefined,
      pb.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // semantic: pruning to a doc's own bucket set returns all its rows
    val all = s.read.parquet(idx)
    val bbsOf1 = all.filter(col("id") === 1L).select("bb")
      .distinct().collect().map(_.get(0)).toSeq
    assert(DedupStream.indexBandsRead(s, idx, "id", bbsOf1, 2L)
      .filter(col("doc_id") === 1L).count() == 4L)
    // the sidecar read: ib partition filter reaches the scan, and the
    // bucket a known id hashes to really holds its (id, hs) row
    val ib1 = Seq(1L).toDF("x")
      .select(IdSidecar.bucket(col("x"), IdSidecar.Buckets)).head.getInt(0)
    val sidecar = IdSidecar.read(s, idx, Seq(ib1), 2L)
    val ps = sidecar.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ib#[^\\]]*\\]".r.findFirstIn(ps).isDefined,
      ps.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(sidecar.filter(col("id") === 1L).count() == 1L)
    // one sidecar row per indexed doc, never more (first-write-wins)
    val perDoc = s.read.parquet(IdSidecar.root(idx))
      .groupBy("id").count().collect().map(_.getLong(1)).toSet
    assert(perDoc == Set(1L))
  }

  test("an EMPTY first batch leaves only _SUCCESS partials and must not " +
      "break later reads (partitioned empty writes carry no schema)") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("dedup_empty").toFile
    val idx = new java.io.File(root, "index").getAbsolutePath
    val prs = new java.io.File(root, "pairs").getAbsolutePath
    // batch 0: zero rows — an idle stream trigger / all-filtered slice
    DedupStream.processBatch(
      Seq.empty[(Long, String)].toDF("id", "body"),
      0L, "id", "body", idx, prs, threshold = 0.5)
    // the empty partials exist but count as no state
    assert(!DedupStream.hasParquet(s, idx) && !IdSidecar.exists(s, idx))
    // batch 1: real docs — probes and appends against the empty-partial
    // root without schema-inference failures, finds its in-batch pair
    val p1 = DedupStream.processBatch(
      Seq((1L, base), (9L, mut(20)), (10L, unrelated("zzz")))
        .toDF("id", "body"),
      1L, "id", "body", idx, prs, threshold = 0.5)
    assert(collectPairs(p1) == Set((1L, 9L)))
    // batch 2: cross-batch probe reads bands + sidecar past the empty
    // batch=0 partials
    val p2 = DedupStream.processBatch(
      Seq((12L, mut(22))).toDF("id", "body"),
      2L, "id", "body", idx, prs, threshold = 0.5)
    assert(collectPairs(p2) == Set((1L, 12L)))
    assert(collectPairs(DedupStream.readPairs(s, prs)) ==
      Set((1L, 9L), (1L, 12L)))
  }

  test("reading a two-run, 64-bb band store lists on the driver: no " +
      "listing job before the scan") {
    val s = TestSpark.spark
    val idx = java.nio.file.Files.createTempDirectory("dedup_listing")
      .resolve("index").toString
    s.range(256)
      .select(col("id"), (col("id") % 4).as("band"),
        md5(col("id").cast("string")).as("bkey"),
        (col("id") / 2 % 64).cast("int").as("bb"), (col("id") % 2).as("batch"))
      .write.partitionBy("batch", "bb").parquet(idx)
    val sc = s.sparkContext
    /** (all jobs, listing jobs) started while `body` builds its frame,
      * counted by a listener over this test's own job group. */
    def jobsWhile(body: => DataFrame): (Int, Int) = {
      val group = s"listing-${java.util.UUID.randomUUID}"
      val marker = s"$group-marker"
      val all = new java.util.concurrent.atomic.AtomicInteger()
      val listing = new java.util.concurrent.atomic.AtomicInteger()
      val seen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val props = Option(e.properties)
          props.map(_.getProperty("spark.jobGroup.id")).foreach { g =>
            if (g == marker) seen.countDown()
            else if (g == group) {
              all.incrementAndGet()
              if (props.flatMap(p => Option(p.getProperty("spark.job.description")))
                  .exists(_.startsWith("Listing leaf files")))
                listing.incrementAndGet()
            }
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "listing probe")
        body: Unit
        // listener events arrive in order: once the marker job is seen,
        // every job the read started has been counted
        sc.setJobGroup(marker, "listing probe marker")
        s.range(1).collect(): Unit
        assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
        (all.get, listing.get)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
    def read() = DedupStream.indexBandsRead(s, idx, "id", Seq(0, 1), 2L)
    // the one job left is schema inference's parquet footer read
    assert(jobsWhile(read()) == ((1, 0)))
    // Spark's default threshold (32) lists each run's 64 bb dirs in a job
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, "32")
      assert(jobsWhile(read()) == ((3, 2)))
    } finally s.conf.set(key, prev)
  }
}
