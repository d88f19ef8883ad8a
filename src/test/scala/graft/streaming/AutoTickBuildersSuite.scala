package graft.streaming

import graft.TestSpark
import graft.api.Graft
import graft.multimodal.MultimodalOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r18 `maintainEvery` auto-tick on the six builders that gained it
  * (Bm25Stream, EmbDedupStream, MediaDedupStream, VectorIndexStream,
  * BloomStream, ErStream — r17 verdict #3: only the three label
  * streams could declare their schedule on the builder). Per family
  * shape, the spec every auto-tick must pass: after a run whose state
  * was FOLDED by mid-stream ticks, a foreachBatch REPLAY of the newest
  * batch (the crash-between-tick-and-checkpoint-commit window the tick
  * sits in) is a verbatim no-op — the fold's keep-newest guard
  * protected exactly the partials the replay overwrites.
  *
  * Every builder's schedule is the one [[Maintainer.start]], whose
  * step-then-tick order and `maintainEvery` cadence the first test pins
  * over a MemoryStream. Builders with a MemoryStream-friendly source also
  * run the REAL builder knob end to end (EmbDedup, VectorIndex, Er); the
  * chunk-source and payload families (Bloom, Media, Bm25) drive
  * processBatch + the identical tick their builder hands
  * [[Maintainer.start]], and the s_dedup_index and s_bm25_index gates
  * exercise the shared builder's ticks under the oracle. */
class AutoTickBuildersSuite extends AnyFunSuite {

  private val policy = Graft.MaintenancePolicy(fanIn = 2)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the shared builder ticks after the step of every " +
      "maintainEvery-th batch, and never when maintainEvery is 0") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    def schedule(maintainEvery: Int): Seq[String] = {
      val log = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val stream = MemoryStream[Int]
      val ck = java.nio.file.Files.createTempDirectory("tick_sched").toString
      // one AvailableNow run per added row: batch ids 0..3 on one checkpoint
      (0 until 4).foreach { k =>
        stream.addData(k)
        Maintainer.start(stream.toDS(), ck, maintainEvery,
          tick = _ => log.add("tick"): Unit)(
          (_, id) => log.add(s"step $id"): Unit).awaitTermination()
      }
      log.toArray(Array.empty[String]).toSeq
    }
    assert(schedule(2) ==
      Seq("step 0", "step 1", "tick", "step 2", "step 3", "tick"))
    assert(schedule(0) == Seq("step 0", "step 1", "step 2", "step 3"))
  }

  test("bm25 shape: replay of the newest batch over mid-stream-folded " +
      "postings/doclens/stats is a no-op on the served ranking") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("tick_bm25").toString
    val (post, dl, st) = (s"$root/postings", s"$root/doclens", s"$root/stats")
    def batchDocs(k: Int) = (0 until 3).map { i =>
      val id = k * 3L + i
      (id, (Seq.fill((id % 4).toInt + 1)("table") ++
        Seq.fill((id % 3).toInt)("window") ++
        Seq.fill(5)(s"filler$id")).mkString(" "))
    }
    (0 until 4).foreach { k =>
      Bm25Stream.processBatch(batchDocs(k).toDF("doc_id", "text"),
        k.toLong, post, dl, st)
      Graft.maintain(s, indexRoots = Seq(post, dl, st), policy = policy): Unit
    }
    val before = rows(Bm25Stream.serveFrom(s, post, st))
    Bm25Stream.processBatch(batchDocs(3).toDF("doc_id", "text"), 3L,
      post, dl, st)
    assert(rows(Bm25Stream.serveFrom(s, post, st)) == before,
      "a replay across the auto-tick changed the BM25 serve")
  }

  test("embedding-dedup shape: the builder's maintainEvery ticks fold " +
      "mid-stream and a newest-batch replay is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("tick_emb").toString
    val (idx, prs, ck) = (s"$root/i", s"$root/p", s"$root/ck")
    def vec(id: Long) = Array(
      math.cos(id * 0.37).toFloat, math.sin(id * 0.37).toFloat,
      ((id % 7) / 7.0).toFloat)
    val batches = (0 until 4).map(k =>
      (0 until 3).map(i => (k * 3L + i, vec(k * 3L + i))))
    val stream = MemoryStream[(Long, Array[Float])]
    val vecs = stream.toDF.toDF("id", "emb")
    batches.foreach { b =>
      stream.addData(b)
      EmbDedupStream.start(vecs, "id", "emb", idx, prs, ck,
        threshold = 0.95, nPlanes = 2, maintainEvery = 1, policy = policy)
        .awaitTermination()
    }
    // the ticks actually folded: fewer than one run per batch survives
    val runCount = new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("batch="))
    assert(runCount < 4, s"no mid-stream fold fired: $runCount runs")
    def state() = (rows(EmbDedupStream.readPairs(s, prs)),
      rows(EmbDedupStream.readIndex(s, idx)
        .select(col("vec_id"), col("sketch"))))
    val before = state()
    EmbDedupStream.processBatch(batches.last.toDF("id", "emb"), 3L,
      "id", "emb", idx, prs, threshold = 0.95, nPlanes = 2)
    assert(state() == before,
      "a replay across the auto-tick changed the emb-dedup state")
  }

  test("vector-index shape: the builder's maintainEvery folds cluster= " +
      "runs mid-stream; index == batch assignment; replay is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("tick_vec").toString
    val (idx, ck) = (s"$root/i", s"$root/ck")
    def vec(id: Long) = Array(
      ((id * 31 + 7) % 97).toFloat, ((id * 17 + 3) % 89).toFloat,
      ((id * 13 + 11) % 83).toFloat)
    val all = (0L until 24L).map(id => (id, vec(id)))
    VectorIndexStream.createIndex(all.toDF("vec_id", "vec"),
      "vec_id", "vec", idx)
    val stream = MemoryStream[(Long, Array[Float])]
    val vecs = stream.toDF.toDF("vec_id", "vec")
    all.grouped(6).foreach { b =>
      stream.addData(b)
      VectorIndexStream.start(vecs, "vec_id", "vec", idx, ck,
        maintainEvery = 1, policy = policy).awaitTermination()
    }
    val runCount = new java.io.File(idx).listFiles()
      .count(_.getName.startsWith("batch="))
    assert(runCount < 4, s"no mid-stream fold fired: $runCount runs")
    def state() = rows(VectorIndexStream.readIndex(s, idx)
      .select(col("vec_id"), col("cluster").cast("bigint")))
    val before = state()
    // the maintained index equals the batch assignment row for row
    val cents = VectorIndexStream.readCentroids(s, idx)
    assert(before == rows(Graft.ivfAssign(all.toDF("vec_id", "vec"),
      "vec_id", "vec", cents, "cid", "cv")
      .select(col("vec_id"), col("cluster").cast("bigint"))))
    VectorIndexStream.processBatch(all.takeRight(6).toDF("vec_id", "vec"),
      3L, "vec_id", "vec", idx)
    assert(state() == before,
      "a replay across the auto-tick changed the vector index")
  }

  test("media shape: replay of the newest batch over mid-stream-folded " +
      "mb=/pairs/quarantine logs is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("tick_media").toString
    val (idx, prs, qr) = (s"$root/i", s"$root/p", s"$root/q")
    def step(ids: Seq[Long], batchId: Long): Unit = {
      val payloads = ids.map { id =>
        (id, if (id >= 100L) MultimodalOps.corruptPayload(id)
             else MultimodalOps.syntheticNoisePgm(id))
      }
      MediaDedupStream.processBatch(payloads.toDF("doc_id", "payload"),
        batchId, "doc_id", "payload", MultimodalOps.dHashPgmE,
        idx, prs, qr)
      Graft.maintain(s, indexRoots = Seq(idx, prs, qr),
        policy = policy): Unit
    }
    // 10/11 and 20/21 are same-base near-twins (cross-batch for 20/21);
    // 102 quarantines — all three logs are non-trivial
    step(Seq(10L, 11L), 0L)
    step(Seq(20L, 102L), 1L)
    step(Seq(30L, 40L), 2L)
    step(Seq(21L), 3L)
    def state() = (rows(MediaDedupStream.readPairs(s, prs)),
      rows(MediaDedupStream.readQuarantine(s, qr)),
      rows(s.read.parquet(idx).drop("batch")))
    val before = state()
    assert(before._1.nonEmpty && before._2.nonEmpty)
    MediaDedupStream.processBatch(
      Seq((21L, MultimodalOps.syntheticNoisePgm(21L)))
        .toDF("doc_id", "payload"),
      3L, "doc_id", "payload", MultimodalOps.dHashPgmE, idx, prs, qr)
    assert(state() == before,
      "a replay across the auto-tick changed the media-dedup state")
  }

  test("bloom shape: replay of the newest batch over mid-stream-folded " +
      "bitmap/key logs is a no-op on the folded bitmap and key set") {
    val s = TestSpark.spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("tick_bloom").toString
    val all = (0L until 300L).map(_ * 3L)
    all.grouped(75).zipWithIndex.foreach { case (ks, id) =>
      BloomStream.processBatch(ks.toDF("k"), id.toLong, root)
      Graft.maintain(s, indexRoots = Seq(s"$root/bloom", s"$root/keys"),
        policy = policy): Unit
    }
    def state() = (BloomStream.foldedBloom(s, root).head().getSeq[Long](0),
      rows(s.read.parquet(s"$root/keys").select("k").distinct()))
    val before = state()
    BloomStream.processBatch(all.takeRight(75).toDF("k"), 3L, root)
    assert(state() == before,
      "a replay across the auto-tick changed the bloom state")
  }

  test("er shape: the builder's maintainEvery prunes label snapshots to " +
      "the retention pair mid-stream; resolved == recompute; a " +
      "newest-batch replay over the pruned snapshots is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("tick_er").toString
    val (prs, lbl, ck) = (s"$root/p", s"$root/l", s"$root/ck")
    val catalog = (0 until 12)
      .map(i => (i.toLong, f"entity_name_$i%03d")).toDF("entity_id", "ename")
    def mname(i: Int): String = {
      val n = f"entity_name_${i % 12}%03d"
      if (i % 3 == 0) n else n.substring(0, 4) + n.substring(5)
    }
    val mentions = (0 until 24).map(i => (1000L + i, mname(i)))
    val stream = MemoryStream[(Long, String)]
    val ms = stream.toDF.toDF("mention_id", "mname")
    mentions.grouped(6).foreach { b =>
      stream.addData(b)
      ErStream.start(ms, catalog, prs, lbl, ck,
        maintainEvery = 1, policy = policy).awaitTermination()
    }
    // mid-stream retention held: never one snapshot per batch
    val snaps = new java.io.File(lbl).listFiles()
      .count(_.getName.startsWith("batch="))
    assert(snaps <= policy.snapshotKeep + 1,
      s"label snapshots unretained mid-stream: $snaps")
    def state() = rows(ErStream.resolved(s, catalog, prs, lbl))
    val before = state()
    // resolved ≡ the one-shot recompute over all mentions
    val oneRoot = java.nio.file.Files.createTempDirectory("tick_er1").toString
    ErStream.processBatch(mentions.toDF("mention_id", "mname"), 0L,
      catalog, s"$oneRoot/p", s"$oneRoot/l")
    assert(before == rows(ErStream.resolved(s, catalog,
      s"$oneRoot/p", s"$oneRoot/l")),
      "maintained ER stream diverged from recompute")
    ErStream.processBatch(mentions.takeRight(6).toDF("mention_id", "mname"),
      3L, catalog, prs, lbl)
    assert(state() == before,
      "a replay across the auto-tick changed the resolved assignments")
  }

  test("the ER builder refuses a tick schedule that cannot keep the " +
      "replay's predecessor snapshot") {
    val s = TestSpark.spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[(Long, String)]
    val ms = stream.toDF.toDF("mention_id", "mname")
    val catalog = Seq((1L, "one")).toDF("entity_id", "ename")
    intercept[IllegalArgumentException] {
      ErStream.start(ms, catalog, "/tmp/x", "/tmp/y", "/tmp/z",
        maintainEvery = 1,
        policy = Graft.MaintenancePolicy(snapshotKeep = 1))
    }
  }
}
