package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public API surface on user-shaped frames (custom column names,
  * planted duplicates/deletes) — the "switch to this library" contract. */
class GraftApiSuite extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  test("exactDedup groups planted duplicates and keeps the minimum id") {
    val docs = Seq((10L, "same text"), (3L, "same text"), (7L, "unique"))
      .toDF("my_id", "body")
    val got = Graft.exactDedup(docs, "my_id", "body")
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((3L, 2L), (7L, 1L)))
  }

  test("nearDupPairs finds a planted near-duplicate, not unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "content")
    val pairs = Graft.nearDupPairs(docs, "id", "content", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("nearDupPairsIncremental finds batch-touching pairs only") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val baseDup = (1 to 40).map(i => if (i == 20) "X" else s"tok$i").mkString(" ")
    val old1 = (1 to 40).map(i => s"aaa$i").mkString(" ")
    val old1Dup = (1 to 40).map(i => if (i == 7) "Y" else s"aaa$i").mkString(" ")
    // corpus: 1 (base), 2/3 (a near-dup pair ALREADY in the corpus);
    // batch: 9 (near-dup of corpus doc 1), 10 (unrelated)
    val docs = Seq(
      (1L, base), (2L, old1), (3L, old1Dup),
      (9L, baseDup), (10L, (1 to 40).map(i => s"zzz$i").mkString(" ")))
      .toDF("id", "content")
    val s2 = docs.sparkSession
    import s2.implicits._
    val got = Graft.nearDupPairsIncremental(
        docs, "id", "content", Seq(9L, 10L).toDF("id"), threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // (2,3) is corpus-internal and must NOT be re-discovered
    assert(got == Seq((1L, 9L)))
  }

  test("signatureIndex probe equals the recompute form and never scans corpus text") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def mut(at: Int) =
      (1 to 40).map(i => if (i == at) "CHANGED" else s"tok$i").mkString(" ")
    val old1 = (1 to 40).map(i => s"aaa$i").mkString(" ")
    val old1Dup = (1 to 40).map(i => if (i == 7) "Y" else s"aaa$i").mkString(" ")
    // corpus: 1 (base), 2/3 (a corpus-internal near-dup pair);
    // batch: 9 (near-dup of corpus doc 1), 11 (near-dup of 9 — a
    // WITHIN-batch pair), 10 (unrelated)
    val corpus = Seq((1L, base), (2L, old1), (3L, old1Dup)).toDF("id", "corpus_text")
    val batch = Seq((9L, mut(20)), (11L, mut(21)),
      (10L, (1 to 40).map(i => s"zzz$i").mkString(" "))).toDF("id", "body")

    val dir = java.nio.file.Files.createTempDirectory("graft_sigidx").toFile
    try {
      Graft.signatureIndex(corpus, "id", "corpus_text")
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val index = s.read.parquet(dir.getAbsolutePath)
      val probe = Graft.nearDupPairsIncremental(index, batch, "id", "body", 0.5)
      val got = probe.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // recompute form over corpus ∪ batch must agree pair-for-pair
      val all = corpus.withColumnRenamed("corpus_text", "body").unionByName(batch)
      val want = Graft.nearDupPairsIncremental(
          all, "id", "body", Seq(9L, 10L, 11L).toDF("id"), threshold = 0.5)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
      // batch×corpus AND batch×batch found; corpus-internal (2,3) is not
      assert(got.contains((1L, 9L)) && got.contains((9L, 11L)))
      assert(!got.contains((2L, 3L)))
      // the production claim: the incremental plan never reads corpus text
      assert(!probe.queryExecution.executedPlan.toString.contains("corpus_text"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  test("the indexDir overload of nearDupPairsIncremental probes a " +
      "STREAMED two-store index bucket-pruned, equal to the DataFrame form") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def mut(at: Int) =
      (1 to 40).map(i => if (at == i) "CHANGED" else s"tok$i").mkString(" ")
    val s2 = s
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_sigdir").toFile
    val idx = new java.io.File(root, "index").getAbsolutePath
    val prs = new java.io.File(root, "pairs").getAbsolutePath
    // stream two corpus batches into the two-store index
    graft.streaming.DedupStream.processBatch(
      Seq((1L, base), (2L, (1 to 40).map(i => s"aaa$i").mkString(" ")))
        .toDF("id", "body"), 0L, "id", "body", idx, prs, threshold = 0.5)
    graft.streaming.DedupStream.processBatch(
      Seq((5L, (1 to 40).map(i => s"qqq$i").mkString(" ")))
        .toDF("id", "body"), 1L, "id", "body", idx, prs, threshold = 0.5)
    // ad-hoc probe between stream runs: batch doc 9 ~ indexed doc 1,
    // 11 ~ 9 within-batch, 10 unrelated
    val batch = Seq((9L, mut(20)), (11L, mut(21)),
      (10L, (1 to 40).map(i => s"zzz$i").mkString(" "))).toDF("id", "body")
    val probe = Graft.nearDupPairsIncremental(s, idx, batch, "id", "body", 0.5)
    val got = probe.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // equals the DataFrame overload over the reconstructed legacy frame
    val want = Graft.nearDupPairsIncremental(
        graft.streaming.DedupStream.readIndex(s, idx), batch, "id", "body", 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want &&
      got == Seq((1L, 9L), (1L, 11L), (9L, 11L)), got)
    // (the bb/ib pruning itself is plan-pinned on the read seams in
    // DedupStreamSuite — the returned frame is materialized, so its own
    // executed plan is the checkpoint scan, not the store reads)
  }

  test("embNearDupPairs finds the planted near-identical vector pair only") {
    val vecs = Seq(
      (1L, Array(1f, 0.04f, 0.01f)),
      (2L, Array(0.98f, 0.05f, 0.01f)), // near-dup of 1 (cos ≈ 0.999)
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(0f, 0f, 1f)),
      (5L, Array(-1f, 0.2f, 0f)),
      (6L, Array(0.5f, 0.5f, 0.5f))).toDF("vid", "emb")
    val got = Graft.embNearDupPairs(vecs, "vid", "emb", planes = 3, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("domainMix weights are sqrt(stratum/total) and weightedSample respects them") {
    // 2 strata: 'big' has 9x the tokens of 'small'
    val docs = ((1L to 90L).map(i => (i, "big", "a b c d e f g h i j")) ++
      (91L to 100L).map(i => (i, "small", "a b c d e f g h i j")))
      .toDF("id", "dom", "body")
    val mix = Graft.domainMix(docs, Seq("dom"), "body")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(mix("big")._1 == 900L && mix("small")._1 == 100L)
    assert(math.abs(mix("big")._2 - math.sqrt(0.9)) < 1e-6)
    assert(math.abs(mix("small")._2 - math.sqrt(0.1)) < 1e-6)
    val sample = Graft.weightedSample(docs, Seq("dom"), "id", "body")
    val ids = sample.select("id").collect().map(_.getLong(0)).toSet
    // deterministic: the same call reproduces the same sample
    val ids2 = Graft.weightedSample(docs, Seq("dom"), "id", "body")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == ids2 && ids.nonEmpty && ids.subsetOf((1L to 100L).toSet))
    // the big stratum keeps a larger FRACTION (sqrt(.9) ≈ .95 vs .32)
    val bigFrac = ids.count(_ <= 90L) / 90.0
    val smallFrac = ids.count(_ > 90L) / 10.0
    assert(bigFrac > smallFrac)
  }

  test("boilerplateNgrams surfaces the planted repeated span first") {
    val boiler = "this content is licensed under creative commons attribution"
    val docs = (1L to 30L).map { i =>
      val body = (1 to 10).map(j => s"w${i}_$j").mkString(" ")
      (i, if (i <= 20) s"$boiler $body" else body)
    }.toDF("id", "body")
    val top = Graft.boilerplateNgrams(docs, "body", n = 5, k = 3).collect()
    // every 5-gram inside the boilerplate span appears in 20 docs
    assert(top.forall(_.getLong(1) == 20L))
  }

  test("charStats computes exact counts and ratios") {
    val docs = Seq((1L, "aa bb cc")).toDF("id", "body")
    val r = Graft.charStats(docs, "id", "body").head()
    assert(r.getLong(1) == 8L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 2.0)          // (8 - 2 spaces) / 3 tokens
    assert(r.getDouble(4) == 0.25)         // 2 'a' of 8 chars
  }

  test("quantizeVectors emits int8-range values that dequantize close to the input") {
    val vecs = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0f, 0f, 0f)))
      .toDF("vid", "emb")
    val rows = Graft.quantizeVectors(vecs, "vid", "emb")
      .collect().map(r => r.getLong(0) -> (r.getSeq[Float](1), r.getDouble(2))).toMap
    val (q1, s1) = rows(1L)
    assert(s1 == 1.0 && q1 == Seq(64f, -127f, 32f)) // round(.5*127)=64 (half up)
    q1.foreach(v => assert(v >= -127f && v <= 127f && v == math.rint(v).toFloat))
    assert(math.abs(q1(0) * s1 / 127 - 0.5) < 0.005) // dequantize error < 1/254
    val (q2, s2) = rows(2L) // zero vector: scale 0, all-zero qvec, no NaN
    assert(s2 == 0.0 && q2.forall(_ == 0f))
  }

  test("cosineTopK ranks by cosine against the query vector") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)))
      .toDF("vid", "emb")
    val top = Graft.cosineTopK(vecs, "vid", "emb", Array(1f, 0f), k = 2)
      .select("vid").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("stratifiedSample is deterministic and key-stable") {
    val df = (0L until 1000L).toDF("k")
    val a = Graft.stratifiedSample(df, "k", 5).collect().map(_.getLong(0)).toSet
    val b = Graft.stratifiedSample(df, "k", 5).collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 1000)
  }

  test("decontaminate removes eval texts under any id") {
    val train = Seq((1L, "clean"), (2L, "leaked"), (3L, "leaked")).toDF("id", "txt")
    val evalSet = Seq((99L, "leaked")).toDF("eid", "txt")
    val kept = Graft.decontaminate(train, evalSet, "txt")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("ngramOverlapPairs flags near-verbatim leakage, ignores small overlap") {
    val evalDoc = (1 to 40).map(i => s"ev$i").mkString(" ")
    // near-verbatim: last token changed → 27 of 28 distinct 13-grams match
    val leaked = ((1 to 39).map(i => s"ev$i") :+ "DIFF").mkString(" ")
    // shares only the first 14 tokens → 2 of 28 grams ≈ 0.07 < 0.5
    val brushed = ((1 to 14).map(i => s"ev$i") ++ (1 to 26).map(i => s"own$i")).mkString(" ")
    val clean = (1 to 40).map(i => s"tr$i").mkString(" ")
    val train = Seq((1L, leaked), (2L, brushed), (3L, clean)).toDF("id", "txt")
    val evalSet = Seq((100L, evalDoc)).toDF("id", "txt")
    val got = Graft.ngramOverlapPairs(train, evalSet, "id", "txt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L)))
  }

  test("salientTerms ranks a group-specific term above ubiquitous ones") {
    // "common" appears in every doc of both groups (df = n_docs, score =
    // tf); "rare" appears 3x in ONE doc of group a (df=1, score = 3*2=6)
    val docs = Seq(
      (1L, "a", "common rare rare rare"), (2L, "a", "common x"),
      (3L, "b", "common y"), (4L, "b", "common z"))
      .toDF("id", "grp", "body")
    val top = Graft.salientTerms(docs, "grp", "id", "body", k = 1)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(top("a") == "rare")
  }

  test("repetitionStats measures planted repetition, near-zero for clean text") {
    val clean = (1 to 30).map(i => s"w$i").mkString(" ")
    val loop = Seq.fill(15)("spam ham").mkString(" ") // one dominating 2-gram
    val docs = Seq((1L, clean), (2L, loop)).toDF("id", "body")
    val m = Graft.repetitionStats(docs, "id", "body").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getDouble(2) == 0.0) // dup_token_ratio: all distinct
    assert(m(2L).getDouble(2) > 0.9)  // 30 tokens, 2 distinct
    assert(m(2L).getDouble(4) > 0.4)  // "ham spam"/"spam ham" dominate
    assert(m(1L).getDouble(4) < 0.1)
  }

  test("ivfAssign buckets by nearest centroid; ivfProbe searches the bucket") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.95f, 0.05f)), (3L, Array(0.9f, 0.1f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 0.9f)))
      .toDF("vid", "emb")
    val cents = Seq((10, Array(1f, 0f)), (20, Array(0f, 1f))).toDF("cid", "cv")
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val clusters = assigned.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(clusters == Map(1L -> 10, 2L -> 10, 3L -> 10, 4L -> 20, 5L -> 20))
    val queries = assigned.filter($"vid" === 1L || $"vid" === 4L)
      .withColumnRenamed("vid", "qid")
    val hits = Graft.ivfProbe(assigned, "vid", "emb", queries, "qid", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // query 1 probes cluster 10 only: itself then vec 2; query 4 cluster 20
    assert(hits == Set((1L, 1, 1L), (1L, 2, 2L), (4L, 1, 4L), (4L, 2, 5L)))

    // An empty centroid table fails loudly in the assigning job, with or
    // without ANSI mode (unguarded: an index error, or NULL clusters).
    val noCents = cents.limit(0)
    val conf = vecs.sparkSession.conf
    val ansi = conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { mode =>
      conf.set("spark.sql.ansi.enabled", mode)
      val e = intercept[Exception](
        Graft.ivfAssign(vecs, "vid", "emb", noCents, "cid", "cv").collect())
      assert(e.getMessage.contains("the centroid table is empty"),
        s"ansi=$mode: ${e.getMessage}")
    } finally conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("hardNegatives mines close different-label vectors, never the " +
      "anchor's own class, ranked by similarity") {
    // cluster 10: anchor (label a) + a near different-label vec 2 (the
    // hard negative), a same-label near vec 3 (must be excluded even
    // though it is closer), and a far different-label vec 6.
    val vecs = Seq(
      (1L, Array(1f, 0f), "a"), (2L, Array(0.95f, 0.05f), "b"),
      (3L, Array(0.99f, 0.01f), "a"), (6L, Array(0.7f, 0.3f), "c"),
      (4L, Array(0f, 1f), "b"), (5L, Array(0.1f, 0.9f), "a"))
      .toDF("vid", "emb", "lbl")
    val cents = Seq((10, Array(1f, 0f)), (20, Array(0f, 1f))).toDF("cid", "cv")
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val anchors = assigned.filter($"vid" === 1L).withColumnRenamed("vid", "qid")
    val neg = Graft.hardNegatives(assigned, "vid", "emb", "lbl",
      anchors, "qid", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    // top-2: vec 2 (closest different-label), then vec 6; never 1 or 3
    assert(neg.toSeq == Seq((1L, 1, 2L, "b"), (1L, 2, 6L, "c")), neg.mkString(","))
  }

  test("writeVectorIndex + probeVectorIndex match the in-memory probe " +
      "and prune the scan to the probed partitions") {
    val s2 = graft.TestSpark.spark
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.95f, 0.05f)), (3L, Array(0.9f, 0.1f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 0.9f)))
      .toDF("vid", "emb")
    val cents = Seq((10, Array(1f, 0f)), (20, Array(0f, 1f))).toDF("cid", "cv")
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val dir = java.nio.file.Files.createTempDirectory("graft_vidx").toString
    Graft.writeVectorIndex(assigned, cents, "cid", "cv", dir)
    val queries = vecs.filter($"vid" === 1L || $"vid" === 4L)
      .withColumnRenamed("vid", "qid")
    val probe = Graft.probeVectorIndex(s2, dir, "vid", "emb", queries, "qid", k = 2)
    val got = probe.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // identical to the in-memory ivfProbe contract (see the test above)
    assert(got == Set((1L, 1, 1L), (1L, 2, 2L), (4L, 1, 4L), (4L, 2, 5L)))
    // the probed cluster ids reach the index scan as PartitionFilters
    val plan = probe.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cluster[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, plan.linesIterator.take(12).mkString("\n"))
  }

  test("writePqIndex + probePqIndex: with an unbounded short list the " +
      "three-stage funnel equals the exact in-bucket probe; multi-probe " +
      "recovers the cross-cell neighbor via the centroid ADC term") {
    val s2 = graft.TestSpark.spark
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.6f, 0.8f)),
      (2L, Array(0.707f, 0.707f)), (3L, Array(0f, 1f)))
      .toDF("vid", "emb")
    val cents = Seq((10, Array(1f, 0f)), (20, Array(0f, 1f))).toDF("cid", "cv")
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    Graft.writePqIndex(vecs, "vid", "emb", cents, "cid", "cv", dir,
      m = 2, k = 4)
    val queries = vecs.filter($"vid" === 3L).withColumnRenamed("vid", "qid")
    // single probe, short list wider than any bucket: ADC cannot drop a
    // candidate, so the result IS the exact in-bucket cosine top-k
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val expect = Graft.ivfProbe(assigned, "vid", "emb",
        assigned.filter($"vid" === 3L).withColumnRenamed("vid", "qid"),
        "qid", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val got1 = Graft.probePqIndex(s2, dir, "vid", "emb", queries, "qid",
        topK = 2, shortList = 1000, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got1 == expect)
    assert(got1 == Seq((3L, 1, 3L), (3L, 2, 1L)))
    // nprobe = 2: vector 2 lives across the border in cluster 10 (the
    // ivfMultiProbe geometry); the q·c centroid term keeps ADC scores
    // comparable across the two probed cells, so it ranks third
    val got2 = Graft.probePqIndex(s2, dir, "vid", "emb", queries, "qid",
        topK = 3, shortList = 1000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got2 == Seq((3L, 1, 3L), (3L, 2, 1L), (3L, 3, 2L)))
    // shortList = 1: only the ADC winner reaches the re-rank — the query
    // row itself (its own codes are exact, so its ADC dot is maximal)
    val got3 = Graft.probePqIndex(s2, dir, "vid", "emb", queries, "qid",
        topK = 1, shortList = 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got3 == Seq((3L, 1, 3L)))
    // the probed cluster ids reach the index scan as PartitionFilters
    val plan = Graft.probePqIndex(s2, dir, "vid", "emb", queries, "qid")
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cluster[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, plan.linesIterator.take(12).mkString("\n"))
  }

  test("rebuildPqIndex retrains from the index's own postings and equals " +
      "a from-scratch train-and-write over the same vectors") {
    val s2 = graft.TestSpark.spark
    val vecs = (0L until 24L).map { i =>
      (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
        ((i % 5) / 4.0).toFloat, 1f))
    }.toDF("vid", "emb")
    // generation 0: arbitrary untrained seed centroids — the drifted
    // state a recall audit would alarm on
    val cents0 = Seq((100, Array(1f, 0f, 0f, 0f)),
      (200, Array(0f, 1f, 0f, 0f))).toDF("cid", "cv")
    val g0 = java.nio.file.Files.createTempDirectory("graft_pq_g0").toString
    Graft.writePqIndex(vecs, "vid", "emb", cents0, "cid", "cv", g0,
      m = 2, k = 4)
    // the verb under test: retrain + re-encode into a sibling generation
    val g1 = java.nio.file.Files.createTempDirectory("graft_pq_g1").toString
    Graft.rebuildPqIndex(s2, g0, g1, "vid", "emb", m = 2, k = 4, iters = 2)
    // reference: from-scratch train-and-write over the raw vector frame
    // (the stored postings carry the same (vid, emb) rows, and training
    // is exact integer arithmetic from deterministic seeds, so the two
    // must agree LAYOUT-identically, not merely serve alike)
    val cents = Graft.trainIvfCentroids(vecs, "vid", "emb", k = 0, iters = 2)
    val cbk = Graft.trainPqCodebook(vecs, "vid", "emb", cents, "cid", "cv",
      m = 2, k = 4, iters = 2)
    val gr = java.nio.file.Files.createTempDirectory("graft_pq_ref").toString
    Graft.writePqIndex(vecs, "vid", "emb", cents, "cid", "cv", gr,
      m = 2, k = 4, codebook = Some(cbk))
    def same(a: String, b: String, what: String): Unit = {
      val x = s2.read.parquet(a)
      val cols = x.columns.sorted.map(col).toSeq
      val (xa, xb) = (x.select(cols: _*), s2.read.parquet(b).select(cols: _*))
      assert(xa.exceptAll(xb).isEmpty && xb.exceptAll(xa).isEmpty,
        s"$what differs between rebuild and from-scratch")
    }
    same(g1, gr, "postings")
    same(s"$g1/_graft_centroids", s"$gr/_graft_centroids", "centroids")
    same(s"$g1/_graft_pq_codebook", s"$gr/_graft_pq_codebook", "codebook")
    // and the rebuild actually RETRAINED: generation 0's untrained
    // centroid ids are gone (new cids = lowest stored ids)
    val cids = s2.read.parquet(s"$g1/_graft_centroids")
      .select($"cid".cast("long")).collect().map(_.getLong(0)).toSet
    assert(!cids.contains(100L) && !cids.contains(200L), cids.toString)
  }

  test("trainPqCodebook converges to exact per-group integer means and " +
      "its codes separate the groups the seed codebook cannot") {
    val s2 = graft.TestSpark.spark
    // one centroid at (0.4, 0.6) → residual slices form two tight groups
    // per subspace, but BOTH seeds (ids 0, 1) sit in group A — training
    // must migrate one codeword to group B (via the empty-code
    // keep-previous path on iteration 1)
    val vecs = ((0L until 6L).map(i => (i, Array(0.1f, 0.2f))) ++
      (6L until 12L).map(i => (i, Array(0.5f, 0.8f)))).toDF("vid", "emb")
    val cents = Seq((0, Array(0.4f, 0.6f))).toDF("cid", "cv")
    val trained = Graft.trainPqCodebook(vecs, "vid", "emb", cents,
      "cid", "cv", m = 2, k = 2, iters = 3)
    val got = trained.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toSeq)).toMap
    // exact integer group-mean residuals per subspace:
    // subspace 0: 0.1−0.4 = −0.3 / 0.5−0.4 = 0.1 micro;
    // subspace 1: 0.2−0.6 = −0.4 / 0.8−0.6 = 0.2 micro
    assert(got.values.toSet ==
      Set(Seq(-300000L), Seq(100000L), Seq(-400000L), Seq(200000L)),
      s"trained codewords: $got")
    // determinism: a second run is identical
    val again = Graft.trainPqCodebook(vecs, "vid", "emb", cents,
      "cid", "cv", m = 2, k = 2, iters = 3)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toSeq)).toMap
    assert(again == got)
    // an index written with the trained codebook gives the two groups
    // distinct codes in every subspace (the seed codebook cannot: both
    // its codewords sit in group A)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqtrain").toString
    Graft.writePqIndex(vecs, "vid", "emb", cents, "cid", "cv", dir,
      m = 2, k = 2, codebook = Some(trained))
    val codes = s2.read.parquet(dir)
      .select(col("vid"), col("code0"), col("code1")).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(codes.filterKeys(_ < 6).values.toSet.size == 1)
    assert(codes.filterKeys(_ >= 6).values.toSet.size == 1)
    assert(codes(0L) != codes(6L))
  }

  test("mediaNearDupPairs pairs same-base image variants, drops " +
      "undecodable payloads, never crosses bases") {
    import graft.multimodal.MultimodalOps
    val rows = (0L until 20L).map(id => (id, MultimodalOps.syntheticNoisePgm(id))) :+
      (99L, "definitely not an image".getBytes("UTF-8"))
    val media = rows.toDF("mid", "img")
    val pairs = Graft.mediaNearDupPairs(media, "mid", "img")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    // groups are ids 0-9 and 10-19; no pair may straddle them, and the
    // garbage payload has no fingerprint so 99 can never appear
    pairs.foreach { case (a, b) =>
      assert(a / 10 == b / 10, s"cross-base pair ($a, $b)")
      assert(a != 99L && b != 99L)
    }
    // each base's v=0 image pairs with its single-pixel variants
    assert(pairs.exists { case (a, b) => a == 0L },
      s"expected base-0 pairs, got ${pairs.take(5)}")
  }

  test("epochShuffle: reproducible permutation per epoch, epochs differ, " +
      "every doc lands in exactly one (shard, pos) slot") {
    val docs = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "body")
    def perm(epoch: Int) = Graft.epochShuffle(docs, "id", epoch, nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val e0 = perm(0)
    assert(e0 == perm(0))                       // deterministic
    assert(e0 != perm(1))                       // epochs permute differently
    assert(e0.keySet == (0L until 200L).toSet)  // a true permutation:
    assert(e0.values.toSet.size == 200)         // ...slots are unique
    // in-shard positions are dense 0..n-1
    e0.values.groupBy(_._1).foreach { case (_, slots) =>
      val ps = slots.map(_._2).toSeq.sorted
      assert(ps == (0L until ps.length.toLong))
    }
  }

  test("bpeTokenCounts runs the greedy-merge kernel per document") {
    val docs = Seq((1L, "the and there"), (2L, "zzz")).toDF("d", "txt")
    val got = Graft.bpeTokenCounts(docs, "d", "txt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the=1, and=1, there=the+re=2; zzz has no merges
    assert(got == Map(1L -> 4L, 2L -> 3L))
  }

  test("bpeEncode emits the merged symbol sequence with shared-vocab ids, " +
      "consistent with bpeTokenCounts") {
    val docs = Seq((1L, "the ring"), (2L, "zzz")).toDF("d", "txt")
    val got = Graft.bpeEncode(docs, "d", "txt")
      .orderBy($"d", $"pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // the → [the]; ring → [r, ing] (i+n rank 2, then in+g rank 8);
    // zzz stays three single chars at 1000 + 'z'
    assert(got.toSeq == Seq(
      (1L, 1, "the", 1L), (1L, 2, "r", 1000L + 'r'), (1L, 3, "ing", 8L),
      (2L, 1, "z", 1122L), (2L, 2, "z", 1122L), (2L, 3, "z", 1122L)),
      got.mkString(","))
    // sequence length always equals the count kernel's budget number
    val docs2 = Seq((1L, "the and there quantization"), (2L, "a b  c")).toDF("d", "txt")
    val lens = Graft.bpeEncode(docs2, "d", "txt")
      .groupBy($"d").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = Graft.bpeTokenCounts(docs2, "d", "txt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens == counts)
  }

  test("ivfMultiProbe recovers the cross-border neighbor single-probe misses") {
    // vec 3 sits at 45° — assigned (by tie-break) to cluster 10, but it is
    // the TRUE second neighbor of query 4 (0°-pole queries aside). A
    // border query probing only its own bucket can't see it.
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.707f, 0.707f)), (4L, Array(0f, 1f)))
      .toDF("vid", "emb")
    val cents = Seq((10, Array(1f, 0f)), (20, Array(0f, 1f))).toDF("cid", "cv")
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val queries = assigned.filter($"vid" === 4L).withColumnRenamed("vid", "qid")

    val single = Graft.ivfProbe(assigned, "vid", "emb", queries, "qid", k = 3)
      .collect().map(_.getLong(2)).toSet
    val multi = Graft.ivfMultiProbe(assigned, "vid", "emb",
        queries.drop("cluster"), "qid", cents, "cid", "cv", k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // strictly more recall: the 45° vector (bucket 10) appears only with
    // nprobe = 2, ranked by true cosine across both probed buckets
    assert(single == Set(4L, 2L)) // own bucket only: the 45° vec is invisible
    assert(multi.sortBy(_._1).map(_._2).toSeq == Seq(4L, 2L, 3L))
  }

  test("piiScrub replaces planted emails and phone numbers, counts them, " +
      "and leaves clean text byte-identical") {
    val docs = Seq(
      (1L, "contact bob@example.com or call 5551234567 today"),
      (2L, "no pii here just words and the number 42"),
      (3L, "two mails a@b.c d@e.f and short digits 123456"))
      .toDF("id", "body")
    val got = Graft.piiScrub(docs, "id", "body").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got(0) == ((1L, 1L, 1L,
      "contact <EMAIL> or call <PHONE> today")))
    assert(got(1) == ((2L, 0L, 0L, "no pii here just words and the number 42")))
    // 6-digit run is below the phone floor; both emails caught
    assert(got(2) == ((3L, 2L, 0L,
      "two mails <EMAIL> <EMAIL> and short digits 123456")))
  }

  test("piiScrub is idempotent: scrubbing scrubbed text changes nothing") {
    // <EMAIL>/<PHONE> contain no '@' and no 7-digit runs, so a second
    // pass must be the identity — re-running a pipeline stage on its own
    // output is a routine production occurrence
    val docs = Seq(
      (1L, "mail a@b.c num 12345678 tail"),
      (2L, "plain text only"))
      .toDF("id", "body")
    val once = Graft.piiScrub(docs, "id", "body")
      .select(col("doc_id").as("id"), col("scrubbed").as("body"))
    val twice = Graft.piiScrub(once, "id", "body")
      .orderBy("doc_id").collect().map(_.getString(4)).toSeq
    val onceTexts = once.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(twice == onceTexts)
    assert(onceTexts.head == "mail <EMAIL> num <PHONE> tail")
  }

  test("dataSplit is deterministic, total, and near the requested ratios") {
    val docs = (0L until 2000L).toDF("id")
    val s1 = Graft.dataSplit(docs, "id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1.keySet == Set("train", "val", "test"))
    assert(s1.values.sum == 2000L)
    assert(s1("train") > 1600 && s1("val") < 250 && s1("test") < 250)
    // re-running assigns every id to the same split (no rand anywhere)
    val a = Graft.dataSplit(docs, "id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Graft.dataSplit(docs, "id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("trainIvfCentroids refines seeds toward group structure; " +
      "ivfAssign with the trained codebook buckets the groups") {
    // two tight cosine groups; seeds (lowest ids 1 and 2) land one per
    // group, so two Lloyd's iterations pull each centroid to its group
    val vecs = Seq(
      (1L, Array(1f, 0.05f)), (3L, Array(0.98f, 0.02f)), (5L, Array(0.99f, 0f)),
      (2L, Array(0.05f, 1f)), (4L, Array(0.02f, 0.97f)), (6L, Array(0f, 1.01f)))
      .toDF("vid", "emb")
    val cents = Graft.trainIvfCentroids(vecs, "vid", "emb", k = 2, iters = 2)
    val rows = cents.collect()
    assert(rows.length == 2)
    val assigned = Graft.ivfAssign(vecs, "vid", "emb", cents, "cid", "cv")
    val byCluster = assigned.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._2)
      .map { case (c, xs) => c -> xs.map(_._1).toSet }
    assert(byCluster(1L) == Set(1L, 3L, 5L))
    assert(byCluster(2L) == Set(2L, 4L, 6L))
    // k = 0 sizes the codebook as ceil(sqrt(N)) = 3
    assert(Graft.trainIvfCentroids(vecs, "vid", "emb", iters = 1)
      .count() == 3L)
  }

  test("knnGraph fails loudly when a bucket exceeds the cap") {
    // 20 vectors forced into ONE bucket with cap 5: the oversized-bucket
    // guard must fail the query (quadratic-join protection), not run it.
    val vecs = (1L to 20L).map(i => (i, Array(1f, 0.01f * i), 1))
      .toDF("vid", "emb", "cluster")
    val e = intercept[Throwable](
      Graft.knnGraph(vecs, "vid", "emb", k = 2, bucketCap = 5).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cap 5")), messages(e).mkString(" | "))
  }

  test("√N centroid seeding keeps every IVF bucket within an O(√N) bound " +
      "on the test corpus") {
    // The scale contract behind q_knn_join/q_ann_*: with K = ⌈√N⌉ seeds,
    // no bucket should degenerate toward N/K-with-fixed-K — buckets stay
    // O(√N) (order-of-magnitude allowance for data skew), which is what
    // keeps the KNN self-join at Σ|bucket|² ≈ N^1.5.
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    val cents = emb.filter($"vec_id" < k)
      .selectExpr("cast(vec_id AS int) AS cid", "embedding AS cv")
    val assigned = Graft.ivfAssign(emb, "vec_id", "embedding", cents, "cid", "cv")
    val maxBucket = assigned.groupBy("cluster").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket <= 8 * k, s"max bucket $maxBucket > 8·√N = ${8 * k}")
    assert(maxBucket <= graft.operators.LlmQueries.DefaultKnnBucketCap)
  }

  test("embOutliers ranks the planted off-distribution vector most atypical") {
    // group 'g': three near-identical vectors + one orthogonal intruder
    val vecs = Seq(
      (1L, "g", Array(1f, 0f, 0f)), (2L, "g", Array(0.99f, 0.01f, 0f)),
      (3L, "g", Array(0.98f, 0.02f, 0f)), (4L, "g", Array(0f, 0f, 1f)),
      (5L, "h", Array(0f, 1f, 0f))).toDF("vid", "grp", "emb")
    val got = Graft.embOutliers(vecs, "vid", "emb", "grp", k = 2)
      .filter($"label" === "g").orderBy("rk").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._2).head == 4L) // the intruder is rank-1 atypical
  }

  test("embDupClusters groups a transitive chain of near-identical vectors") {
    // 1≈2 and 2≈3 (cos ≥ .99) but cos(1,3) ≈ .984 < .99: only transitive
    // closure lands all three in one cluster with keeper 1.
    val vecs = Seq(
      (1L, Array(1f, 0f, 0.05f)),
      (2L, Array(1f, 0.09f, 0.05f)),
      (3L, Array(1f, 0.18f, 0.05f)),
      (4L, Array(0f, 1f, 0f)),
      (5L, Array(0f, 0f, 1f))).toDF("vid", "emb")
    val got = Graft.embDupClusters(vecs, "vid", "emb", planes = 3, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got(1L) == (1L, true) && got(2L) == (1L, false) && got(3L) == (1L, false))
    assert(got(4L)._2 && got(5L)._2) // singletons keep themselves
  }

  test("bm25Rank ranks term-dense short docs above diluted ones and " +
      "ignores docs without query terms") {
    val docs = Seq(
      (1L, "spark rocks spark rocks"),            // 2×both terms, short
      (2L, "spark " + (1 to 50).map(i => s"pad$i").mkString(" ")), // diluted
      (3L, "nothing relevant here")).toDF("id", "body")
    val got = Graft.bm25Rank(docs, "id", "body", Seq("spark", "rocks"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L)) // 3 never scores
    assert(got.head._2 == 2L && got(1)._2 == 1L) // n_hit: both terms vs one
  }

  test("bm25Index state served through bm25Serve equals bm25Rank from " +
      "text, and postings carry dl + the crc32 token bucket") {
    val docs = Seq(
      (1L, "spark rocks spark rocks"),
      (2L, "spark " + (1 to 50).map(i => s"pad$i").mkString(" ")),
      (3L, "nothing relevant here")).toDF("id", "body")
    val (postings, doclens) = Graft.bm25Index(docs, "id", "body")
    assert(postings.columns.toSeq == Seq("doc_id", "token", "tf", "dl", "tb"))
    // tb is the driver-computable crc32 bucket — the pruned read's twin
    val tbs = postings.filter(col("token") === "spark")
      .select("tb").distinct().collect().map(_.getLong(0)).toSeq
    assert(tbs == Seq(
      graft.operators.RetrievalIndex.bucketOf("spark").toLong))
    val served = Graft.bm25Serve(postings, doclens, Seq("spark", "rocks"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ranked = Graft.bm25Rank(docs, "id", "body", Seq("spark", "rocks"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == ranked)
  }

  test("chunkDocs windows overlap by the configured amount and cover every token") {
    val docs = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" "))).toDF("id", "body")
    val chunks = Graft.chunkDocs(docs, "id", "body", window = 10, overlap = 2)
      .orderBy("chunk_id").collect()
    // stride 8 over 100 tokens → starts 0,8,...,96 → 13 chunks
    assert(chunks.length == 13)
    assert(chunks.map(_.getLong(2)).toSeq == (0L to 96L by 8L))
    // full chunks carry `window` tokens; the tail chunk is short, not padded
    assert(chunks.init.forall(_.getLong(3) == 10L) && chunks.last.getLong(3) == 4L)
    // consecutive chunks share exactly `overlap` tokens
    val first = chunks(0).getString(4).split(" ")
    val second = chunks(1).getString(4).split(" ")
    assert(first.takeRight(2).toSeq == second.take(2).toSeq)
    // coverage: the concatenation of stride-prefixes + final tail = the doc
    val rebuilt = chunks.init.flatMap(_.getString(4).split(" ").take(8)) ++
      chunks.last.getString(4).split(" ")
    assert(rebuilt.toSeq == (1 to 100).map(i => s"t$i"))
  }

  test("packSequences bins by block-local running token count") {
    // 4 docs of 30 tokens each, window 50, block 1000 (all one block):
    // cums 30/60/90/120 → bins (cum-30)//50 = 0,0,1,1
    val docs = (1L to 4L).map(i => (i, (1 to 30).map(j => s"w$j").mkString(" ")))
      .toDF("id", "body")
    val got = Graft.packSequences(docs, "id", "body", windowTokens = 50,
        blockDocs = 1000)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    assert(got == Seq((1L, 0L, 0L, 30L), (2L, 0L, 0L, 60L),
      (3L, 0L, 1L, 90L), (4L, 0L, 1L, 120L)))
    // blocks cumulate independently: same docs split into 2-id blocks
    val blocked = Graft.packSequences(docs, "id", "body", windowTokens = 50,
        blockDocs = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(blocked == Seq((1L, 0L, 30L), (2L, 1L, 30L), (3L, 1L, 60L), (4L, 2L, 30L)))
  }

  test("simhashNearDupPairs pairs token-reordered twins at hamming 0, " +
      "not unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    // same token multiset, different order → identical fingerprint
    val reordered = (1 to 60).reverse.map(i => s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, reordered), (3L, other)).toDF("id", "body")
    val got = Graft.simhashNearDupPairs(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 0L)))
  }

  test("applyChanges: truncate wipes rows at or below its position") {
    val base = Seq((1L, 10L, "a"), (2L, 11L, "b")).toDF("k", "seq", "v")
    val changes = Seq(
      (0L, 15L, "", "truncate"),   // wipes base rows (10, 11 <= 15)
      (3L, 16L, "c", "upsert"),    // survives (16 > 15)
      (4L, 12L, "stale", "upsert")) // wiped (12 <= 15)
      .toDF("k", "seq", "v", "op")
    val got = Graft.applyChanges(base, changes, Seq("k"), "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((3L, "c")))
  }

  test("dupClusters groups planted near-dups transitively and keeps one") {
    // A-B and B-C are near-dups (1 token apart, J≈0.85); A-C differ by 2
    // tokens (J≈0.73 < threshold 0.8) so the A-C edge fails verification —
    // only transitive closure can land all three in one cluster.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def mut(at: Int*) =
      (1 to 40).map(i => if (at.contains(i)) s"CHANGED$i" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val otherDup = (1 to 40).map(i => if (i == 7) "X" else s"zzz$i").mkString(" ")
    val docs = Seq(
      (1L, mut(5)), (2L, base), (3L, mut(35)),   // chain: 1-2, 2-3
      (10L, other), (11L, otherDup),             // pair
      (20L, (100 to 140).map(i => s"qqq$i").mkString(" "))) // singleton
      .toDF("my_id", "body")
    val got = Graft.dupClusters(docs, "my_id", "body", threshold = 0.8)
      .orderBy("my_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (10L, 10L, 2L, true), (11L, 10L, 2L, false),
      (20L, 20L, 1L, true)))
  }

  test("applyChanges is lazy: plan builds without running any job") {
    val base = Seq((1L, 10L, "a")).toDF("k", "seq", "v")
    // Poison seqCol: the old implementation's eager `.head()` aggregated
    // max(seq) over base+changes at BUILD time and would trip this; the
    // in-plan watermark must defer every evaluation to the first action.
    val changes = Seq((2L, "b", "upsert")).toDF("k", "v", "op")
      .withColumn("seq", when(col("k") < lit(0L), lit(0L))
        .otherwise(expr("cast(raise_error('eager action in applyChanges') AS bigint)")))
    val plan = Graft.applyChanges(base, changes, Seq("k"), "seq") // must not throw
    // Sanity: the poison is real — evaluation still trips it.
    val e = intercept[Exception] { plan.collect() }
    assert(e.getMessage.contains("eager action in applyChanges"))
  }

  test("rrfFuse prefers ids ranked well in BOTH lists; micro-units are exact") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val sem = Seq((20L, 1), (40L, 2), (10L, 3)).toDF("id", "rank")
    val r = Graft.rrfFuse(Seq(lex, sem), "id", "rank", k = 10).collect()
    assert(r.length == 4)
    // 20: 1/62 + 1/61 beats 10: 1/61 + 1/63
    assert(r(0).getLong(0) == 20L && r(1).getLong(0) == 10L)
    assert(r(0).getLong(1) == 2L) // n_lists
    assert(r(0).getLong(2) ==
      math.round(1000000.0 / 62) + math.round(1000000.0 / 61))
    // single-list ids trail the double-hit ids here
    assert(Set(r(2).getLong(0), r(3).getLong(0)) == Set(30L, 40L))
    assert(r(2).getLong(1) == 1L && r(3).getLong(1) == 1L)
  }

  test("zscoreOutliers surfaces the planted spike first") {
    val ev = Seq((1L, "g", 2.0), (2L, "g", 2.0), (3L, "g", 2.0),
      (4L, "g", 2.0), (5L, "g", 42.0)).toDF("eid", "grp", "v")
    val r = Graft.zscoreOutliers(ev, "grp", "eid", "v", k = 1).collect()
    assert(r.length == 1 && r.head.getLong(2) == 5L)
    assert(r.head.getDouble(4) == 2.0) // 4 equal + 1 spike → z exactly 2
  }

  test("groupSample returns exactly k per stratum with dense ranks") {
    val docs = (0 until 50).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "st")
    val r = Graft.groupSample(docs, Seq("st"), "id", 7)
    assert(r.groupBy($"st").count().collect().forall(_.getLong(1) == 7L))
    assert(!r.columns.contains("_draw"))
  }

  test("applyChanges: latest change wins, deletes drop the key") {
    val base = Seq((1L, 10L, "a"), (2L, 11L, "b")).toDF("k", "seq", "v")
    val changes = Seq(
      (1L, 20L, "a2", "upsert"),   // newer upsert wins
      (2L, 21L, "b", "delete"),    // delete drops key 2
      (3L, 22L, "c", "upsert"),    // new key
      (3L, 5L, "stale", "upsert")) // stale change loses
      .toDF("k", "seq", "v", "op")
    val got = Graft.applyChanges(base, changes, Seq("k"), "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((1L, "a2"), (3L, "c")))
  }

  test("pqTopK ranks the query's own codes highest and audits with the " +
      "exact dot") {
    // dim 4, m 2, k 2: codewords come from ids 0 and 1. id 2 copies id 0,
    // id 3 is opposite — ADC must rank 0's copy above the opposite.
    val vs = Seq(
      (0L, Seq(1.0f, 0.5f, -0.5f, 1.0f)),
      (1L, Seq(-1.0f, 0.25f, 0.5f, -1.0f)),
      (2L, Seq(1.0f, 0.5f, -0.5f, 1.0f)),
      (3L, Seq(-1.0f, -0.5f, 0.5f, -1.0f)))
      .toDF("vid", "vec")
    val got = Graft.pqTopK(vs, "vid", "vec", queryId = 0L, dim = 4, m = 2,
      k = 2, topK = 4)
    assert(got.columns.toSeq == Seq("vid", "code0", "code1",
      "score_micro2", "exact_micro2"))
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ids 0 and 2 (identical vectors) share codes (0,0) and the top scores
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(0L)._2 == 0L && byId(0L)._3 == 0L)
    assert(byId(2L)._2 == 0L && byId(2L)._3 == 0L)
    assert(byId(0L)._4 == byId(2L)._4)
    assert(rows.take(2).map(_._1).toSet == Set(0L, 2L))
    // exact audit: the query against itself is the max exact score
    assert(rows.map(_._5).max == byId(0L)._5)
  }

  test("funnel stages custom event types over custom column names") {
    val evs = Seq(
      (7L, 1L, "open"), (7L, 2L, "add"), (7L, 3L, "buy"),   // full funnel
      (8L, 1L, "open"), (8L, 50L, "add"),                   // add too late
      (9L, 1L, "add"), (9L, 2L, "buy"))                     // never opened
      .toDF("acct", "at", "action")
    val got = Graft.funnel(evs, "acct", "at", "action",
        Seq("open", "add", "buy"), window = 10L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(7L -> 3, 8L -> 1, 9L -> 0))
  }

  test("pageRank ranks the hub of a star graph highest, keeps the id name") {
    // 1..4 all point at 0; 0 points at 1.
    val nodes = (0L to 4L).toDF("node")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("from", "to")
    val got = Graft.pageRank(nodes, "node", edges, "from", "to", iters = 3)
    assert(got.columns.toSeq == Seq("node", "rank_micro"))
    val ranks = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(0L) > ranks(1L))                   // hub beats its spoke
    assert(Seq(2L, 3L, 4L).forall(n => ranks(1L) > ranks(n))) // spoke with an in-edge beats leaves
  }
}
