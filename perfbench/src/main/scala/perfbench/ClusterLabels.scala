package perfbench

import graft.api.Graft
import graft.streaming.ClusterStream
import java.io.File
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable

/** One document: its id, text, the family whose private vocabulary wrote
  * it, and the micro-batch it arrives in. */
final case class Doc(id: Long, text: String, family: Int, batch: Int)

/** A label row as `clusterLabels` and `dupClusters` return it. */
final case class Label(id: Long, component: Long, size: Long, keep: Boolean)

/** A document corpus generated from a seed. Every family has its own
  * vocabulary, so documents of different families share no word 3-gram.
  *
  *  - planted near-duplicate groups of 3 members: a 200-word base, an exact
  *    copy, and a copy with the last word replaced (pairwise Jaccard 0.99
  *    to 1), members in distinct batches. Their texts and batches do not
  *    depend on the seed ([[Corpus.PlantedSeed]]), so whether the program
  *    finds a group is the same in every run;
  *  - chains A, B, C of 100 words, B being A with 4 words replaced and C
  *    being B with 4 others replaced: J(A,B) = J(B,C) = 0.78 and
  *    J(A,C) = 0.61, so only the closure can join A and C;
  *  - unrelated documents of 30 to 120 words.
  *
  * Every pair's Jaccard is 0 or at least 0.08 away from the 0.7 threshold,
  * so shingle hashing cannot decide whether a pair counts. */
final class Corpus(seed: Long, batches: Int, groups: Int, chains: Int, singles: Int) {
  val (docs: Vector[Doc], planted: Seq[Seq[Long]], chainIds: Seq[Seq[Long]]) = generate()

  private def generate() = {
    val texts = mutable.ArrayBuffer.empty[(String, Int, Int)] // text, family, batch
    var family = 0
    def words(r: SplittableRandom, n: Int): Vector[String] = {
      val f = family; family += 1
      val ws = (0 until n + 16).map(j => s"w${f}q$j").toArray
      var i = n - 1 // shuffle the first n, keep the spares for edits
      while (i > 0) { val j = r.nextInt(i + 1); val t = ws(i); ws(i) = ws(j); ws(j) = t; i -= 1 }
      ws.toVector
    }
    def distinctBatches(r: SplittableRandom, k: Int): Seq[Int] = {
      val bs = (0 until batches).toArray
      var i = bs.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = bs(i); bs(i) = bs(j); bs(j) = t; i -= 1 }
      bs.take(k).toSeq
    }
    val p = new SplittableRandom(Corpus.PlantedSeed)
    val groupIdx = (0 until groups).map { _ =>
      val ws = words(p, 200)
      val base = ws.take(200)
      val variants = Seq(base, base, base.updated(199, ws(200)))
      val f = family - 1
      p.nextInt(3) // a spare draw, kept so that PlantedSeed names the texts measured in the README
      distinctBatches(p, math.min(3, batches)).zip(variants).map { case (b, v) =>
        texts += ((v.mkString(" "), f, b)); texts.length - 1
      }
    }
    val r = new SplittableRandom(seed)
    val chainIdx = (0 until chains).map { _ =>
      val ws = words(r, 100)
      val a = ws.take(100)
      val b = Seq(10, 30, 50, 70).zipWithIndex.foldLeft(a) { case (t, (p, i)) => t.updated(p, ws(100 + i)) }
      val c = Seq(20, 40, 60, 80).zipWithIndex.foldLeft(b) { case (t, (p, i)) => t.updated(p, ws(104 + i)) }
      val f = family - 1
      distinctBatches(r, 3).zip(Seq(a, b, c)).map { case (bt, t) =>
        texts += ((t.mkString(" "), f, bt)); texts.length - 1
      }
    }
    // Unrelated documents fill the batches to equal sizes.
    val fill = Array.fill(batches)(0)
    texts.foreach { case (_, _, b) => fill(b) += 1 }
    (0 until singles).foreach { _ =>
      val b = fill.indices.minBy(fill(_))
      fill(b) += 1
      val len = 30 + r.nextInt(91)
      val text = words(r, len).take(len).mkString(" ")
      texts += ((text, family - 1, b))
    }
    // Ids are a random permutation, so the smallest id of a cluster is not
    // simply the one that arrived first.
    val ids = (0L until texts.length.toLong).toArray
    var i = ids.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val docs = texts.indices.map { k =>
      val (t, f, b) = texts(k)
      Doc(ids(k), t, f, b)
    }.toVector
    (docs, groupIdx.map(_.map(ids(_))), chainIdx.map(_.map(ids(_))))
  }
}

object Corpus {
  /** The seed of the planted groups. Their 30 texts include one edit that
    * the program's MinHash misses (see the benchmark's README), so every
    * run counts the same planted member as failed. */
  val PlantedSeed = 1L
}

object ClusterLabels {
  val Batches = 3
  val Groups = 30
  val Chains = 24
  val Singles = 300
  val MaintainEvery = 2
  val Threshold = 0.7

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set(t.mkString(" "))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def readLabels(df: DataFrame): Seq[Label] =
    df.select(col("doc_id").cast("long"), col("component").cast("long"),
      col("cluster_size").cast("long"), col("keep")).collect().toSeq
      .map(r => Label(r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

  def run(ctx: Ctx): Result = {
    val spark = CdcIngest.session()
    try runIn(ctx, spark) finally spark.stop()
  }

  private def runIn(ctx: Ctx, spark: SparkSession): Result = {
    val progress = ProgressProbe.install(spark)
    val jobs = if (ctx.trace) Some(JobProbe.install(spark)) else None
    val corpus = new Corpus(ctx.seed, Batches, Groups, Chains, Singles)
    val docsDir = ctx.dir("docs")
    corpus.docs.groupBy(_.batch).toSeq.sortBy(_._1).foreach { case (b, ds) =>
      spark.createDataFrame(spark.sparkContext.parallelize(
        ds.map(d => Row(d.id, d.text)), 1), DocSchema)
        .write.parquet(new File(docsDir, f"b$b%02d").getAbsolutePath)
    }
    val allDocs = spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.docs.map(d => Row(d.id, d.text)), 4), DocSchema)
    val shingleSets = corpus.docs.map(d => d.id -> shingles(d.text)).toMap
    val familyOf = corpus.docs.map(d => d.id -> d.family).toMap
    val n = corpus.docs.size.toLong
    var round = 0
    final case class Round(seconds: Double, ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                           labels: Seq[Label], pairs: Seq[(Long, Long)], maintainS: Double,
                           serveS: Double, root: File)

    /** Stream the corpus batches that `glob` names into fresh stores, run a
      * quiesce-time maintenance tick, and read the labels. */
    def stream(glob: String = "*"): Round = {
      round += 1
      val root = ctx.dir(s"round-$round")
      def p(name: String) = new File(root, name).getAbsolutePath
      val t0 = System.nanoTime()
      val docs = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", "1")
        .parquet(docsDir.getAbsolutePath + "/" + glob)
      val ps = Trace.span("labels.stream") {
        progress.await(ClusterStream.start(docs, "doc_id", "text", p("index"), p("pairs"),
          p("labels"), p("checkpoint"), Threshold, maintainEvery = MaintainEvery))
      }
      val t1 = System.nanoTime()
      Trace.span("labels.maintain") {
        Graft.maintain(spark, indexRoots = Seq(p("index"), p("pairs")), labelDirs = Seq(p("labels")),
          policy = Graft.MaintenancePolicy(contractNow = true))
      }
      val t2 = System.nanoTime()
      val labels = Trace.span("labels.clusterLabels")(readLabels(ClusterStream.clusterLabels(spark, p("labels"))))
      val t3 = System.nanoTime()
      val pairs = spark.read.parquet(p("pairs")).select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      Round((t3 - t0) / 1e9, ps, labels, pairs, (t2 - t1) / 1e9, (t3 - t2) / 1e9, root)
    }

    val errors = mutable.ArrayBuffer.empty[String]
    var split = Seq.empty[(Long, Seq[Long])]
    /** Check a round; returns how many of its documents failed: each planted
      * member outside its group's cluster, and one per other mismatch (which
      * also makes the run incorrect). */
    def check(rd: Round, recompute: Seq[Label]): Long = {
      val errs = Checks.labels(rd.pairs, rd.labels, recompute, corpus.docs.map(_.id),
        shingleSets, familyOf, Threshold)
      errors ++= errs
      split = Checks.splitMembers(rd.labels, corpus.planted)
      errs.size.toLong + split.size
    }

    val recompute = Trace.span("labels.dupClusters")(readLabels(Graft.dupClusters(allDocs, "doc_id", "text", Threshold)))
    // Warm-up: a round over the first two batches, which runs every step of
    // a round (probe, pairs, labels, the maintenance tick after batch 2, the
    // quiesce tick and the read). A fresh JVM's first label stream runs about
    // twice as slow as later ones. It covers part of the corpus, so its
    // labels are not checked.
    Main.rm(stream("{b00,b01}").root)

    ctx.startTimed()
    var timed = 0.0
    var failed = 0L
    val rounds = mutable.ArrayBuffer.empty[Round]
    while (rounds.isEmpty || timed < ctx.seconds) {
      rounds.lastOption.foreach(r => Main.rm(r.root))
      val rd = stream()
      timed += rd.seconds
      rounds += rd
      failed += check(rd, recompute)
    }
    val heap = Main.liveHeapMb()
    val batches = rounds.flatMap(_.ps).toSeq
    val batchS = batches.map(ProgressProbe.duration(_, "triggerExecution") / 1000.0)
    val last = rounds.last
    val compOf = last.labels.map(l => l.id -> l.component).toMap
    val chainsJoined = corpus.chainIds.count(_.map(compOf.get).distinct.size == 1)

    val layers = if (!ctx.trace) Map.empty[String, (Double, String)] else {
      val parents = ProgressProbe.trace(batches, "labels")
      val sp = JobProbe.perBatch(jobs.get, batches, parents)
      val stores = Seq("index", "pairs", "labels").map(s => Main.storeSize(new File(last.root, s)))
      Layers.of(
        "labels.add_batch_ms" -> batches.map(ProgressProbe.duration(_, "addBatch")).sum / batches.size,
        "labels.pairs_per_batch" -> rounds.map(_.pairs.size).sum.toDouble / batches.size,
        "labels.maintain_s" -> rounds.map(_.maintainS).sum / rounds.size,
        "labels.serve_s" -> rounds.map(_.serveS).sum / rounds.size,
        "labels.store_files" -> stores.map(_._1).sum.toDouble,
        "labels.store_bytes" -> stores.map(_._2).sum.toDouble) ++
        Layers.of(sp.toSeq.filter(_._1.startsWith("spark.")): _*)
    }
    Result(
      correct = errors.isEmpty,
      attempted = n * rounds.size, failed = math.min(failed, n * rounds.size),
      endToEnd = Map(
        "setup_s" -> (ctx.setup, "s"),
        "throughput" -> (n * rounds.size / timed, "items/s"),
        "batch_p50_s" -> (Main.median(batchS), "s"),
        "live_heap_mb" -> (heap, "MB")),
      perLayer = Layers.empty ++ layers,
      info = Seq(
        s"cluster_labels: ${rounds.size} timed streams of $n documents in $Batches batches, " +
          s"${corpus.planted.size} planted groups, ${corpus.chainIds.size} chains " +
          s"($chainsJoined joined end to end), ${last.pairs.size} logged pairs, " +
          s"${last.labels.map(_.component).distinct.size} clusters",
        s"planted members outside their group's cluster, per round: ${split.size}" +
          split.map { case (m, g) => s"; document $m of group ${g.mkString(",")}" }.mkString,
        f"round seconds: ${rounds.map(r => f"${r.seconds}%.3f").mkString(" ")}; " +
          f"maintain ${rounds.map(_.maintainS).sum / rounds.size}%.3f s, serve ${rounds.map(_.serveS).sum / rounds.size}%.3f s",
        s"per-batch seconds: ${batchS.map(x => f"$x%.3f").mkString(" ")}") ++
        jobs.map(j => s"jobs outside any micro-batch: ${j.unattributedJobs}") ++
        errors.take(10).map("MISMATCH " + _))
  }
}
