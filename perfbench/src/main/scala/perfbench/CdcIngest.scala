package perfbench

import graft.cdc.{CdcConfig, CdcSession}
import graft.streaming.CdcPipeline
import java.io.{ByteArrayOutputStream, File}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** A row of the materialized table as its users read it. */
final case class MatRow(k: Long, lastSeq: Long, v: Option[Double], oldV: Option[Double],
                        etype: Option[String])

/** A committed change as the sink receives it (the pipeline's `Committed`). */
final case class Change(k: Long, seq: Long, v: Option[Double], oldV: Option[Double],
                        etype: Option[String], op: String)

/** A generated CDC stream over a six-column table, with the generator's own
  * model of what the pipeline must materialize.
  *
  * Make-up: inserts of new keys (so the table grows), UPDBEF/UPDAFT pairs
  * and deletes on live keys, about 7% of transactions rolled back, about a
  * third of each chunk's transactions ending in the next chunk, and chunk
  * `dupChunk` delivered twice (a second file that sorts right after it). */
final class CdcStreamGen(seed: Long, chunks: Int, txnsPerChunk: Int) {
  val Tabid = 1
  val cols: IndexedSeq[Wire.Col] = IndexedSeq(
    Wire.Col("k", "bigint", Wire.KBigint),
    Wire.Col("v", "float", Wire.KFloat8),
    Wire.Col("etype", "varchar(32)", Wire.KVarchar),
    Wire.Col("amount", "decimal(16,2)", Wire.KDec(16, 2)),
    Wire.Col("ts", "datetime year to fraction(5)", Wire.KDTime),
    Wire.Col("note", "lvarchar(256)", Wire.KLvarchar))
  val dupChunk: Int = chunks / 2

  /** (chunk files in delivery order as (name, bytes); latest committed
    * image per live key; highest LSN of a committed row image; frames other
    * than TABSCHEM over all delivered files; committed changes grouped by
    * the chunk their transaction ends in; committed row changes; changes
    * of rolled-back transactions.) */
  val (files: Seq[(String, Array[Byte])], model: Map[Long, MatRow], lastCommitted: Long,
    sourceRows: Long, committedByChunk: Seq[Seq[Change]], items: Long,
    rolledBack: Seq[Change]) = generate()

  private def generate() = {
    val Etypes = Array("signup", "click", "view", "purchase", "error", null)
    val r = new SplittableRandom(seed)
    val outs = Array.fill(chunks)(new ByteArrayOutputStream(1 << 20))
    val frames = new Array[Long](chunks)
    outs.foreach(o => Wire.tabschem(o, Tabid, cols))
    val live = mutable.LinkedHashMap.empty[Long, MatRow]
    val liveKeys = mutable.ArrayBuffer.empty[Long]  // may hold deleted keys; checked on use
    val byChunk = Array.fill(chunks)(Vector.newBuilder[Change])
    val undone = Vector.newBuilder[Change]
    var seq = 1000L
    var nextKey = 0L
    var lastSeq = 0L
    var nItems = 0L
    def next(): Long = { seq += 1; seq }
    def values(k: Long, v: Option[Double], e: Option[String]): IndexedSeq[Any] = IndexedSeq(
      k, v.map(Double.box).orNull, e.orNull,
      new java.math.BigDecimal(java.math.BigInteger.valueOf(r.nextLong(100000000L)), 2),
      java.time.Instant.ofEpochSecond(1700000000L + r.nextInt(100000000), r.nextInt(1000000) * 1000L),
      if (r.nextInt(4) == 0) null else "n" * r.nextInt(40))
    for (c <- 0 until chunks; _ <- 0 until txnsPerChunk) {
      val txid = next().toInt
      val late = c < chunks - 1 && r.nextInt(3) == 0
      val rollback = r.nextInt(100) < 7
      val out = outs(c)
      Wire.begin(out, next(), txid, 0L, 0); frames(c) += 1
      val touched = mutable.Set.empty[Long]
      val changes = Vector.newBuilder[Change]
      val n = 1 + r.nextInt(6)
      for (_ <- 0 until n) {
        val roll = r.nextInt(10)
        val existing =
          if (roll < 6 || liveKeys.isEmpty) None
          else {
            val k = liveKeys(r.nextInt(liveKeys.size))
            if (live.contains(k) && !touched(k)) Some(k) else None
          }
        val v = if (r.nextInt(10) == 0) None else Some(math.rint(r.nextDouble() * 1e6) / 100)
        val e = Option(Etypes(r.nextInt(Etypes.length)))
        existing match {
          case None =>
            val k = nextKey; nextKey += 1
            val s = next()
            Wire.row(out, Wire.INSERT, s, txid, Tabid, cols, values(k, v, e)); frames(c) += 1
            changes += Change(k, s, v, None, e, "upsert")
            touched += k
          case Some(k) if roll < 9 =>
            val before = live(k)
            val s0 = next(); val s1 = next()
            Wire.row(out, Wire.UPDBEF, s0, txid, Tabid, cols, values(k, before.v, before.etype))
            Wire.row(out, Wire.UPDAFT, s1, txid, Tabid, cols, values(k, v, e)); frames(c) += 2
            changes += Change(k, s1, v, before.v, e, "upsert")
            touched += k
          case Some(k) =>
            val before = live(k)
            val s = next()
            Wire.row(out, Wire.DELETE, s, txid, Tabid, cols, values(k, before.v, before.etype))
            frames(c) += 1
            changes += Change(k, s, before.v, None, before.etype, "delete")
            touched += k
        }
      }
      val end = if (late) c + 1 else c
      if (rollback) {
        Wire.rollback(outs(end), next(), txid); frames(end) += 1
        undone ++= changes.result()
      }
      else {
        Wire.commit(outs(end), next(), txid, 0L); frames(end) += 1
        val cs = changes.result()
        cs.foreach { ch =>
          if (ch.op == "delete") live.remove(ch.k)
          else {
            if (!live.contains(ch.k)) liveKeys += ch.k
            live(ch.k) = MatRow(ch.k, ch.seq, ch.v, ch.oldV, ch.etype)
          }
          lastSeq = math.max(lastSeq, ch.seq)
        }
        nItems += cs.size
        byChunk(end) ++= cs
      }
    }
    (0 until chunks).foreach { c => Wire.timeout(outs(c), next()); frames(c) += 1 }
    val named = (0 until chunks).map(c => (f"chunk-$c%03d.bin", outs(c).toByteArray, frames(c)))
    val delivered = named.flatMap { case t @ (_, bytes, n) =>
      if (t._1 == f"chunk-$dupChunk%03d.bin") Seq(t, (f"chunk-$dupChunk%03dr.bin", bytes, n))
      else Seq(t)
    }
    (delivered.map { case (n, b, _) => (n, b) }, live.toMap, lastSeq,
      delivered.map(_._3).sum, byChunk.map(_.result()).toSeq, nItems, undone.result())
  }

  def write(dir: File): Unit = {
    dir.mkdirs()
    files.foreach { case (n, b) => java.nio.file.Files.write(new File(dir, n).toPath, b) }
  }
}

object CdcIngest {
  val Chunks = 4
  val TxnsPerChunk = 1000
  val WarmupStreams = 1
  val MinRounds = 2

  val ChangeSchema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("last_seq", LongType, nullable = false),
    StructField("v", DoubleType), StructField("old_v", DoubleType),
    StructField("etype", StringType), StructField("op", StringType)))

  /** Spark runs `local[Cores]`: half of a 4-core machine, so the thread
    * that plans each batch, the JIT and the collector do not compete with
    * the task threads. */
  val Cores = 2

  def session(): SparkSession = {
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors)
    graft.Session.build(s"local[$cores]", cores.toString)
  }

  def readTable(spark: SparkSession, dir: String): Seq[MatRow] =
    CdcPipeline.readMaterialized(spark, dir)
      .select("k", "last_seq", "v", "old_v", "etype").collect().toSeq.map { r =>
        MatRow(r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]), Option(r.getString(4)))
      }

  def run(ctx: Ctx): Result = {
    val spark = session()
    try runIn(ctx, spark) finally spark.stop()
  }

  private def runIn(ctx: Ctx, spark: SparkSession): Result = {
    val progress = ProgressProbe.install(spark)
    val jobs = if (ctx.trace) Some(JobProbe.install(spark)) else None
    val gen = new CdcStreamGen(ctx.seed, Chunks, TxnsPerChunk)
    val chunkDir = ctx.dir("chunks")
    gen.write(chunkDir)
    var round = 0

    /** One stream over every chunk into a fresh table, then the read-back.
      * Returns (round seconds, batch progress, table rows, last committed). */
    def stream(): (Double, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        Seq[MatRow], Long, String) = {
      round += 1
      val root = ctx.dir(s"round-$round")
      val table = new File(root, "table").getAbsolutePath
      val t0 = System.nanoTime()
      val ps = Trace.span("cdc.stream") {
        progress.await(CdcPipeline.startV2(spark, chunkDir.getAbsolutePath,
          new File(root, "checkpoint").getAbsolutePath, table, maxFilesPerTrigger = Some(1)))
      }
      val rows = Trace.span("cdc.readMaterialized")(readTable(spark, table))
      val last = Trace.span("cdc.lastCommittedSeq")(CdcPipeline.lastCommittedSeq(spark, table))
      ((System.nanoTime() - t0) / 1e9, ps, rows, last, table)
    }

    val errors = mutable.ArrayBuffer.empty[String]
    /** Check a round; returns its mismatches (one per wrong key or figure). */
    def check(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
              rows: Seq[MatRow], last: Long): Int = {
      val before = errors.size
      errors ++= Checks.materialized(gen.model, rows)
      if (last != gen.lastCommitted)
        errors += s"lastCommittedSeq $last, generator's highest committed LSN ${gen.lastCommitted}"
      val input = ps.map(_.numInputRows).sum
      if (input != gen.sourceRows)
        errors += s"source delivered $input rows, generator wrote ${gen.sourceRows} frames"
      errors.size - before
    }

    (1 to WarmupStreams).foreach { _ =>
      val (_, ps, rows, last, _) = stream()
      check(ps, rows, last)
      Main.rm(ctx.dir(s"round-$round"))
    }

    ctx.startTimed()
    var timed = 0.0
    var rounds = 0
    var failed = 0L
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    var lastTable = ""
    // At least two rounds: on a slower machine one round can pass
    // `--seconds` alone, and a run of one round measures other batches.
    while (rounds < MinRounds || timed < ctx.seconds) {
      if (rounds > 0) Main.rm(new File(lastTable).getParentFile)
      val (s, ps, rows, last, table) = stream()
      timed += s
      rounds += 1
      batches ++= ps
      lastTable = table
      failed += check(ps, rows, last)
    }
    val heap = Main.liveHeapMb()
    val batchS = batches.map(ProgressProbe.duration(_, "triggerExecution") / 1000.0).toSeq

    val layers = if (!ctx.trace) Map.empty[String, (Double, String)] else {
      val parents = ProgressProbe.trace(batches.toSeq, "cdc")
      val spark1 = JobProbe.perBatch(jobs.get, batches.toSeq, parents)
      val mean = (f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =>
        batches.map(f).sum / batches.size
      // Source alone: CdcSession.activate into a counting sink.
      var counted = 0L
      val srcRoot = ctx.dir("source-only")
      val sq = CdcSession(CdcConfig(maxRecords = 100)).enable(gen.Tabid, "cdc_stream")
        .activate(spark, chunkDir.getAbsolutePath, seqNumber = 0L)
        .writeStream.option("checkpointLocation", new File(srcRoot, "ck").getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => counted += df.count())
        .start()
      val srcPs = Trace.span("sources.stream")(progress.await(sq))
      ProgressProbe.trace(srcPs, "sources")
      if (counted != gen.sourceRows)
        errors += s"source-only stream counted $counted rows, generator wrote ${gen.sourceRows}"
      // Sink alone: mergeLatest on the generator's committed batches.
      val sinkDir = new File(ctx.dir("sink-only"), "table").getAbsolutePath
      val merges = gen.committedByChunk.filter(_.nonEmpty).map { cs =>
        val df = spark.createDataFrame(spark.sparkContext.parallelize(cs.map(c =>
          Row(c.k, c.seq, c.v.orNull, c.oldV.orNull, c.etype.orNull, c.op)), 4), ChangeSchema)
        val t0 = System.nanoTime()
        Trace.span("streaming.mergeLatest")(CdcPipeline.mergeLatest(df, sinkDir))
        (System.nanoTime() - t0) / 1e9
      }
      errors ++= Checks.materialized(gen.model, readTable(spark, sinkDir)).map("direct merge: " + _)
      Layers.of(
        "sources.latest_offset_ms" -> mean(ProgressProbe.duration(_, "latestOffset")),
        "sources.input_rows_per_batch" -> mean(_.numInputRows.toDouble),
        "sources.scan_s_per_batch" ->
          srcPs.map(ProgressProbe.duration(_, "triggerExecution")).sum / 1000.0 / srcPs.size,
        "streaming.add_batch_ms" -> mean(ProgressProbe.duration(_, "addBatch")),
        "streaming.state_rows" -> mean(_.stateOperators.headOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)),
        "streaming.state_commit_ms" ->
          mean(_.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)),
        "streaming.sink_merge_s" -> merges.sum / merges.size,
        "streaming.sink_bytes_written_per_batch" -> spark1("written_bytes_per_batch"),
        "streaming.table_files" -> Main.storeSize(new File(lastTable))._1.toDouble) ++
        Layers.of(spark1.toSeq.filter(_._1.startsWith("spark.")): _*)
    }

    Result(
      correct = errors.isEmpty,
      attempted = gen.items * rounds, failed = math.min(failed, gen.items * rounds),
      endToEnd = Map(
        "setup_s" -> (ctx.setup, "s"),
        "throughput" -> (gen.items * rounds / timed, "items/s"),
        "batch_p50_s" -> (Main.median(batchS), "s"),
        "live_heap_mb" -> (heap, "MB")),
      perLayer = Layers.empty ++ layers,
      info = Seq(
        s"cdc_ingest: $rounds timed streams of ${gen.files.size} chunk files " +
          s"(chunk ${gen.dupChunk} twice), ${gen.items} committed changes, " +
          s"${gen.model.size} live keys, ${gen.sourceRows} source rows per stream",
        f"stream seconds: total $timed%.3f, batch n=${batchS.size} p50=${Main.median(batchS)}%.4f" +
          Main.tail(batchS).map { case (l, v) => f" $l=$v%.4f" }.getOrElse(""),
        s"per-batch seconds: ${batchS.map(x => f"$x%.3f").mkString(" ")}") ++
        jobs.map(j => s"jobs outside any micro-batch: ${j.unattributedJobs}") ++
        errors.take(10).map("MISMATCH " + _))
  }
}
