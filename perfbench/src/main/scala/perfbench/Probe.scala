package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Streaming progress of every query, from Spark's StreamingQueryListener.
  * Events arrive on the listener bus after the fact; [[await]] waits for a
  * query's termination event, which the bus delivers after all its
  * progress events. */
final class ProgressProbe extends StreamingQueryListener {
  private val progress = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private val done = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.runId, _ => mutable.ArrayBuffer.empty)
      .synchronized { progress.get(e.progress.runId) += e.progress }: Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    done.add(e.runId): Unit

  /** Wait for `q` to end, then return its batches' progress in order. */
  def await(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!done.contains(q.runId) && System.nanoTime() < deadline) Thread.sleep(5)
    require(done.contains(q.runId), s"no termination event for query ${q.runId}")
    Option(progress.remove(q.runId)).map(_.toVector).getOrElse(Vector.empty)
      .filter(_.numInputRows > 0).sortBy(_.batchId)
  }
}

object ProgressProbe {
  def install(spark: SparkSession): ProgressProbe = {
    val p = new ProgressProbe
    spark.streams.addListener(p)
    p
  }

  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Record each batch as a span under the `<layer>.stream` span that ran
    * it, with its progress phases as child spans laid end to end in the
    * order a trigger runs them. Returns each batch's `addBatch` span id. */
  def trace(ps: Seq[StreamingQueryProgress], layer: String): Map[(java.util.UUID, Long), Int] = {
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
      "commitOffsets")
    val streams = Trace.all.filter(_.name == s"$layer.stream")
    ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val end = start + (duration(p, "triggerExecution") * 1e6).toLong
      val stream = streams.find(s => s.start <= start && start <= s.end).map(_.id).getOrElse(-1)
      val id = Trace.add(s"$layer.batch", start, end, stream, p.batchId)
      var t = start
      var addBatch = id
      phases.foreach { ph =>
        val d = (duration(p, ph) * 1e6).toLong
        if (d > 0) {
          val c = Trace.add(s"$layer.$ph", t, t + d, id, p.batchId)
          if (ph == "addBatch") addBatch = c
          t += d
        }
      }
      (p.runId, p.batchId) -> addBatch
    }.toMap
  }
}

/** Spark jobs, stages, tasks and bytes per micro-batch, from a SparkListener.
  * A job belongs to the (query, batch) named by the `sql.streaming.queryId`
  * and `streaming.sql.batchId` local properties that Spark sets on the
  * batch's thread; threads started inside the batch inherit them. */
final class JobProbe extends SparkListener {
  final case class Job(query: String, batch: Long, start: Long, var end: Long,
                       var stages: Int = 0, var tasks: Int = 0,
                       var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
                       var written: Long = 0)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val started = new java.util.concurrent.atomic.AtomicInteger()
  private val ended = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var unattributed = 0

  /** Wait until every job that started has ended (events are delivered
    * asynchronously, after the query's own end). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (started.get == ended.get) stable += 1 else stable = 0
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val props = Option(e.properties)
    val q = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    (q, b) match {
      case (Some(qq), Some(bb)) =>
        jobs.put(e.jobId, Job(qq, bb.toLong, e.time, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      case _ => unattributed += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.end = e.time))
    ended.incrementAndGet(): Unit
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      val m = Option(e.taskMetrics)
      j.synchronized {
        j.tasks += 1
        m.foreach { tm =>
          j.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          j.written += tm.outputMetrics.bytesWritten
        }
      }
    }
  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  def jobsOf(query: String, batch: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.query == query && j.batch == batch).toSeq
  def unattributedJobs: Int = unattributed
}

object JobProbe {
  def install(spark: SparkSession): JobProbe = {
    val p = new JobProbe
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Per-batch Spark figures averaged over `ps`, plus each job recorded as
    * a span under its batch's `addBatch` phase. Residual = trigger wall
    * time not covered by any job of that batch. */
  def perBatch(probe: JobProbe, ps: Seq[StreamingQueryProgress],
               parents: Map[(java.util.UUID, Long), Int]): Map[String, Double] = {
    probe.quiesce()
    val rows = ps.map { p =>
      val js = probe.jobsOf(p.id.toString, p.batchId)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trig = ProgressProbe.duration(p, "triggerExecution")
      val busy = Trace.covered(Span(-1, "", start, start + trig.toLong, -1, -1),
        js.map(j => Span(-1, "", j.start, j.end, -1, -1)))
      val parent = parents.getOrElse((p.runId, p.batchId), -1)
      js.foreach(j => Trace.add("spark.job", j.start * 1000000L, j.end * 1000000L, parent, p.batchId))
      Seq(js.size.toDouble, js.map(_.stages).sum.toDouble, js.map(_.tasks).sum.toDouble,
        js.map(_.shuffleRead).sum.toDouble, js.map(_.shuffleWrite).sum.toDouble,
        js.map(_.written).sum.toDouble, trig - busy)
    }
    println(s"[perfbench] bytes written per batch: ${rows.map(_(5).toLong).mkString(" ")}")
    val n = math.max(rows.size, 1)
    val names = Seq("spark.jobs_per_batch", "spark.stages_per_batch", "spark.tasks_per_batch",
      "spark.shuffle_read_bytes_per_batch", "spark.shuffle_write_bytes_per_batch",
      "written_bytes_per_batch", "spark.residual_ms_per_batch")
    names.zipWithIndex.map { case (name, i) => name -> rows.map(_(i)).sum / n }.toMap
  }
}
