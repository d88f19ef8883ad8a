package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What one run measured. `metrics` maps a metric name to (value, unit);
  * `info` lines are printed before the result (tail latency, counts). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        endToEnd: Map[String, (Double, String)],
                        perLayer: Map[String, (Double, String)],
                        info: Seq[String])

/** The run's settings and clocks. `startTimed` marks the first timed
  * operation; `setup_s` is the time from the JVM's start to that mark.
  * `jvm` is this JVM's index among the run's JVMs (it names the trace). */
final class Ctx(val seed: Long, val seconds: Double,
                val trace: Boolean, val work: File, val traceDir: File, val jvm: Int) {
  private var setupS = Double.NaN
  def startTimed(): Unit = if (setupS.isNaN)
    setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  def setup: Double = setupS
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "decode_stream" -> DecodeStream.run,
    "cdc_ingest" -> CdcIngest.run,
    "cluster_labels" -> ClusterLabels.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${Workloads.keys.mkString(", ")})"))
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", new File(opts("work")), new File(opts("traces")),
      opts.get("jvm").fold(0)(_.toInt))
    Trace.on = ctx.trace
    val res = run(ctx)
    res.info.foreach(l => println(s"[perfbench] $l"))
    val metrics = if (ctx.trace) {
      println("[perfbench] traced end-to-end (tracing overhead = traced - untraced): " +
        res.endToEnd.toSeq.sortBy(_._1).map { case (k, (v, u)) => s"$k=$v $u" }.mkString(", "))
      res.perLayer
    } else res.endToEnd
    if (ctx.trace)
      Trace.report(new File(ctx.traceDir, s"$workload-seed${ctx.seed}-jvm${ctx.jvm}.json"),
        res.perLayer.map { case (k, (v, _)) => k -> v })
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    println(s"""{"correct": ${res.correct}, "attempted": ${res.attempted}, """ +
      s""""failed": ${res.failed}, "metrics": {$body}}""")
    System.out.flush()
    // Non-daemon Spark and pool threads must not keep the JVM alive.
    Runtime.getRuntime.halt(if (res.correct) 0 else 1)
  }

  // ---------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p90/p99/p99.9 that leaves at least ten samples
    * beyond it, as (label, value); None with fewer than forty samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.999 -> "p99.9", 0.99 -> "p99", 0.9 -> "p90")
      .find { case (q, _) => xs.length * (1 - q) >= 10 }
      .map { case (q, l) => l -> quantile(xs, q) }

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * frees broadcast and shuffle state only after a collection has queued
    * their weak references, so collect until the figure stops falling. */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var next = { Thread.sleep(300); used() }
    var rounds = 0
    while (next < last - 0.5 && rounds < 8) {
      last = next; Thread.sleep(300); next = used(); rounds += 1
    }
    math.min(last, next)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  /** (files, bytes) of the data files under `root`, hidden ones excluded. */
  def storeSize(root: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
        .flatMap(walk)
      else Seq(f)
    val fs = walk(root)
    (fs.size, fs.map(_.length).sum)
  }
}
