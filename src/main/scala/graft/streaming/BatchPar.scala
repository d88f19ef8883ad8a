package graft.streaming

/** Overlap INDEPENDENT per-batch state actions on the foreachBatch path
  * (r18 — guide §2.6 "overlap independent jobs"): at micro-batch scale
  * the maintenance gates are fixed-job-count-dominated (JobCensus r18:
  * the label gate runs ~63 jobs per batch averaging ~50 ms each plus a
  * ~40 ms driver gap between consecutive jobs — the job CONSTANT, not
  * the data, is the cost), and the batch step's tail is a strictly
  * sequential chain of actions the driver submits one at a time. But the
  * chain is only PARTLY ordered: the pair-log write, the index append,
  * and the label advance touch DISJOINT roots, so Spark's scheduler can
  * run them as concurrent jobs and back-fill each other's stragglers —
  * actions are only sequential because the driver calls them
  * sequentially.
  *
  * Safety argument, per lane pair the callers submit:
  *  - every write is a `batch=<id>`-keyed OVERWRITE to a root no other
  *    lane touches, so lane interleaving cannot change any file content,
  *    and a crash with any subset of lanes committed is exactly the
  *    crash window the replay contract already covers (the replay
  *    rewrites every lane's partial verbatim — reads exclude the current
  *    batch id regardless of which lanes committed);
  *  - every READ a lane executes was CONSTRUCTED before the fork
  *    (`spark.read.parquet` captures its file listing and schema at
  *    construction), so a concurrent lane ADDING a `batch=` directory to
  *    a root another lane scans can never enter that scan's file index —
  *    the probe frames are materialized, and the one cross-root read on
  *    the label path (the advance re-reading the committed pair partial)
  *    stays INSIDE the lane that wrote it;
  *  - ordered sub-steps (alias before delta, band store before sidecar)
  *    stay inside one lane, sequential as before.
  *
  * Error contract: every lane runs to completion (a half-submitted lane
  * set would leave Spark jobs racing the stream's failure handling),
  * then the FIRST failure rethrows on the calling thread — with any
  * later lanes' failures attached via `addSuppressed` — and foreachBatch
  * fails the batch; the replay rewrites all lanes, committed or not.
  *
  * Interrupt contract (r19 — the r18 `sbt test` shutdown crash): the
  * join loop is UNINTERRUPTIBLE. An interrupt of the calling thread
  * (stream stop, suite teardown) must not orphan still-running lanes —
  * a leaked lane keeps submitting parquet writes past SparkSession /
  * JVM shutdown (the observed `SparkShutdownHookManager` crash over an
  * in-flight `FileFormatWriter` job). On interrupt we forward the
  * interrupt to every lane thread (so a lane blocked in an
  * interruptible Spark wait aborts promptly), KEEP joining until all
  * lanes have exited, and only then restore the caller's interrupt flag.
  * Lanes are non-daemon so an in-flight write blocks JVM exit instead
  * of racing it. That wait is bounded: a lane still alive
  * [[WedgedLaneLimitMs]] after the first interrupt is wedged — it
  * ignores interrupts and no Spark wait will end it — so the join logs
  * its name and stack, abandons it, and fails the batch with an
  * `IllegalStateException` (the replay rewrites every lane). A lane
  * that is merely slow — a large write finishing after a stop — has
  * minutes to exit.
  *
  * Plain threads, one per lane (lanes are 2-3 driver-side action chains;
  * a pool would outlive the batch and pin its inherited thread-locals).
  * Spark job submission is thread-safe and FIFO-scheduled — the later
  * lane's tasks back-fill cores as the earlier lane's stages drain
  * (guide §2.6). */
private[graft] object BatchPar {

  /** How long the join keeps waiting for lanes after the caller is
    * first interrupted, before it abandons the ones still running. */
  val WedgedLaneLimitMs: Long = 5L * 60L * 1000L

  def run(lanes: (() => Unit)*): Unit = runWithin(WedgedLaneLimitMs)(lanes: _*)

  /** [[run]] with the post-interrupt join limit given in ms. */
  private[streaming] def runWithin(limitMs: Long)(lanes: (() => Unit)*): Unit = {
    require(lanes.nonEmpty, "BatchPar.run: no lanes")
    if (lanes.lengthCompare(1) == 0) { lanes.head.apply(); return }
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = lanes.zipWithIndex.map { case (lane, i) =>
      val t = new Thread(
        () => try lane() catch {
          case e: Throwable => errors.add(e): Unit
        },
        s"graft-batch-par-$i")
      t.setDaemon(false)
      t.start()
      t
    }
    // Join every lane. On interrupt, forward it to the lanes and keep
    // waiting — until the limit after the first interrupt, past which a
    // lane still running is abandoned.
    var interrupted = false
    var deadline = Long.MaxValue
    def expired = interrupted && System.nanoTime() >= deadline
    val wedged = threads.filter { t =>
      while (t.isAlive && !expired) {
        try {
          if (!interrupted) t.join()
          else t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
        } catch {
          case _: InterruptedException =>
            if (!interrupted) {
              interrupted = true
              deadline = System.nanoTime() + limitMs * 1000000L
            }
            threads.foreach(_.interrupt())
        }
      }
      t.isAlive
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (wedged.nonEmpty) {
      val names = wedged.map(_.getName).mkString(", ")
      wedged.foreach { t =>
        System.err.println(s"[batch_par] lane ${t.getName} still running " +
          s"$limitMs ms after an interrupt; abandoned at:\n" +
          t.getStackTrace.map("  at " + _).mkString("\n"))
      }
      val e = new IllegalStateException(s"BatchPar: lanes $names ignored " +
        s"an interrupt for $limitMs ms and were abandoned still running")
      errors.forEach(e.addSuppressed(_))
      throw e
    }
    val it = errors.iterator()
    if (it.hasNext) {
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
  }
}
