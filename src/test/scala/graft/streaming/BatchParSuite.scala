package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** [[BatchPar]] — the r18 overlap seam under every maintenance stream's
  * foreachBatch tail. The replay/equivalence semantics of the overlapped
  * lanes are pinned by the existing stream suites (batch≡stream, chain,
  * replay, replay-across-compaction — all of which now execute the
  * parallel path); this suite pins the harness contract itself:
  * every lane runs to completion, and the first failure (and only a
  * failure) propagates to the calling thread. */
class BatchParSuite extends AnyFunSuite {

  test("all lanes run, on the calling thread's happy path") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    BatchPar.run(
      () => { ran.add(1): Unit },
      () => { ran.add(2): Unit },
      () => { ran.add(3): Unit })
    assert(ran.size == 3)
  }

  test("single lane runs inline (no thread)") {
    var thread: String = null
    BatchPar.run(() => { thread = Thread.currentThread().getName })
    assert(thread == Thread.currentThread().getName)
  }

  test("a failing lane does not stop the others; the failure rethrows") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      BatchPar.run(
        () => { gate.countDown(); throw new IllegalStateException("lane 0") },
        () => {
          // only completes if BatchPar keeps running lanes past a failure
          gate.await()
          Thread.sleep(50)
          ran.add(1): Unit
        })
    }
    assert(e.getMessage == "lane 0")
    assert(ran.contains(1), "the surviving lane must run to completion")
  }

  test("the FIRST failure wins when several lanes fail") {
    val e = intercept[RuntimeException] {
      BatchPar.run(
        () => throw new RuntimeException("a"),
        () => { Thread.sleep(100); throw new RuntimeException("b") })
    }
    assert(Set("a", "b").contains(e.getMessage))
  }

  test("later failures attach as suppressed on the first") {
    val e = intercept[RuntimeException] {
      BatchPar.run(
        () => throw new RuntimeException("a"),
        () => { Thread.sleep(50); throw new RuntimeException("b") })
    }
    val all = (e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)).toSet
    assert(all == Set("a", "b"),
      "both lane failures must be visible (first thrown, rest suppressed)")
  }

  test("an interrupt of the caller does not orphan lanes; flag restored") {
    // r19 (the r18 sbt-test shutdown crash): an interrupt delivered to
    // the thread blocked in BatchPar.run must NOT return with a lane
    // still running — the lane would keep submitting Spark jobs past
    // session/JVM shutdown. run() forwards the interrupt to the lanes,
    // keeps joining, and restores the caller's interrupt status.
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val result = new java.util.concurrent.atomic.AtomicReference[String]()
    // Uninterruptible lane bodies (a busy spin, like a lane that is
    // mid-computation rather than blocked): the forwarded interrupt must
    // not abort them, and run() must wait them out.
    def spin(ms: Long, tag: Int): Unit = {
      val end = System.nanoTime() + ms * 1000000L
      while (System.nanoTime() < end) {}
      done.add(tag): Unit
    }
    val caller = new Thread(() => {
      try {
        BatchPar.run(() => spin(300, 1), () => spin(300, 2))
        result.set(
          if (Thread.currentThread().isInterrupted) "interrupted" else "clean")
      } catch { case _: Throwable => result.set("threw") }
    }, "batch-par-interrupt-caller")
    caller.start()
    Thread.sleep(50)
    caller.interrupt()
    caller.join(5000)
    assert(!caller.isAlive, "run() must return after lanes exit")
    assert(done.size == 2, "both lanes must run to completion")
    assert(result.get() == "interrupted",
      s"caller must see the restored interrupt flag, got ${result.get()}")
    val leaked = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName.startsWith("graft-batch-par-") && t.isAlive)
    assert(leaked.isEmpty, s"leaked lane threads: ${leaked.map(_.getName).toSeq}")
  }

  test("a lane that ignores interrupts is abandoned after the join limit") {
    // A wedged lane (it swallows every interrupt) must not hold the
    // caller forever: runWithin waits `limitMs` after the first
    // interrupt, then abandons the lane and fails the batch.
    val release = new java.util.concurrent.CountDownLatch(1)
    val wedged = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val result = new java.util.concurrent.atomic.AtomicReference[String]()
    def deaf(): Unit = {
      wedged.set(Thread.currentThread())
      var done = false
      while (!done) {
        try done = release.await(10, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => }
      }
    }
    val caller = new Thread(() => {
      try {
        BatchPar.runWithin(300L)(() => (), () => deaf())
        result.set("returned")
      } catch {
        case e: IllegalStateException =>
          result.set(if (Thread.currentThread().isInterrupted)
            s"interrupted: ${e.getMessage}" else e.getMessage)
      }
    }, "batch-par-wedge-caller")
    try {
      caller.start()
      Thread.sleep(100)
      val t0 = System.nanoTime()
      caller.interrupt()
      caller.join(10000)
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(!caller.isAlive, "run() must give up on the wedged lane")
      assert(waitedMs >= 250L && waitedMs < 5000L, s"waited $waitedMs ms")
      assert(result.get().startsWith("interrupted: ") &&
        result.get().contains("graft-batch-par-1"), result.get())
      assert(wedged.get().isAlive, "the wedged lane was abandoned, not ended")
    } finally {
      release.countDown()
      Option(wedged.get()).foreach(_.join(10000))
    }
  }
}
