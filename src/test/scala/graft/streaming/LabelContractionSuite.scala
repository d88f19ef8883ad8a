package graft.streaming

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Spec for the INCREMENTAL alias contraction (r16 — removing the last
  * corpus-sized maintenance barrier, the r15 verdict's #1): the label
  * log's alias-clearing contraction no longer requires
  * [[LabelLog.compactState]]'s fold-everything barrier. Tiered delta
  * folds apply the alias closure as a row-local transform and stamp
  * each produced run with its fold high-water mark; [[LabelLog
  * .refreshState]] advances laggard runs one bounded rewrite at a
  * time; [[LabelLog.retireAliases]] deletes every alias partial all
  * surviving runs post-date. Pinned here, on the 64-batch / 63-link
  * linear-chain worst case of [[LabelLogDepthSuite]]:
  *
  *  - labels identical under (per-batch tiered closure folds +
  *    refresh + retirement) vs the monolithic compactState twin;
  *  - the alias log CLEARS (converges to the kept-newest partial)
  *    without compactState ever running, collapsing the serving
  *    closure to ≤ 1 round — while no maintenance invocation ever
  *    folds more than fanIn runs or rewrites more than one run;
  *  - crash points: a committed mid-refresh fold rolls forward on the
  *    next verb; a half-deleted (orphaned) alias partial changes no
  *    label and is swept by the next retirement;
  *  - a replay of the NEWEST batch across incremental maintenance
  *    rewrites its alias partial VERBATIM — the reason the incremental
  *    verbs contract through generation newest−1 only;
  *  - a legacy folded run without a high-water stamp conservatively
  *    blocks retirement until a refresh rewrites it.
  */
class LabelContractionSuite extends AnyFunSuite {

  private def s = TestSpark.spark

  private def fs(dir: String) = new Path(dir).getFileSystem(
    s.sparkContext.hadoopConfiguration)

  private def dirNames(dir: String): Seq[String] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted
  }

  /** One chain advance: batch 0 seeds ids 1..n as singletons; batch k
    * (1..n−1) ingests singleton 100+k and merges (n+1−k, n−k) — the
    * linear alias chain n → n−1 → … → 1, worst case for resolution. */
  private def advanceChain(root: String, n: Int, k: Int): Unit = {
    val sp = s
    import sp.implicits._
    if (k == 0)
      LabelLog.advance(sp, root, 0L, (1L to n.toLong).toDF("id"),
        Seq.empty[(Long, Long)].toDF("e1", "e2"))
    else
      LabelLog.advance(sp, root, k.toLong, Seq(100L + k).toDF("id"),
        Seq((n + 1L - k, n.toLong - k)).toDF("e1", "e2"))
  }

  private def labels(root: String): Map[Long, (Long, Long, Boolean)] =
    LabelLog.serve(s, root, "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap

  /** The chain fixture's converged labels: 1..n one component rooted at
    * 1; the per-batch singletons stay themselves. */
  private def want(n: Int): Map[Long, (Long, Long, Boolean)] =
    (1L to n.toLong).map(i => i -> ((1L, n.toLong, i == 1L))).toMap ++
      (101L until 100L + n).map(i => i -> ((i, 1L, true))).toMap

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst): Unit
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  /** The uncompacted 64-batch chain, built once per suite: the
    * monolithic twin of the 64-batch test and the crash-points base.
    * Tests work on a [[copyTree]] copy, never on this root. */
  private lazy val chain64: String = {
    val root = Files.createTempDirectory("contract_chain64").toString
    (0 until 64).foreach(advanceChain(root, 64, _))
    root
  }

  /** A private copy of [[chain64]] under a fresh directory. */
  private def chain64Copy(tag: String): String = {
    val root = Files.createTempDirectory(tag).toString + "/l"
    copyTree(chain64, root)
    root
  }

  test("64 batches: per-batch tiered closure folds + bounded refreshes " +
      "clear the alias log; labels identical to the monolithic twin") {
    val base = chain64Copy("contract_base") // twin: no maintenance until the end
    val inc = Files.createTempDirectory("contract_inc").toString

    (0 until 64).foreach { k =>
      advanceChain(inc, 64, k)
      val st = LabelLog.compactStateTiered(s, inc, fanIn = 4)
      assert(st.maxFoldConsumed <= 4,
        "a tiered maintenance fold exceeded the fan-in barrier")
    }

    // finish the incremental schedule: one bounded run-rewrite per
    // invocation until every run's high-water mark is caught up
    var refreshes = 0
    while (LabelLog.refreshState(s, inc, maxRuns = 1) > 0) {
      refreshes += 1
      assert(refreshes <= 32, "refresh did not converge")
    }
    LabelLog.retireAliases(s, inc): Unit

    // the alias log cleared WITHOUT compactState: only the kept-newest
    // partial survives, and the serving closure is ≤ 1 round
    assert(dirNames(s"$inc/alias") == Seq("batch=63"),
      s"alias log not cleared: ${dirNames(s"$inc/alias")}")
    assert(LabelLog.closureRounds(s, inc) <= 1)

    // labels-identical: incremental vs static expectation vs monolithic
    val w = want(64)
    assert(labels(inc) == w)
    assert(LabelLog.compactState(s, base) == 63)
    assert(labels(base) == w)

    // the tiered run structure stays bounded (the file-listing claim)
    assert(dirNames(s"$inc/delta").size <= 16,
      s"delta run count unbounded: ${dirNames(s"$inc/delta")}")

    // and maintenance continues over the fully-contracted state
    val sp = s
    import sp.implicits._
    LabelLog.advance(sp, inc, 64L, Seq.empty[Long].toDF("id"),
      Seq((102L, 101L)).toDF("e1", "e2"))
    val after = labels(inc)
    assert(after(102L) == ((101L, 2L, false)) &&
      after(101L) == ((101L, 2L, true)))
  }

  test("crash points: committed mid-refresh fold rolls forward; an " +
      "orphaned alias partial is a no-op and is swept") {
    val root = chain64Copy("contract_crash")
    val w = want(64)

    // hand-build the state a crash between manifest commit and swap
    // leaves mid-refresh of batch=0: staging holds batch=0's rows
    // contracted through generation 62 (aliases 1..62 map 64..3 → 2),
    // the hwm stamp beside them, and the manifest names the run
    val sp = s
    import sp.implicits._
    (1L to 64L).map(i => (i, if (i >= 3L) 2L else i))
      .map { case (id, comp) => (id, comp, (id % 16).toInt) }
      .toDF("id", "comp", "lb")
      .repartition(org.apache.spark.sql.functions.col("lb"))
      .write.partitionBy("lb").parquet(s"$root/delta/_graft_compact_tmp")
    val f = fs(root)
    val mo = f.create(new Path(s"$root/delta/_graft_compact_tmp/${LabelLog.HwmFile}"), true)
    mo.write("62".getBytes("UTF-8")); mo.close()
    val out = f.create(new Path(s"$root/delta/_graft_compact_manifest"), true)
    out.write("-1\nbatch=0".getBytes("UTF-8")); out.close()

    // the next refresh verb recovers the committed swap, then continues
    assert(LabelLog.refreshState(s, root, maxRuns = 1) == 1)
    assert(!dirNames(s"$root/delta").contains("batch=0"),
      "crashed fold did not roll forward")
    assert(labels(root) == w, "labels moved across crash recovery")

    // orphan an alias partial the way a crash mid-retirement does:
    // _SUCCESS deleted (the commit point), data still on disk — the
    // orphan's rows still reach the closure, harmlessly (its froms are
    // no surviving run's comps), and the next retirement sweeps it
    f.delete(new Path(s"$root/alias/batch=1/_SUCCESS"), false)
    assert(labels(root) == w, "an orphaned alias partial moved labels")

    var guard = 0
    while (LabelLog.refreshState(s, root, maxRuns = 4) > 0) {
      guard += 1; assert(guard <= 32, "refresh did not converge")
    }
    LabelLog.retireAliases(s, root): Unit
    assert(dirNames(s"$root/alias") == Seq("batch=63"),
      s"orphan not swept: ${dirNames(s"$root/alias")}")
    assert(labels(root) == w)
  }

  test("a replay of the newest batch across incremental maintenance " +
      "rewrites its alias partial verbatim (the newest−1 closure rule)") {
    val root = Files.createTempDirectory("contract_replay").toString
    (0 until 20).foreach { k =>
      advanceChain(root, 20, k)
      LabelLog.compactStateTiered(s, root, fanIn = 2): Unit
    }
    val w = want(20)
    assert(labels(root) == w)
    def aliasRows() = s.read.parquet(s"$root/alias/batch=19")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantAlias = aliasRows()
    assert(wantAlias == Set((2L, 1L)),
      s"fixture's newest merge should alias 2 → 1, got $wantAlias")

    // replay: the folded state was contracted only through generation
    // 18, so the replayed endpoint lookup still sees comp(2) = 2 and
    // re-derives the SAME merge — alias partial bit-identical
    advanceChain(root, 20, 19)
    assert(aliasRows() == wantAlias,
      "replay re-derived a different alias partial — the closure " +
        "reached the newest generation")
    assert(labels(root) == w, "replay moved labels")
  }

  test("compactStateSafe (the tick's monolithic barrier) keeps replay " +
      "bit-verbatim; compactState keeps only the SEMANTICS — the exact " +
      "shape of the newest−1 rule on the one-fold verb") {
    val root = Files.createTempDirectory("contract_safe").toString
    (0 until 12).foreach(advanceChain(root, 12, _))
    val w = want(12)
    val twin = Files.createTempDirectory("contract_unsafe").toString
    copyTree(root, twin)
    def aliasRows(r: String) = s.read.parquet(s"$r/alias/batch=11")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val wantAlias = aliasRows(root)
    assert(wantAlias == Set((2L, 1L))) // batch 11 merged OLD comps 2 → 1

    // the tick's barrier: one fold, closure through newest−1, aliases
    // retired to the covered prefix — a replay of batch 11 still sees
    // comp(2) = 2 and re-derives its partials BIT-VERBATIM, the
    // invariant every exactly-once spec in this suite keys on
    assert(LabelLog.compactStateSafe(s, root) > 0)
    advanceChain(root, 12, 11)
    assert(aliasRows(root) == wantAlias,
      "replay across compactStateSafe re-derived a different alias partial")
    assert(labels(root) == w, "replay across compactStateSafe moved labels")

    // contrast — what the newest-INCLUSIVE quiesce verb gives up
    // mid-stream: it pre-applies batch 11's merge to the folded base,
    // so the replay finds nothing to merge and rewrites an EMPTY alias
    // partial (verbatim contract broken) — yet the SERVED labels stay
    // equal, because a COMPLETE fold leaves no unfolded low-hwm run
    // that needed the erased alias rows (the LabelLog scaladoc's
    // complete-fold argument, here demonstrated rather than argued).
    // The tick uses Safe anyway: uniform bit-verbatim replay across
    // every between-batches verb is the invariant worth paying one
    // surviving alias partial for.
    assert(LabelLog.compactState(s, twin) > 0)
    advanceChain(twin, 12, 11)
    assert(aliasRows(twin) == Set.empty,
      "the newest-inclusive fold should erase the replayed alias partial")
    assert(labels(twin) == w,
      "complete-fold semantics must survive the replay even without " +
        "the verbatim contract")
  }

  test("merge-free batches write NO alias partial (the r18 advance " +
      "write-job diet), and the log stays fully consistent without one") {
    val root = Files.createTempDirectory("contract_mergefree").toString
    val sp = s
    import sp.implicits._
    // three batches of disjoint singletons — no merge anywhere
    (0 until 3).foreach { k =>
      LabelLog.advance(sp, root, k.toLong,
        Seq(k * 10L + 1, k * 10L + 2).toDF("id"),
        Seq.empty[(Long, Long)].toDF("e1", "e2"))
    }
    assert(dirNames(s"$root/alias").isEmpty,
      "a merge-free advance paid an alias write job")
    // serving, contraction, and retirement all tolerate the absent root
    assert(LabelLog.serve(sp, root, "id").count() == 6L)
    assert(LabelLog.compactStateSafe(sp, root) >= 0)
    assert(LabelLog.retireAliases(sp, root) == 0)
    assert(LabelLog.serve(sp, root, "id").count() == 6L)
    // a replay of the newest merge-free batch skips identically
    LabelLog.advance(sp, root, 2L, Seq(21L, 22L).toDF("id"),
      Seq.empty[(Long, Long)].toDF("e1", "e2"))
    assert(dirNames(s"$root/alias").isEmpty)
  }

  test("a legacy folded run without a high-water stamp blocks " +
      "retirement until a refresh rewrites it") {
    val root = Files.createTempDirectory("contract_legacy").toString
    (0 until 8).foreach(advanceChain(root, 8, _))
    // a pre-r16 identity fold: no closure, no hwm stamp
    IndexCompaction.compactTiered(s, s"$root/delta",
      fanIn = 2, keepNewest = 1): Unit
    assert(dirNames(s"$root/delta")
      .exists(_.stripPrefix("batch=").toLong < 0))

    // conservative: the unstamped run's hwm is unbounded-low, so
    // nothing retires (retiring on guesswork would lose alias rows the
    // un-contracted run still resolves through). 7 partials, not 8:
    // batch 0 has nothing to merge with and the r18 advance skips the
    // empty partial's write job outright.
    assert(LabelLog.retireAliases(s, root) == 0)
    assert(dirNames(s"$root/alias").size == 7)

    var guard = 0
    while (LabelLog.refreshState(s, root, maxRuns = 2) > 0) {
      guard += 1; assert(guard <= 16, "refresh did not converge")
    }
    assert(LabelLog.retireAliases(s, root) > 0)
    assert(dirNames(s"$root/alias") == Seq("batch=7"))
    assert(labels(root) == want(8))
  }
}
