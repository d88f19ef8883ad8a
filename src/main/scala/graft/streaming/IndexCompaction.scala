package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Compaction for every maintained `batch=<id>` store — the index and
  * pair logs ([[DedupStream]], [[EmbDedupStream]], [[VectorIndexStream]]),
  * the label log, the CDC merge sink ([[CdcPipeline.mergeLatest]]) and
  * the streaming MV ([[MvStream]]): rewrite accumulated `batch=<id>`
  * partition directories into ONE consolidated `batch=<id>` directory,
  * exactly-once. It is the only code that swaps or folds runs.
  *
  * Why it exists (100 TB lifecycle): the streams append one `batch=`
  * directory per micro-batch forever, so after months of ingestion the
  * FILE LISTING — not the data — becomes the probe bottleneck (every
  * partition-discovery pass walks every batch dir; small-file overhead
  * compounds in the scan). Compaction is the missing third verb of the
  * index lifecycle (create / append / compact), playing the role the
  * reference's savepoint truncation plays for CDC state
  * (sql/informixcdc.sql:7-38 — keep bounded state, not history).
  *
  * What is preserved, exactly:
  *  - the `batch=` partition scheme — readers
  *    (`spark.read.parquet(root).drop("batch")`) and the streams'
  *    replay-idempotence filter (`batch =!= batchId`,
  *    DedupStream.processBatch) keep working. The consolidated directory
  *    gets a NEGATIVE id (−1, then −2 on re-compaction, …): streaming
  *    batch ids are non-negative and keep increasing across a
  *    compaction, so a compacted id can never collide with a live one;
  *  - the INTERNAL partition scheme (`sb=<n>` for [[EmbDedupStream]],
  *    `cluster=<c>` for [[VectorIndexStream]]) — detected from the live
  *    layout and re-applied on the rewrite, so partition-pruned probes
  *    prune identically after compaction (now against one batch dir
  *    instead of N);
  *  - the `_graft_*` metadata tables beside the batch dirs (centroids,
  *    planes, PQ codebook) — underscore-hidden from discovery and not
  *    touched: a compaction never changes what any probe returns.
  *
  * Exactly-once (write-then-swap): the consolidated data is fully
  * written to an underscore-hidden staging directory first (invisible
  * to partition discovery), then a
  * MANIFEST (`_graft_compact_manifest`: consumed dir names + target id)
  * is created — the commit point — and only then do the renames run:
  * consumed dirs move into hidden backup, staging promotes to
  * `batch=<newId>`, backup and manifest are deleted. A crash anywhere
  * leaves a state [[recover]] resolves deterministically: manifest
  * present → roll the swap forward (every step is idempotent); manifest
  * absent → delete the stray staging dir, restore any backup children.
  * `compact` runs [[recover]] first, so a crashed compaction heals on
  * the next attempt. During the post-commit renames, readers briefly
  * miss the moved batches (bounded by a few directory renames): a recall
  * structure degrades softly there, a latest-per-key or aggregate read
  * (the CDC sink, the MV) answers as if the moved runs were not yet
  * written, and no read ever serves duplicate rows. Readers never
  * [[recover]]; the next write does.
  *
  * Single-writer, like the streams: compaction must not race an active
  * ingestion of the same root (run it between batches or from the
  * maintenance path that owns the index).
  */
object IndexCompaction {

  private val Manifest = "_graft_compact_manifest"
  private val Staging = "_graft_compact_tmp"
  private val Backup = "_graft_compact_backup"

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def batchDirs(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).sorted

  private def batchId(dirName: String): Long =
    dirName.stripPrefix("batch=").toLong

  /** Internal partition columns under a batch directory (e.g. `sb`,
    * `cluster`), outermost first — detected from the directory names so
    * the rewrite re-applies the exact live scheme. */
  private def internalPartitionCols(fs: FileSystem, dir: Path): Seq[String] = {
    val sub = fs.listStatus(dir).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    sub.headOption match {
      case Some(st) =>
        st.getPath.getName.split("=", 2)(0) +:
          internalPartitionCols(fs, st.getPath)
      case None => Seq.empty
    }
  }

  private def readManifest(fs: FileSystem, root: Path): Option[(Long, Seq[String])] = {
    val mp = new Path(root, Manifest)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toByteArray
      } finally in.close()
      val lines = new String(bytes, StandardCharsets.UTF_8)
        .split("\n").toSeq.filter(_.nonEmpty)
      Some((lines.head.toLong, lines.tail))
    }
  }

  /** Roll the committed swap forward. Every step is idempotent: renames
    * whose source is gone are skipped, the promote is skipped if the
    * target already exists. */
  private def rollForward(fs: FileSystem, root: Path, newId: Long,
                          consumed: Seq[String]): Unit = {
    val backup = new Path(root, Backup)
    if (!fs.exists(backup)) fs.mkdirs(backup)
    consumed.foreach { name =>
      val live = new Path(root, name)
      if (fs.exists(live))
        require(fs.rename(live, new Path(backup, name)),
          s"compaction could not retire $live")
    }
    val staging = new Path(root, Staging)
    val target = new Path(root, s"batch=$newId")
    if (fs.exists(staging) && !fs.exists(target))
      require(fs.rename(staging, target),
        s"compaction could not promote $staging")
    fs.delete(backup, true)
    fs.delete(new Path(root, Manifest), false)
  }

  /** Resolve any crashed compaction of `root`: committed swaps complete,
    * uncommitted ones abort (staging deleted, backup restored). Safe to
    * call on a healthy root (no-op). */
  def recover(spark: SparkSession, root: String): Unit = {
    val (fs, rp) = fsOf(spark, root)
    if (!fs.exists(rp)) return
    readManifest(fs, rp) match {
      case Some((newId, consumed)) => rollForward(fs, rp, newId, consumed)
      case None =>
        fs.delete(new Path(rp, Staging), true)
        val backup = new Path(rp, Backup)
        if (fs.exists(backup)) {
          fs.listStatus(backup).foreach { st =>
            val live = new Path(rp, st.getPath.getName)
            if (!fs.exists(live))
              require(fs.rename(st.getPath, live),
                s"compaction recovery could not restore ${st.getPath}")
          }
          fs.delete(backup, true)
        }
    }
  }

  /** Compact every `batch=<id>` directory under `root` into one.
    * No-op when the root has fewer than two batch directories or no
    * rows. Returns the number of directories compacted (0 on no-op).
    *
    * `flatFiles` bounds the part-file count when the layout has NO
    * internal partition scheme (the pair logs, the DedupStream signature
    * index); internally-partitioned layouts are instead repartitioned BY
    * the partition columns, which lands each `sb=`/`cluster=` directory
    * in one task → one file per live partition value. */
  /** Retention for SNAPSHOT layouts (`batch=<id>` directories read
    * max-only — the ER label snapshots, vs the UNION-read pair/posting
    * logs [[compact]] consolidates): keep the newest `keep` committed
    * snapshots, remove everything older — the fifth maintained state's
    * compaction verb, folded into the one lifecycle object so every
    * index shares it.
    *
    * Crash discipline (deletion, not consolidation, so no staging swap
    * is needed): each stale snapshot's parquet `_SUCCESS` marker is
    * deleted FIRST — the commit point, after which committed-snapshot
    * discovery (ErStream.prevSnapshot, this method) no longer sees it —
    * then the directory recursively. A crash between the two leaves an
    * uncommitted orphan that readers already ignore and the next
    * retention pass sweeps (orphans count as stale regardless of age).
    * Single-writer like [[compact]]: run quiesced, never against a
    * stream mid-batch (an in-flight snapshot write is indistinguishable
    * from an orphan). Returns the number of snapshot dirs removed. */
  def retainSnapshots(spark: SparkSession, root: String,
      keep: Int = 2): Int = {
    require(keep >= 1, s"keep must be positive, got $keep")
    val (fs, rp) = fsOf(spark, root)
    if (!fs.exists(rp)) return 0
    val all = fs.listStatus(rp).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
    val committed = all
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .sortBy(st => batchId(st.getPath.getName))
    val keepNames = committed.takeRight(keep).map(_.getPath.getName).toSet
    val stale = all.filterNot(st => keepNames(st.getPath.getName))
    stale.foreach { st =>
      fs.delete(new Path(st.getPath, "_SUCCESS"), false)
      fs.delete(st.getPath, true)
    }
    stale.size
  }

  /** The default (no-op) `transform` of [[compact]] — an `eq` sentinel,
    * so the no-op threshold can tell "pure consolidation" (pointless
    * below two directories) from a folding rewrite (worth running on a
    * single directory). */
  val IdentityTransform: org.apache.spark.sql.DataFrame =>
    org.apache.spark.sql.DataFrame = identity

  def compact(spark: SparkSession, root: String, flatFiles: Int = 4,
      keepNewest: Int = 0,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = IdentityTransform,
      runMeta: Map[String, String] = Map.empty,
      defaultBuckets: Option[Int] = None): Int = {
    require(flatFiles > 0, s"flatFiles must be positive, got $flatFiles")
    require(keepNewest >= 0, s"keepNewest must be non-negative, got $keepNewest")
    // Mis-stamp guard: a bucket-count entry in runMeta DECLARES that the
    // transform re-hashes every row to that count — an identity fold
    // carrying one would stamp runs at a count their rows were not
    // bucketed with (silent mis-pruning downstream).
    require(!(runMeta.contains(BucketMeta.File) &&
        (transform eq IdentityTransform)),
      "runMeta declares a bucket count but the transform is identity — " +
        "a re-bucketing fold must actually re-hash rows")
    recover(spark, root)
    val (fs, rp) = fsOf(spark, root)
    // Only _SUCCESS-committed partials are consumed (matching
    // retainSnapshots' committed-snapshot discipline): an uncommitted
    // dir is a crashed write whose batch will be replayed — folding its
    // partial rows would duplicate them when the replay overwrites
    // `batch=<id>`, and letting it occupy a keepNewest slot would
    // expose the newest REPLAYABLE committed partial to folding.
    // `keepNewest` then excludes the newest committed ids from
    // consumption: a stream's NEWEST batch directory may still be
    // replayed (state write done, checkpoint commit not) and a replay
    // OVERWRITES `batch=<id>` — if that id had been folded away, the
    // replay would re-create it beside the folded copy and duplicate
    // its rows. The ErStream keep-2 retention discipline, applied to a
    // union-read log.
    val dirs = committedDirs(fs, rp).dropRight(keepNewest)
    if (transform eq IdentityTransform) {
      // An identity fold must never merge runs hashed at DIFFERENT
      // bucket counts (their partition values live in different hash
      // spaces — the merged run would prune wrong): fold one run per
      // count group, each output stamped with its group's count. A
      // re-bucketing transform (the label log's) handles mixing itself.
      // `defaultBuckets` (the caller's scheme default — the frozen
      // interpretation of unstamped legacy runs) resolves legacy runs
      // into the matching stamped group, so an upgraded store still
      // converges to one run; without it, legacy and
      // stamped-at-the-same-count runs stay in separate groups and only
      // converge via a re-bucketing fold.
      bucketGroups(spark, rp, dirs, defaultBuckets).map { case (stamp, group) =>
        if (group.size < 2) 0
        else {
          val meta = stamp.fold(runMeta)(n =>
            Map(BucketMeta.File -> n) ++ runMeta)
          if (fold(spark, fs, rp, group, flatFiles, transform,
              retireEmpty = false, meta)._2 < 0) 0
          else group.size
        }
      }.sum
    } else {
      if (dirs.isEmpty) return 0
      if (fold(spark, fs, rp, dirs, flatFiles, transform,
          retireEmpty = false, runMeta)._2 < 0) return 0
      dirs.size
    }
  }

  /** Committed dirs grouped by their bucket-count stamp (None = legacy
    * unstamped — the scheme's frozen default, resolved to
    * `defaultBuckets` when the caller supplies it so legacy runs group
    * with runs stamped at that same count), insertion-ordered for
    * deterministic fold sequencing. */
  private def bucketGroups(spark: SparkSession, rp: Path,
      dirs: Seq[String], defaultBuckets: Option[Int] = None)
      : Seq[(Option[String], Seq[String])] =
    dirs.map { d =>
      readRunMeta(spark, rp.toString, d, BucketMeta.File)
        .orElse(defaultBuckets.map(_.toString)) -> d
    }.groupBy(_._1).toSeq.sortBy(_._1.getOrElse(""))
      .map { case (stamp, ds) => stamp -> ds.map(_._2) }

  /** `_SUCCESS`-committed `batch=` directory names under `root`, sorted
    * by batch id ascending (compacted negative runs first). */
  private[streaming] def committedDirs(fs: FileSystem, rp: Path): Seq[String] =
    batchDirs(fs, rp)
      .filter(d => fs.exists(new Path(new Path(rp, d), "_SUCCESS")))
      .sortBy(batchId)

  /** Fold `dirs` (a committed subset) into one new `batch=<negative>`
    * run via the write-then-swap manifest discipline. Returns
    * (new run id, data bytes written to it); bytes are −1 when the
    * subset held no rows and `retireEmpty` is false (nothing
    * consumed), 0 when `retireEmpty` consumed an all-empty subset —
    * the manifest commits with no staging dir, so [[rollForward]]
    * retires the consumed dirs and promotes nothing (a fold to zero
    * runs; every step stays idempotent and [[recover]]-compatible).
    * The new run id is one below the SMALLEST id anywhere under the
    * root — not just in the consumed subset — so a subset fold can
    * never collide with an existing compacted run it did not consume.
    * The read lists ONLY the consumed dirs (basePath partition
    * discovery), never the whole root — a subset fold's cost must not
    * grow with total run count. */
  private def fold(spark: SparkSession, fs: FileSystem, rp: Path,
      dirs: Seq[String], flatFiles: Int,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      retireEmpty: Boolean,
      runMeta: Map[String, String] = Map.empty): (Long, Long) = {
    val allIds = batchDirs(fs, rp).map(batchId)
    val newId = math.min(allIds.min, 0L) - 1L
    // Detect the internal scheme from any non-empty consumed dir — an
    // EMPTY batch partial (zero rows → no partition subdirs) must not
    // make the rewrite drop the layout.
    val parts = dirs.iterator
      .map(d => internalPartitionCols(fs, new Path(rp, d)))
      .find(_.nonEmpty).getOrElse(Seq.empty)
    // A byte-free subset short-circuits BEFORE the read: `_SUCCESS`-only
    // partials contribute no schema, and a root holding nothing else
    // would fail parquet schema inference outright.
    val bytesIn = dirs.iterator
      .map(d => dataBytes(fs, new Path(rp, d))).sum
    val stagingPath = new Path(rp, Staging)
    fs.delete(stagingPath, true)
    val rows =
      if (bytesIn == 0L) None
      else Some(transform(spark.read
        .option("basePath", rp.toString)
        .parquet(dirs.map(d => new Path(rp, d).toString): _*)
        .drop("batch"))).filterNot(_.isEmpty)
    if (rows.isEmpty && !retireEmpty) return (newId, -1L)
    rows.foreach { all =>
      val staged =
        if (parts.nonEmpty) all.repartition(parts.map(col): _*)
        else all.repartition(flatFiles)
      val writer = staged.write.mode("overwrite")
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .parquet(stagingPath.toString)
    }
    val written = rows.fold(0L)(_ => dataBytes(fs, stagingPath))
    // Per-run metadata (the `_graft_planes` convention: underscore-
    // hidden files INSIDE the run dir) is written into staging before
    // the manifest, so it promotes atomically with the run's data — a
    // run either carries its metadata or does not exist.
    if (rows.nonEmpty) runMeta.foreach { case (name, content) =>
      val mo = fs.create(new Path(stagingPath, name), true)
      try mo.write(content.getBytes(StandardCharsets.UTF_8))
      finally mo.close()
    }
    // Commit point: once the manifest exists, the swap WILL complete —
    // by the lines below or by the next recover().
    val manifest = (newId.toString +: dirs).mkString("\n")
    val out = fs.create(new Path(rp, Manifest), true)
    try out.write(manifest.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    rollForward(fs, rp, newId, dirs)
    (newId, written)
  }

  /** Recursive data-file byte count under `dir` (underscore/dot-hidden
    * entries excluded) — the run-size metric of [[compactTiered]]'s
    * tier assignment and the write-cost metric its stats report. */
  private[graft] def dataBytes(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator.map { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0L
      else if (st.isDirectory) dataBytes(fs, st.getPath)
      else st.getLen
    }.sum

  /** One invocation's [[compactTiered]] outcome: `folds` merges ran,
    * consuming `dirsConsumed` run directories in total but never more
    * than `maxFoldConsumed` (≤ the fan-in) in any single merge, writing
    * `bytesRewritten` data bytes with no single merge writing more than
    * `maxFoldBytes` — the bounded-barrier claim as a number. */
  final case class TieredStats(folds: Int, dirsConsumed: Int,
      maxFoldConsumed: Int, bytesRewritten: Long,
      maxFoldBytes: Long = 0L) {
    def +(o: TieredStats): TieredStats = TieredStats(
      folds + o.folds, dirsConsumed + o.dirsConsumed,
      math.max(maxFoldConsumed, o.maxFoldConsumed),
      bytesRewritten + o.bytesRewritten,
      math.max(maxFoldBytes, o.maxFoldBytes))
  }

  /** Size-tiered compaction — the 100-TB form of [[compact]]: merge at
    * most `fanIn` similar-sized runs at a time, so NO invocation ever
    * rewrites the whole accumulated index.
    *
    * Why it exists: [[compact]] folds EVERYTHING into one run — correct
    * and ideal for reaching a measured steady state, but at 100 TB it
    * is a corpus-sized rewrite barrier, and keeping probes flat by
    * running it every K batches charges an amortized O(index/K) write
    * per batch: the same class of hidden per-batch corpus term the r14
    * verdict's two findings named, moved into the maintenance verb.
    * Size-tiering bounds it: each row is rewritten only when its run
    * graduates a level (≈ `fanIn`× larger), so total write cost over a
    * corpus's lifetime is O(N·log_fanIn N) instead of the monolithic
    * schedule's O(N²/K) — the LSM discipline (O'Neil et al., Acta
    * Informatica 33, 1996), re-expressed on `batch=` partition dirs.
    *
    * Mechanics: committed runs (newest `keepNewest` non-negative ids
    * protected, exactly [[compact]]'s replay guard) are bucketed by
    * ⌊log_fanIn(data bytes)⌋; while any tier holds ≥ `fanIn` runs, the
    * `fanIn` smallest (oldest id on ties — deterministic) merge through
    * the same write-then-swap manifest as [[compact]], one manifest
    * cycle per merge, so a crash mid-sequence leaves at most one fold
    * for [[recover]] and the next invocation continues where it
    * stopped. Zero-row runs tier at level 0 and a fold of only-empty
    * runs retires them with no output run. Readers need nothing new:
    * every read already unions `batch=` dirs, probes prune internal
    * `bb=`/`sb=`/`mb=`/`cluster=` schemes inside EACH run (preserved
    * per fold), and run count stays ≤ fanIn·log_fanIn(index) — the
    * file-listing bound [[compact]] exists for, without its barrier.
    *
    * `maxRunBytes` is the top-tier ceiling: a run at or above it stops
    * being a merge candidate, which makes "no fold ever approaches the
    * index's size" an enforced invariant rather than an amortized
    * tendency — without it, the rare top-tier merge of `fanIn` mature
    * runs still touches most of the index at once. Note the ceiling
    * bounds fold INPUTS, not the output: a single fold can still read
    * and write up to `fanIn · maxRunBytes` (the below-ceiling inputs'
    * sum — bounding the SUM instead would deadlock level-0 merges of
    * small runs whose total tops the ceiling, leaving run count
    * unbounded), so size maxRunBytes to (maintenance window) / fanIn.
    * The cost is run count growing by one ceiling-sized run per
    * ~maxRunBytes ingested (a slow, capacity-planned file-listing
    * growth), the usual STCS max-threshold trade.
    *
    * `transform` must be ROW-LOCAL (each output row a function of one
    * input row, internal partition columns preserved): a subset fold is
    * sound exactly because union-read append logs (band stores,
    * postings, pair logs, sidecars, label deltas) mean row-set union,
    * and a row-local transform commutes with that union. [[LabelLog]]'s
    * delta log qualifies (one row per id), and its tiered form
    * ([[LabelLog.compactStateTiered]]) passes the alias-closure
    * application as exactly such a transform — the r16 step that makes
    * the alias-clearing contraction incremental (per-run fold
    * high-water metadata via `runMeta`, alias partials retired once
    * every surviving run post-dates them) instead of coupled to the
    * monolithic [[compact]]'s fold-everything barrier. The one other
    * kind of sound transform is a per-key merge that the READ applies
    * too — a max or a monoid, which commutes with the union the read
    * takes: the CDC sink's latest-per-key ([[CdcPipeline.latestPerKey]])
    * and the streaming MV's count/sum/max ([[MvStream]]).
    * `runMeta` (name → content) is stamped into every run this
    * invocation produces, atomically with the run's data.
    * Single-writer like [[compact]]. */
  def compactTiered(spark: SparkSession, root: String, fanIn: Int = 4,
      keepNewest: Int = 0, flatFiles: Int = 4,
      maxRunBytes: Long = Long.MaxValue,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = IdentityTransform,
      runMeta: Map[String, String] = Map.empty,
      defaultBuckets: Option[Int] = None): TieredStats = {
    require(fanIn >= 2, s"fanIn must be at least 2, got $fanIn")
    require(keepNewest >= 0, s"keepNewest must be non-negative, got $keepNewest")
    require(maxRunBytes > 0L, s"maxRunBytes must be positive, got $maxRunBytes")
    // Same mis-stamp guard as [[compact]]: a runMeta bucket count means
    // "the transform re-buckets every row" — never true of identity.
    require(!(runMeta.contains(BucketMeta.File) &&
        (transform eq IdentityTransform)),
      "runMeta declares a bucket count but the transform is identity — " +
        "a re-bucketing fold must actually re-hash rows")
    recover(spark, root)
    val (fs, rp) = fsOf(spark, root)
    var stats = TieredStats(0, 0, 0, 0L)
    if (!fs.exists(rp)) return stats
    // Integer tier assignment (⌊log_fanIn bytes⌋ by repeated division):
    // exact at tier boundaries (fanIn^k), where an FP log ratio could
    // bucket boundary-sized runs apart across platforms.
    def level(bytes: Long): Int = {
      var b = bytes; var lvl = 0
      while (b >= fanIn) { b /= fanIn; lvl += 1 }
      lvl
    }
    // Runs are listed and sized ONCE; each fold updates the map with
    // what it consumed/produced. Re-walking every unchanged run per
    // merge would make an invocation O(folds · runs) listings — against
    // the file-listing motivation of the verb itself. The protected set
    // is also stable: folds only consume unprotected dirs, so the
    // newest non-negative committed ids never move during the loop.
    val committed = committedDirs(fs, rp)
    val protectedIds = committed.map(batchId).filter(_ >= 0L)
      .takeRight(keepNewest).toSet
    val eligible = committed.filterNot(d => protectedIds(batchId(d)))
    var sizes: Map[String, Long] = eligible
      .map(d => d -> dataBytes(fs, new Path(rp, d))).toMap
    // Bucket-count affinity: runs hashed at different counts never
    // merge (different hash spaces — the merged run would prune wrong)
    // UNLESS the caller's transform re-buckets every row, which it
    // declares by carrying the output count in `runMeta` itself.
    val rebuckets = runMeta.contains(BucketMeta.File)
    var stamps: Map[String, Option[String]] = eligible
      .map(d => d -> readRunMeta(spark, rp.toString, d, BucketMeta.File)
        .orElse(defaultBuckets.map(_.toString)))
      .toMap
    var progress = true
    while (progress) {
      progress = false
      sizes.toSeq.filter(_._2 < maxRunBytes)
        .groupBy { case (d, sz) =>
          (if (rebuckets) None else stamps.getOrElse(d, None), level(sz))
        }
        .toSeq.sortBy { case ((st, lvl), _) => (st.getOrElse(""), lvl) }
        .find(_._2.size >= fanIn)
        .foreach { case ((stamp, _), members) =>
          val chosen = members
            .sortBy { case (d, sz) => (sz, batchId(d)) }
            .take(fanIn).map(_._1)
          val meta = stamp.filterNot(_ => rebuckets)
            .fold(runMeta)(n => Map(BucketMeta.File -> n) ++ runMeta)
          val (newId, written) = fold(spark, fs, rp, chosen, flatFiles,
            transform, retireEmpty = true, meta)
          sizes --= chosen
          stamps --= chosen
          if (written > 0L) {
            sizes += (s"batch=$newId" -> written)
            stamps += (s"batch=$newId" ->
              meta.get(BucketMeta.File).orElse(stamp))
          }
          stats += TieredStats(1, chosen.size, chosen.size,
            math.max(written, 0L), math.max(written, 0L))
          progress = true
        }
    }
    stats
  }

  /** Rewrite ONE committed run in place (same manifest write-then-swap,
    * new negative id) with a row-local `transform` applied and `runMeta`
    * stamped — the REFRESH verb: a converged tiered log's top-tier runs
    * may never merge again, so a maintenance fact that must reach every
    * run (the label log's alias-closure high-water mark) needs a path
    * that touches exactly one bounded run per invocation. Cost is that
    * single run's rewrite — never a fold of the accumulated log. No-op
    * (returns false) when `dirName` is absent or uncommitted.
    * Single-writer like [[compact]]. */
  private[streaming] def refoldRun(spark: SparkSession, root: String,
      dirName: String, flatFiles: Int = 4,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = IdentityTransform,
      runMeta: Map[String, String] = Map.empty): Boolean = {
    require(!(runMeta.contains(BucketMeta.File) &&
        (transform eq IdentityTransform)),
      "runMeta declares a bucket count but the transform is identity — " +
        "a re-bucketing refold must actually re-hash rows")
    recover(spark, root)
    val (fs, rp) = fsOf(spark, root)
    if (!fs.exists(new Path(new Path(rp, dirName), "_SUCCESS"))) return false
    fold(spark, fs, rp, Seq(dirName), flatFiles, transform,
      retireEmpty = true, runMeta)
    true
  }

  /** The content of a run's metadata file stamped by a `runMeta` fold,
    * or None when the run predates the stamping (or isn't a fold). */
  private[streaming] def readRunMeta(spark: SparkSession, root: String,
      dirName: String, metaName: String): Option[String] = {
    val (fs, rp) = fsOf(spark, root)
    val mp = new Path(new Path(rp, dirName), metaName)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        Some(new String(out.toByteArray, StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }
}
